"""Tile math pinned to the reference's own test vectors.

Vectors from /root/reference/core-jvm/src/test/java/org/osm2world/math/geo/
TileNumberTest.java and TileBoundsTest.java (see FIXTURES.md §2).
"""

import math

import pytest

from osm2world_spark.functions.tiles import (
    MERCATOR_MAX_LAT,
    py_tile_at,
    py_tile_bounds,
    py_tiles_around,
    py_tiles_for_bounds,
    py_validate_tile,
)


def test_at_lat_lon_golden():
    # TileNumberTest.java:96-98
    assert py_tile_at(13, 48.56687, 13.45127) == (4402, 2828)


def test_ancestor_golden():
    # TileNumberTest.java:72-73 — z15 (17608,11312) -> z13 (4402,2828)
    x, y = 17608, 11312
    levels = 15 - 13
    assert (x >> levels, y >> levels) == (4402, 2828)


def test_tiles_for_bounds_golden():
    # TileNumberTest.java:101-110
    tiles = set(py_tiles_for_bounds(13, 48.56687, 13.41368, 48.57982, 13.45127))
    assert tiles == {(4401, 2827), (4401, 2828), (4402, 2827), (4402, 2828)}


def test_z0_bounds():
    # TileNumberTest.java:78-84
    minlat, minlon, maxlat, maxlon = py_tile_bounds(0, 0, 0)
    assert minlon == pytest.approx(-180.0)
    assert maxlon == pytest.approx(180.0)
    assert minlat == pytest.approx(-85.0511, abs=1e-4)
    assert maxlat == pytest.approx(85.0511, abs=1e-4)
    assert MERCATOR_MAX_LAT == pytest.approx(85.05112877980659)


def test_z2_bounds():
    # TileNumberTest.java:87-93 — z2 (3,3): lon 90..180, lat -85.0511..-66.5132
    minlat, minlon, maxlat, maxlon = py_tile_bounds(2, 3, 3)
    assert minlon == pytest.approx(90.0)
    assert maxlon == pytest.approx(180.0)
    assert minlat == pytest.approx(-85.0511, abs=1e-4)
    assert maxlat == pytest.approx(-66.5132, abs=1e-4)


def test_flipped_y():
    # TileNumberTest.java:16-22 — flippedY of z2 (0,3) is 0
    zoom, y = 2, 3
    assert (1 << zoom) - 1 - y == 0


@pytest.mark.parametrize(
    "zoom,x,y",
    [(-1, 0, 0), (2, -1, 0), (2, 0, -1), (2, 4, 0), (2, 0, 4)],
)
def test_validate_invalid(zoom, x, y):
    # TileNumberTest.java:44-62
    with pytest.raises(ValueError):
        py_validate_tile(zoom, x, y)


def test_tile_roundtrip():
    for zoom in (5, 12, 14):
        for lat, lon in [(48.56687, 13.45127), (-33.9, 151.2), (0.0001, 0.0001)]:
            x, y = py_tile_at(zoom, lat, lon)
            minlat, minlon, maxlat, maxlon = py_tile_bounds(zoom, x, y)
            assert minlat <= lat <= maxlat
            assert minlon <= lon <= maxlon


def test_tile_bounds_around():
    # TileBoundsTest.java:13-26 (testAround, all three assertions)
    r1 = py_tiles_around([(13, 100, 100)], 13)
    assert r1 == {(100, 100)}
    r2 = py_tiles_around([(1, 0, 0), (2, 2, 2)], 2)
    assert len(r2) == 9
    assert (0, 0) in r2 and (2, 2) in r2
    r3 = py_tiles_around([(1, 0, 0), (2, 1, 1)], 1)
    assert r3 == {(0, 0)}


def test_packed_tile_twins_match_columns(spark):
    """py_pack_tile / py_unpack_tile agree with the Column pack_tile /
    unpack_tile the stages write, at the edges of the 29-bit fields."""
    from pyspark.sql import functions as F

    from osm2world_spark.functions.tiles import pack_tile, py_pack_tile, py_unpack_tile, unpack_tile

    zxy = [(0, 0, 0), (12, 2200, 1414), (12, 4095, 0), (29, (1 << 29) - 1, (1 << 29) - 1)]
    df = spark.createDataFrame(zxy, "zoom int, x int, y int")
    packed = df.select(pack_tile(F.col("zoom"), F.col("x"), F.col("y")).alias("p"))
    got = packed.select("p", unpack_tile(F.col("p")).alias("t")).collect()
    assert [r.p for r in got] == [py_pack_tile(*t) for t in zxy]
    assert [tuple(r.t) for r in got] == [py_unpack_tile(r.p) for r in got] == zxy
