"""Slippy-map (XYZ) tile math as pure pyspark Column expressions.

Semantics match the reference implementation at
/root/reference/core/src/main/java/org/osm2world/math/geo/TileNumber.java:
- atLatLon (TileNumber.java:122-126): x = floor((lon+180)/360 * 2^z),
  y = floor((1 - ln(tan(rad lat) + sec(rad lat)) / pi) / 2 * 2^z)
- tilesForBounds (TileNumber.java:129-144): inclusive x of min..max tile,
  y of max..min tile (y axis points southward)
- ancestor (TileNumber.java:108-113): right-shift of x and y
- latLonBounds (TileNumber.java:115-119, tile2lon/tile2lat :146-153)
- flippedY (TileNumber.java:88-90): TMS flip (2^z - 1 - y)
- string codec (TileNumber.java:26): "zoom[,/_]x[,/_]y"

Everything here is whole-stage-codegen-friendly Column math (no UDFs), so
Catalyst can constant-fold literals and push comparisons into scans.
Python scalar twins (py_*) exist for driver-side planning and tests.
"""

from __future__ import annotations

import math
from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

TILE_PATTERN = r"^([0-9]{1,2})[,/_]([0-9]{1,9})[,/_]([0-9]{1,9})$"

# Mercator's singularity: atan(sinh(pi)) in degrees; beyond this |lat| the
# y formula leaves [0, 2^z). Matches TileNumberTest's +-85.0511 bounds.
MERCATOR_MAX_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.05112877980659


def _lit(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def _pow2(zoom) -> Column:
    """2^zoom as a bigint Column (F.shiftleft only accepts int shift
    amounts, so Column-valued zooms go through pow; exact for zoom <= 52)."""
    return F.pow(F.lit(2.0), _lit(zoom)).cast("bigint")


# ---------------------------------------------------------------- atLatLon

def tile_x_at(lon, zoom) -> Column:
    """TileNumber.atLatLon x component (TileNumber.java:123)."""
    lon, zoom = _lit(lon), _lit(zoom)
    return F.floor((lon + 180.0) / 360.0 * _pow2(zoom)).cast("int")


def tile_y_at(lat, zoom) -> Column:
    """TileNumber.atLatLon y component (TileNumber.java:124)."""
    lat, zoom = _lit(lat), _lit(zoom)
    rad = F.radians(lat)
    return F.floor(
        (1.0 - F.log(F.tan(rad) + 1.0 / F.cos(rad)) / math.pi)
        / 2.0
        * _pow2(zoom)
    ).cast("int")


def tile_at(zoom, lat, lon) -> Column:
    """struct<zoom,x,y> at the given location (TileNumber.java:122-126)."""
    zoom = _lit(zoom)
    return F.struct(
        zoom.cast("int").alias("zoom"),
        tile_x_at(lon, zoom).alias("x"),
        tile_y_at(lat, zoom).alias("y"),
    )


# ------------------------------------------------------------ inverse math

def tile2lon(x, zoom) -> Column:
    """West edge longitude of tile column x (TileNumber.java:146-148)."""
    x, zoom = _lit(x), _lit(zoom)
    return x / F.pow(F.lit(2.0), zoom) * 360.0 - 180.0


def tile2lat(y, zoom) -> Column:
    """North edge latitude of tile row y (TileNumber.java:150-153)."""
    y, zoom = _lit(y), _lit(zoom)
    n = math.pi - (2.0 * math.pi * y) / F.pow(F.lit(2.0), zoom)
    return F.degrees(F.atan((F.exp(n) - F.exp(-n)) / 2.0))  # atan(sinh(n))


def tile_lat_lon_bounds(zoom, x, y) -> Column:
    """struct<minlat,minlon,maxlat,maxlon> (TileNumber.latLonBounds :115-119)."""
    zoom, x, y = _lit(zoom), _lit(x), _lit(y)
    return F.struct(
        tile2lat(y + 1, zoom).alias("minlat"),
        tile2lon(x, zoom).alias("minlon"),
        tile2lat(y, zoom).alias("maxlat"),
        tile2lon(x + 1, zoom).alias("maxlon"),
    )


# -------------------------------------------------------- hierarchy / TMS

def ancestor_xy(x, y, zoom_from, zoom_to) -> Column:
    """struct<zoom,x,y> of the ancestor tile (TileNumber.ancestor :108-113)."""
    x, y = _lit(x), _lit(y)
    levels = _lit(zoom_from) - _lit(zoom_to)
    return F.struct(
        _lit(zoom_to).cast("int").alias("zoom"),
        F.floor(x / _pow2(levels)).cast("int").alias("x"),
        F.floor(y / _pow2(levels)).cast("int").alias("y"),
    )


def flipped_y(zoom, y) -> Column:
    """TMS y flip (TileNumber.flippedY :88-90)."""
    return (_pow2(zoom) - 1 - _lit(y)).cast("int")


# ----------------------------------------------------------- string codec

def format_tile(zoom, x, y, sep: str = ",") -> Column:
    """TileNumber.toString(separator) (TileNumber.java:93-101)."""
    return F.concat_ws(sep, _lit(zoom).cast("string"), _lit(x).cast("string"), _lit(y).cast("string"))


def parse_tile(s) -> Column:
    """Parse "z,x,y" / "z/x/y" / "z_x_y" -> struct<zoom,x,y>; null when the
    string doesn't match or the tile is out of range (the reference raises,
    TileNumber.java:57-85; in a DataFrame engine invalid rows become null and
    are routed to lineage by callers)."""
    s = _lit(s)
    # try_cast: regexp_extract yields '' on no match, which ANSI-mode cast
    # (the Spark 4 default) would throw on; invalid rows must become null
    z = F.regexp_extract(s, TILE_PATTERN, 1).try_cast("int")
    x = F.regexp_extract(s, TILE_PATTERN, 2).try_cast("int")
    y = F.regexp_extract(s, TILE_PATTERN, 3).try_cast("int")
    valid = (
        s.rlike(TILE_PATTERN)
        & (z >= 0)
        & (x >= 0)
        & (y >= 0)
        & (x < _pow2(z))
        & (y < _pow2(z))
    )
    return F.when(valid, F.struct(z.alias("zoom"), x.alias("x"), y.alias("y")))


# ------------------------------------------------------------- packed ids

def pack_tile(zoom, x, y) -> Column:
    """Pack (zoom,x,y) into one bigint: zoom<<58 | x<<29 | y.

    29 bits per axis covers zoom <= 29; a single sortable join key avoids
    struct comparisons in the shuffle hot path."""
    zoom, x, y = _lit(zoom), _lit(x), _lit(y)
    return (
        F.shiftleft(zoom.cast("bigint"), 58)
        + F.shiftleft(x.cast("bigint"), 29)
        + y.cast("bigint")
    )  # constant shift amounts: plain F.shiftleft is fine here


def morton_key(x, y, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two tile coordinates into one
    bigint: bit b of x lands at 2b, bit b of y at 2b+1. Spatially close
    tiles get numerically close keys, so sorting stage rows by this key
    before writing clusters each parquet file into a space-filling-curve
    run — tile-range scans then touch few row groups (min/max skipping)
    instead of rows scattered across the whole file. 16 bits per axis
    covers zoom <= 16 coordinates. Constant shift amounts, so the
    expression stays in whole-stage codegen (32 unrolled terms)."""
    x, y = _lit(x).cast("bigint"), _lit(y).cast("bigint")
    one = F.lit(1).cast("bigint")
    out = None
    for b in range(bits):
        tx = F.shiftleft(F.shiftright(x, b).bitwiseAND(one), 2 * b)
        ty = F.shiftleft(F.shiftright(y, b).bitwiseAND(one), 2 * b + 1)
        out = tx + ty if out is None else out + tx + ty
    return out


def unpack_tile(packed) -> Column:
    packed = _lit(packed)
    mask = F.lit((1 << 29) - 1).cast("bigint")
    return F.struct(
        F.shiftright(packed, 58).cast("int").alias("zoom"),
        F.shiftright(packed, 29).bitwiseAND(mask).cast("int").alias("x"),
        packed.bitwiseAND(mask).cast("int").alias("y"),
    )


# ------------------------------------------------------------- tile cover

def tiles_for_bounds(zoom, minlat, minlon, maxlat, maxlon) -> Column:
    """array<struct<zoom,x,y>> of all tiles overlapping the bounds
    (TileNumber.tilesForBounds :129-144: x from min-tile..max-tile inclusive,
    y from max-corner tile..min-corner tile — north to south)."""
    zoom = _lit(zoom)
    x0 = tile_x_at(minlon, zoom)
    x1 = tile_x_at(maxlon, zoom)
    y0 = tile_y_at(maxlat, zoom)  # smaller y (north)
    y1 = tile_y_at(minlat, zoom)  # larger y (south)
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda x: F.transform(
                F.sequence(y0, y1),
                lambda y: F.struct(zoom.cast("int").alias("zoom"), x.cast("int").alias("x"), y.cast("int").alias("y")),
            ),
        )
    )


# --------------------------------------------------- TileBounds.around

TILE_BOUNDS_SHRINK_DEG = 1e-5  # TileBounds.java:63-65


def tiles_around_bounds(zoom, minlat, minlon, maxlat, maxlon) -> Column:
    """tilesForBounds after shrinking the bbox by 1e-5 deg on every side,
    so a bbox that exactly equals tile edges doesn't pick up neighbor tiles
    (TileBounds.around, TileBounds.java:38-70; same shrink in
    TilesetCommand.java:115-117)."""
    return tiles_for_bounds(
        zoom,
        _lit(minlat) + TILE_BOUNDS_SHRINK_DEG,
        _lit(minlon) + TILE_BOUNDS_SHRINK_DEG,
        _lit(maxlat) - TILE_BOUNDS_SHRINK_DEG,
        _lit(maxlon) - TILE_BOUNDS_SHRINK_DEG,
    )


# ===================================================== python scalar twins

def py_tile_at(zoom: int, lat: float, lon: float) -> tuple[int, int]:
    """Scalar twin of tile_at for driver-side planning and tests."""
    x = math.floor((lon + 180.0) / 360.0 * (1 << zoom))
    y = math.floor(
        (1.0 - math.log(math.tan(math.radians(lat)) + 1.0 / math.cos(math.radians(lat))) / math.pi)
        / 2.0
        * (1 << zoom)
    )
    return int(x), int(y)


def py_tile2lon(x: int, zoom: int) -> float:
    return x / (2.0 ** zoom) * 360.0 - 180.0


def py_tile2lat(y: int, zoom: int) -> float:
    n = math.pi - (2.0 * math.pi * y) / (2.0 ** zoom)
    return math.degrees(math.atan(math.sinh(n)))


def py_tile_bounds(zoom: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(minlat, minlon, maxlat, maxlon)"""
    return (py_tile2lat(y + 1, zoom), py_tile2lon(x, zoom), py_tile2lat(y, zoom), py_tile2lon(x + 1, zoom))


def py_tiles_for_bounds(zoom: int, minlat: float, minlon: float, maxlat: float, maxlon: float) -> list[tuple[int, int]]:
    x0, y1 = py_tile_at(zoom, minlat, minlon)
    x1, y0 = py_tile_at(zoom, maxlat, maxlon)
    return [(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


def py_pack_tile(zoom: int, x: int, y: int) -> int:
    """Scalar twin of pack_tile."""
    return (zoom << 58) + (x << 29) + y


def py_unpack_tile(packed: int) -> tuple[int, int, int]:
    """Scalar twin of unpack_tile: (zoom, x, y)."""
    mask = (1 << 29) - 1
    return packed >> 58, (packed >> 29) & mask, packed & mask


def py_validate_tile(zoom: int, x: int, y: int) -> None:
    """Raises ValueError for invalid tile numbers (TileNumber.java:75-85)."""
    if zoom < 0:
        raise ValueError(f"illegal tile number, zoom must not be negative: {zoom},{x},{y}")
    if x < 0 or y < 0:
        raise ValueError(f"illegal tile number, x and y must not be negative: {zoom},{x},{y}")
    if x >= (1 << zoom):
        raise ValueError(f"illegal tile number, x too large: {zoom},{x},{y}")
    if y >= (1 << zoom):
        raise ValueError(f"illegal tile number, y too large: {zoom},{x},{y}")


def py_tiles_around(tiles: Iterable[tuple[int, int, int]], zoom: int) -> set[tuple[int, int]]:
    """TileBounds.around(tiles, zoom) (TileBounds.java:38-70): union of the
    tiles' latLonBounds, shrunk by 1e-5 deg, re-enumerated at `zoom`."""
    bs = [py_tile_bounds(z, x, y) for (z, x, y) in tiles]
    minlat = min(b[0] for b in bs) + TILE_BOUNDS_SHRINK_DEG
    minlon = min(b[1] for b in bs) + TILE_BOUNDS_SHRINK_DEG
    maxlat = max(b[2] for b in bs) - TILE_BOUNDS_SHRINK_DEG
    maxlon = max(b[3] for b in bs) - TILE_BOUNDS_SHRINK_DEG
    return set(py_tiles_for_bounds(zoom, minlat, minlon, maxlat, maxlon))
