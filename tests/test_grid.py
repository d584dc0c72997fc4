"""The shared grid cell key (functions/grid.py): the Column builders and
their numpy twin agree bit for bit, rings have the right size, and bbox
covers follow IndexGrid insert semantics on cell lines."""

import numpy as np
from pyspark.sql import functions as F

from osm2world_spark.functions import grid

CS = 150.0
EDGE = (1 << 20) - 1  # largest |cell index| the key packs exactly


def _unpack(key: int) -> tuple[int, int]:
    mask = (1 << grid.AXIS_BITS) - 1
    return (key >> grid.AXIS_BITS) - grid.OFFSET, (key & mask) - grid.OFFSET


def test_column_and_numpy_keys_agree(spark):
    coords = [
        0.0, -0.0, 1e-12, -1e-12, -75.3, 75.3,
        CS, -CS, 2 * CS, -2 * CS, CS - 1e-9, -CS - 1e-9,
        EDGE * CS, EDGE * CS + CS / 2, -EDGE * CS, -EDGE * CS + 1e-3,
    ]
    pts = [(x, z) for x in coords for z in coords]
    df = spark.createDataFrame(pts, "x double, z double")
    got = df.select("x", "z", grid.point_key(F.col("x"), F.col("z"), CS).alias("k")).collect()
    xs = np.array([r.x for r in got])
    zs = np.array([r.z for r in got])
    col_keys = np.array([r.k for r in got], dtype=np.int64)
    np.testing.assert_array_equal(col_keys, grid.point_key_np(xs, zs, CS))

    cells = {(x, z): _unpack(int(k)) for x, z, k in zip(xs.tolist(), zs.tolist(), col_keys.tolist())}
    # a point on a cell line belongs to the cell above it; -0.0 is cell 0
    assert cells[(-0.0, CS)] == (0, 1)
    assert cells[(-CS, 2 * CS)] == (-1, 2)
    assert cells[(-CS - 1e-9, CS - 1e-9)] == (-2, 0)
    assert cells[(EDGE * CS + CS / 2, -EDGE * CS)] == (EDGE, -EDGE)
    assert len(set(col_keys.tolist())) == len(set(cells.values()))


def test_ring_has_distinct_square_block(spark):
    centres = [(-3, 7), (0, 0), (EDGE - 3, -(EDGE - 3))]
    df = spark.createDataFrame(
        [((cx + 0.5) * CS, (cz + 0.5) * CS) for cx, cz in centres], "x double, z double"
    )
    for r in range(4):
        rows = df.select(grid.ring_cells(F.col("x"), F.col("z"), CS, r).alias("ring")).collect()
        for (cx, cz), row in zip(centres, rows):
            ring = row.ring
            assert len(ring) == len(set(ring)) == (2 * r + 1) ** 2
            dx, dz = np.meshgrid(np.arange(-r, r + 1), np.arange(-r, r + 1))
            want = grid.point_key_np((cx + dx + 0.5) * CS, (cz + dz + 0.5) * CS, CS)
            assert set(ring) == set(want.ravel().tolist())


def test_bbox_on_cell_lines_covers_both_sides(spark):
    boxes = [
        (CS, -2 * CS, 2 * CS, -CS),      # every edge on a cell line
        (2 * CS, -CS, 3 * CS, 0.0),      # meets the first at corner (2CS, -CS)
        (-0.0, -0.0, 0.0, 0.0),          # degenerate, on the origin lines
    ]
    df = spark.createDataFrame(boxes, "minx double, minz double, maxx double, maxz double")
    covers = [
        {_unpack(k) for k in r.cells}
        for r in df.select(
            grid.bbox_cells(F.col("minx"), F.col("minz"), F.col("maxx"), F.col("maxz"), CS).alias("cells")
        ).collect()
    ]
    # max edges on x = 2CS and z = -CS reach the cells on both sides
    assert covers[0] == {(1, -2), (1, -1), (2, -2), (2, -1)}
    assert covers[1] == {(2, -1), (2, 0), (3, -1), (3, 0)}
    assert covers[2] == {(0, 0)}
    # bboxes meeting on a line share the cell owning their intersection's
    # lower corner (the self-join's reference-point rule)
    owner = _unpack(int(grid.point_key_np(np.array([2 * CS]), np.array([-CS]), CS)[0]))
    assert owner in covers[0] & covers[1]
