"""The uniform grid's cell key, shared by every cell-keyed join.

The self-join, the kNN and IDW joins, the nearest-surface attachment and
the grid-partitioned natural-neighbour interpolation all rest on the
reference's IndexGrid (IndexGrid.java:154-178): an element goes into every
cell its bbox touches, and a probe looks at a square block of cells around
its own. Cells are squares of side `cell_size` in the metric x/z frame;
cell (cx, cz) holds the points with floor(x / cell_size) == cx and
floor(z / cell_size) == cz, so a point on a cell line belongs to the cell
above it.

The key packs (cx, cz) into one bigint, ((cx + 2^20) << 21) + (cz + 2^20):
21 bits per axis, exact for |cx|, |cz| <= 2^20 - 1, 42 bits in all. The
Column builders run in the JVM; `point_key_np` is their numpy twin for
kernels that recompute a key the JVM assigned, and agrees with it bit for
bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

OFFSET = 1 << 20  # per-axis bias: cell indices in [-2^20 + 1, 2^20 - 1]
AXIS_BITS = 21    # bits per axis; a key uses 2 * AXIS_BITS = 42 bits


def _cell_index(v, cell_size: float) -> Column:
    """Grid index along one axis: floor(v / cell_size) as a bigint."""
    return F.floor(v / cell_size).cast("bigint")


def _pack(cx, cz) -> Column:
    """Packed key of cell (cx, cz), both bigint Columns."""
    return F.shiftleft(cx + OFFSET, AXIS_BITS) + (cz + OFFSET)


def point_key(x, z, cell_size: float) -> Column:
    """Key of the cell holding point (x, z)."""
    return _pack(_cell_index(x, cell_size), _cell_index(z, cell_size))


def bbox_cells(minx, minz, maxx, maxz, cell_size: float) -> Column:
    """array<bigint> of every cell a bbox touches, edges included
    (IndexGrid insert semantics, IndexGrid.java:154-178). A max edge lying
    on a cell line also covers the cell beyond it, so two bboxes that meet
    exactly on a line share a cell."""
    cx0, cx1 = _cell_index(minx, cell_size), _cell_index(maxx, cell_size)
    cz0, cz1 = _cell_index(minz, cell_size), _cell_index(maxz, cell_size)
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(F.sequence(cz0, cz1), lambda cz: _pack(cx, cz)),
        )
    )


def ring_cells(x, z, cell_size: float, r: int) -> Column:
    """array<bigint> of the (2r+1)^2 cells within Chebyshev distance r of
    the cell holding (x, z): the reference's square ring walk
    (LeastSquaresInterpolator.java:168-199) and its 3x3 probe at r = 1."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dz).alias("dz"))
            for dx in range(-r, r + 1)
            for dz in range(-r, r + 1)
        ]
    )
    cx, cz = _cell_index(x, cell_size), _cell_index(z, cell_size)
    return F.transform(
        offs, lambda o: _pack(cx + o["dx"].cast("bigint"), cz + o["dz"].cast("bigint"))
    )


def point_key_np(x: np.ndarray, z: np.ndarray, cell_size: float) -> np.ndarray:
    """numpy twin of `point_key`: int64 keys of the cells holding (x, z)."""
    cx = np.floor(x / cell_size).astype(np.int64)
    cz = np.floor(z / cell_size).astype(np.int64)
    return ((cx + OFFSET) << AXIS_BITS) + (cz + OFFSET)
