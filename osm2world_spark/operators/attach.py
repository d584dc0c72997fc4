"""Nearest-surface attachment join (as-of-style top-1-by-distance join).

Reference: O2WConverterImpl.attachConnectors (/root/reference/core/src/main/
java/org/osm2world/O2WConverterImpl.java:243-299):
- an IndexGrid over padded bounds (bounds.pad(50), 100x100 cells, :247-248)
  holds candidate surfaces; each connector probes by its padded point bbox
  (:266-267)
- candidates are filtered by surface-type compatibility (:269-272)
- the "roof" tie-break rule (:276-282): among candidates, find the minimum
  horizontal (XZ) distance, keep every candidate within a 0.1 tolerance
  band of that minimum, and attach to the one with the MAXIMUM height (Y)
  — i.e. argmin-then-argmax with a tolerance band
- otherwise (:283-287): plain minimum 3D distance.

Spark shape: pack surfaces into grid cells, explode each connector over a
3x3 cell neighborhood (cell size >= search radius, so the neighborhood is
a superset of the radius ball), hash-join on the packed cell key, filter
to the radius, then resolve top-1 per connector with window functions —
`row_number() == 1` over the policy ordering. Ties beyond the policy are
broken by surface id for determinism under any partitioning.

This is the engine's as-of-join analogue: top-1 by a measure with a
policy tie-break, resolved entirely by built-in window operators (no
Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import grid

PAD = 50.0           # O2WConverterImpl.java:247 (bounds.pad(50))
ROOF_TOL = 0.1       # O2WConverterImpl.java:276-282 tolerance band


def nearest_attach(
    connectors: DataFrame,
    surfaces: DataFrame,
    radius: float = PAD,
    roof: bool = False,
    tol: float = ROOF_TOL,
) -> DataFrame:
    """connectors (c_id, x, y, z) x surfaces (s_id, x, y, z) ->
    (c_id, s_id, dist_xz, dist_3d): each connector attached to its top-1
    surface within `radius` (XZ), by the reference's policy:

    - roof=True: min XZ distance, then max Y within `tol` of that minimum
      (O2WConverterImpl.java:276-282)
    - roof=False: min 3D distance (:283-287)

    Connectors with no surface in range are absent from the output (the
    reference leaves them unattached).
    """
    cell = radius  # cell size == radius => 3x3 neighborhood covers the ball
    s = surfaces.select(
        F.col("s_id"),
        F.col("x").alias("s_x"),
        F.col("y").alias("s_y"),
        F.col("z").alias("s_z"),
    )
    s = s.withColumn("cell", grid.point_key(F.col("s_x"), F.col("s_z"), cell))
    c = connectors.select("c_id", "x", "y", "z").withColumn(
        "cell", F.explode(grid.ring_cells(F.col("x"), F.col("z"), cell, 1))
    )
    j = c.join(s, "cell")
    dist_xz = F.sqrt((F.col("s_x") - F.col("x")) ** 2 + (F.col("s_z") - F.col("z")) ** 2)
    dist_3d = F.sqrt(
        (F.col("s_x") - F.col("x")) ** 2
        + (F.col("s_y") - F.col("y")) ** 2
        + (F.col("s_z") - F.col("z")) ** 2
    )
    j = (
        j.withColumn("dist_xz", dist_xz)
        .withColumn("dist_3d", dist_3d)
        .where(F.col("dist_xz") <= radius)
    )
    if roof:
        wmin = Window.partitionBy("c_id")
        j = j.withColumn("min_xz", F.min("dist_xz").over(wmin)).where(
            F.col("dist_xz") <= F.col("min_xz") + tol
        )
        order = [F.col("s_y").desc(), F.col("s_id").asc()]
    else:
        order = [F.col("dist_3d").asc(), F.col("s_id").asc()]
    w = Window.partitionBy("c_id").orderBy(*order)
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_id", "s_id", "dist_xz", "dist_3d")
    )
