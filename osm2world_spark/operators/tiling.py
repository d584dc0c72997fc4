"""Tile/cell assignment: elements -> (element x overlapped cell) rows.

The engine's analogue of the reference's tile enumeration
(TilesetCommand.java:99-121 enumerates z15 tiles per bbox;
TileNumber.tilesForBounds computes a geometry's tile cover) combined with
the spatial-hash insert of IndexGrid.insert (IndexGrid.java:154-178: an
element goes to *every* grid cell its bbox overlaps).

Spark shape: pure Column math computes the packed tile range per element,
`explode` fans out one row per overlapped tile — no UDF. The exploded tile
key is the engine's shuffle/partition key; Iceberg/parquet writes partition
by it, scans prune on it (the S2/MbtilesReader partition-pruned-scan
analogue, SURVEY.md 2.1-S2).

S2/hex cell keys ride along via one vectorized pandas UDF pass (numpy
encoders from functions/cells.py) for the point-like center; cover at cell
granularity uses the z14 tile cover (cells and z14 tiles are the same
~100-600 m scale).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions import tiles as T

GOLDEN_ZOOM = 12
CELL_ZOOM = 14


@F.pandas_udf(LongType())
def _s2_13_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    from osm2world_spark.functions.cells import s2_cell_id

    return pd.Series(s2_cell_id(lat.values, lon.values, 13))


@F.pandas_udf(LongType())
def _hex_9_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    from osm2world_spark.functions.cells import hex_cell_id

    return pd.Series(hex_cell_id(lat.values, lon.values, 9))


def assign_tiles(elements: DataFrame, zooms: tuple[int, ...] = (GOLDEN_ZOOM, CELL_ZOOM), with_cells: bool = True) -> DataFrame:
    """elements -> one row per (element, zoom, overlapped tile).

    Points produce exactly their containing tile (TileNumber.atLatLon);
    ways/areas produce their bbox cover (TileNumber.tilesForBounds). Output:
    (doc_id, span_idx, element_type, zoom, tile_x, tile_y [, h3_r9, s2_l13]).

    h3_r9/s2_l13 are computed from the element's bbox center — the
    representative-point cell id used for cell-keyed joins and stats.
    """
    covers = [
        T.tiles_for_bounds(z, F.col("minlat"), F.col("minlon"), F.col("maxlat"), F.col("maxlon"))
        for z in zooms
    ]
    cover = covers[0]
    for c in covers[1:]:
        cover = F.concat(cover, c)

    # cell ids depend only on the element's bbox center, so compute the
    # pandas-UDF encoders BEFORE the tile explode: one UDF row per element
    # instead of one per (element x overlapped tile x zoom) — ~2-3x fewer
    # Arrow rows through the Python workers on a multi-zoom cover
    pre = elements.select(
        "doc_id",
        "span_idx",
        "element_type",
        "minlat", "minlon", "maxlat", "maxlon",
        ((F.col("minlat") + F.col("maxlat")) / 2).alias("_clat"),
        ((F.col("minlon") + F.col("maxlon")) / 2).alias("_clon"),
    )
    cell_cols = []
    if with_cells:
        pre = pre.withColumn("h3_r9", _hex_9_udf(F.col("_clat"), F.col("_clon"))).withColumn(
            "s2_l13", _s2_13_udf(F.col("_clat"), F.col("_clon"))
        )
        cell_cols = ["h3_r9", "s2_l13"]
    out = pre.select(
        "doc_id",
        "span_idx",
        "element_type",
        *cell_cols,
        F.explode(cover).alias("t"),
    )
    return out.select(
        "doc_id",
        "span_idx",
        "element_type",
        F.col("t.zoom").alias("zoom"),
        F.col("t.x").alias("tile_x"),
        F.col("t.y").alias("tile_y"),
        *cell_cols,
    )
