"""Tile-by-tile conversion pipeline with commit-manifest resume + lineage.

Reference (/root/reference/desktop/src/main/java/org/osm2world/console/
commands/TilesetCommand.java):
- the world is processed as independent tile jobs (:99-137)
- skip-existing resume: already-written tiles are filtered out before work
  starts (filterTileNumbers :140-156, OverwriteMode NEVER/OLDER/ALWAYS
  :39-41, fileIsMissingOrOverwritable :248-259)
- per-tile failure is contained, not fatal (:222-224); errors are routed to
  a structured conversion log (conversion/ConversionLog.java:18-97)
- per-run perf stats are written as JSON (O2WConverterImpl.java:421-494)

Spark shape:
- stage outputs are parquet directories partitioned by the golden z12 tile
  (tile_z12 = packed bigint), written with DYNAMIC PARTITION OVERWRITE so a
  re-run of a tile is idempotent (recompute overwrites, never duplicates)
- the `_commits` manifest (one parquet dir) records (stage, tile_z12) for
  every tile a stage processed, empty or not, once its data is durably
  written; on restart, each stage reads it once and drops its committed
  tiles before any work happens (with none left, it does nothing) — the
  reference's skip-existing semantics, but transactional: data first, then
  commit, so a kill between the two only ever causes recompute, never loss
  or duplication
- `_lineage` records (stage, tile_z12, rows_out, errors, wall_ms, run_ts)
  for each tile that got rows in a stage run, counted from this run's
  write, plus parse-error quarantine counts (FaultTolerantIterationUtil
  analogue: bad rows become lineage, not job aborts)

At cluster scale the stage writes are Iceberg tables with identity
partitioning on tile_z12; parquet directories stand in here with the same
layout and pruning behavior.
"""

from __future__ import annotations

import os
import time
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tiles as T
from ..functions.projection import Origin
from ..operators.spatial_join import spatial_self_join
from ..operators.tiling import assign_tiles
from ..sources.documents import DEFAULT_ORIGIN, extract_elements

GOLDEN_ZOOM = 12

# TilesetCommand.java:185-190 — defaults applied when absent from config
DEFAULT_TILE_CONFIG = {"keepOsmElements": "false", "clipToBounds": "true"}


def partition_spec() -> dict:
    """The cluster-scale partition spec for stage tables (SURVEY S2/S3),
    stated executably rather than as prose:

    - identity(tile_z12): the golden-tile key. Every per-tile read (resume
      anti-join, neighborhood restriction, a user's bbox query mapped to
      tiles) prunes to the matching partitions — the reference's
      tile-directory layout (TilesetCommand.java:99-137) as metadata
      pruning instead of a filesystem walk.
    - bucket(64, doc_id): spreads each tile's documents over 64 files so a
      dense urban tile parallelizes across executors and small-file count
      stays bounded on sparse tiles.

    The parquet stand-in used in this sandbox implements the identity
    dimension via partitionBy(tile_z12) (same pruning behavior, asserted
    in tests/test_plan_shape.py); the bucket dimension needs a table
    catalog (Iceberg `bucket(64, doc_id)` / Spark bucketBy) and is carried
    here as the declared spec for the cluster deployment."""
    return {
        "fields": [
            {"transform": "identity", "column": "tile_z12"},
            {"transform": "bucket[64]", "column": "doc_id"},
        ]
    }


def write_bucketed_stage(
    df: DataFrame, table: str, path: str, n_buckets: int = 64
) -> None:
    """Materialize a stage under the FULL partition_spec() — both
    dimensions exercised, not just declared: identity(tile_z12) via
    partitionBy and bucket(n, doc_id) via Spark bucketBy on an external
    parquet table (the catalog records the bucketing, the files live at
    `path`). On the cluster this is the Iceberg CREATE TABLE ...
    PARTITIONED BY (tile_z12, bucket(64, doc_id)); the Spark-bucketed
    parquet stand-in has the same read-side behavior:

    - a tile predicate prunes partitions (PartitionFilters in the scan),
    - a doc_id equality prunes buckets (SelectedBucketsCount n_selected
      out of n_buckets in the scan — 1/64th of the tile's files read),
    - a join or aggregation keyed on doc_id reuses the bucketing as a
      pre-existing hash distribution (no exchange on the stage side).

    sortBy(doc_id) additionally makes each bucket file range-readable,
    the stand-in for Iceberg's metadata min/max skipping on doc_id.
    """
    (
        df.write.format("parquet")
        .partitionBy("tile_z12")
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_stage_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog-backed read of a bucketed stage: going through the table
    (not the bare parquet path) is what lets the optimizer see the bucket
    spec for pruning and exchange elision."""
    return spark.table(table)


def _tile_z12_col():
    return T.pack_tile(
        F.lit(GOLDEN_ZOOM),
        T.tile_x_at((F.col("minlon") + F.col("maxlon")) / 2, GOLDEN_ZOOM),
        T.tile_y_at((F.col("minlat") + F.col("maxlat")) / 2, GOLDEN_ZOOM),
    )


def _neighborhood(tiles) -> set[int]:
    """The z12 tiles of the 3x3 block around each packed tile of `tiles`."""
    out = set()
    for t in tiles:
        zoom, x, y = T.py_unpack_tile(t)
        out.update(T.py_pack_tile(zoom, x + dx, y + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return out


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet directory at `path`, or None while nothing is written
    there: the directory is missing, or holds no data file yet (a first
    write killed before its committer published any). Every other read
    error propagates."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def _manifest_rows(spark: SparkSession, columns: dict) -> DataFrame:
    """Driver-side manifest rows as a one-partition DataFrame (one file per
    append). Built from pandas, it is a LocalRelation: no Python worker
    runs to evaluate it."""
    import pandas as pd

    types = {"stage": "string", "tile_z12": "bigint", "rows_out": "bigint"}
    schema = ", ".join(f"{c} {types[c]}" for c in columns)
    return spark.createDataFrame(pd.DataFrame(columns), schema).coalesce(1)


class TilePipeline:
    """Resumable docs -> {tile_assignments, overlaps} pipeline.

    Two commit scopes:
    - batch (scoped=False, default): commits are global per (stage, tile) —
      re-running the SAME input skips committed tiles (the reference's
      skip-existing resume; same data replayed, so skipping loses nothing).
    - streaming (scoped=True): commits are per (stage, tile, run_ts) and
      stage output is partitioned by (tile_z12, run_ts). Later micro-batches
      carry NEW data for old tiles, so a tile committed by batch 1 must NOT
      be skipped in batch 2 — only a REPLAY of the same batch (same
      run_ts = batch id) is skipped. Dynamic partition overwrite then only
      touches this batch's (tile, run_ts) partitions, so replay is
      idempotent and prior batches' rows are never overwritten.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        origin: Origin = DEFAULT_ORIGIN,
        scoped: bool = False,
        base_config: dict | None = None,
        tile_metadata: DataFrame | None = None,
    ):
        """`base_config` + per-tile `tile_metadata` reproduce the
        reference's per-tile config assembly (TilesetCommand.java:171-190:
        per-tile metadata merged over the base config, then defaults):
        tile_metadata is a DataFrame (tile_z12, land boolean); land=false
        flags the tile isAtSea (MetadataOptions.java:48-50), which skips
        element-overlap work for that tile (its content is open water)."""
        self.spark = spark
        self.out_dir = out_dir
        self.origin = origin
        self.scoped = scoped
        self.base_config = {**DEFAULT_TILE_CONFIG, **(base_config or {})}
        self.tile_metadata = tile_metadata
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def tile_config(self, tiles: DataFrame) -> DataFrame:
        """Effective per-tile config: (tile_z12, config map<string,string>).
        Base config (with TilesetCommand defaults) plus the isAtSea
        override where metadata says land=false."""
        keys = sorted(self.base_config)
        base = F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]),
            F.array(*[F.lit(str(self.base_config[k])) for k in keys]),
        )
        out = tiles.select("tile_z12").distinct().withColumn("config", base)
        if self.tile_metadata is not None:
            md = self.tile_metadata.select(
                "tile_z12", (F.col("land") == False).alias("is_at_sea")  # noqa: E712
            )
            out = (
                out.join(md, "tile_z12", "left")
                .withColumn(
                    "config",
                    F.when(
                        F.coalesce(F.col("is_at_sea"), F.lit(False)),
                        F.map_concat(
                            F.col("config"),
                            F.create_map(F.lit("isAtSea"), F.lit("true")),
                        ),
                    ).otherwise(F.col("config")),
                )
                .drop("is_at_sea")
            )
        return out

    # ---------------------------------------------------------- manifest

    def _commits_path(self) -> str:
        return os.path.join(self.out_dir, "_commits")

    def committed_tiles(self, stage: str, run_ts: str | None = None) -> set[int]:
        """tile_z12 values already committed for `stage` (none before the
        manifest exists). In scoped (streaming) mode only commits from the
        SAME run_ts count: a replayed micro-batch is skipped, a new one is
        not."""
        c = _read_if_exists(self.spark, self._commits_path())
        if c is None:
            return set()
        c = c.where(F.col("stage") == stage)
        if self.scoped and run_ts is not None:
            c = c.where(F.col("ts") == run_ts)
        # a tile is committed iff its 'done' rows outnumber its
        # 'invalidated' retractions (the manifest is append-only; each
        # invalidate/recompute cycle adds one row of each kind)
        c = (
            c.groupBy("tile_z12")
            .agg(
                F.sum(F.when(F.col("status") == "done", 1).otherwise(0)).alias("_d"),
                F.sum(F.when(F.col("status") == "invalidated", 1).otherwise(0)).alias("_i"),
            )
            .where(F.col("_d") > F.col("_i"))
        )
        return {r.tile_z12 for r in c.select("tile_z12").collect()}

    def _append_commits(self, rows: DataFrame, status: str, ts: str) -> None:
        """Append one manifest row per (stage, tile_z12) row of `rows`."""
        rows.select(
            "stage", "tile_z12", F.lit(status).alias("status"), F.lit(ts).alias("ts")
        ).write.mode("append").parquet(self._commits_path())

    def invalidate(
        self,
        changed_docs: DataFrame | None = None,
        deleted_doc_ids: DataFrame | None = None,
        run_ts: str = "invalidate",
        stages: tuple = ("tile_assignments", "overlaps"),
    ) -> DataFrame:
        """Incremental update (the production path the reference's
        OverwriteMode.OLDER approximates with file mtimes): compute the
        tiles AFFECTED by a document change set and retract their commit
        rows, so the next `run()` over the updated corpus recomputes
        exactly those tiles and skips the rest.

        Affected set = OLD cover (tiles the changed/deleted docs occupy in
        the written tile_assignments stage) UNION NEW cover (tiles of the
        changed docs' new geometry); the overlaps stage additionally
        invalidates the 3x3 tile neighborhood (a changed element can pair
        with geometry in an adjacent tile — the same neighborhood rule
        run() uses for resume). Stage partition directories of affected
        tiles are deleted eagerly: dynamic partition overwrite only
        replaces tiles that receive NEW rows, so a tile whose documents
        were all deleted would otherwise keep stale data. (On a catalog
        deployment this is a partition-level DELETE; here it is the
        parquet-directory equivalent.)

        Returns the retracted (stage, tile_z12) rows, also appended to the
        manifest with status='invalidated'. Each stage's retracted tiles are
        collected once, and the manifest rows, the partition purge and the
        returned rows are all built from that list."""
        import shutil

        spark = self.spark
        covers = []
        ids = None
        if changed_docs is not None:
            ids = changed_docs.select("doc_id").distinct()
            new_cover = (
                extract_elements(changed_docs, self.origin)
                .withColumn("tile_z12", _tile_z12_col())
                .select("tile_z12")
            )
            covers.append(new_cover)
        if deleted_doc_ids is not None:
            d = deleted_doc_ids.select("doc_id").distinct()
            ids = d if ids is None else ids.unionByName(d).distinct()
        old = None if ids is None else _read_if_exists(spark, os.path.join(self.out_dir, "tile_assignments"))
        if old is not None:
            covers.append(old.join(ids, "doc_id", "left_semi").select("tile_z12"))
        affected = set()
        if covers:
            # collect BEFORE any partition purge: the lazy plan reads the
            # stage parquet, which the purge below deletes (the affected set
            # is change-set-sized metadata, like a partition DELETE
            # predicate)
            union = reduce(DataFrame.unionByName, covers)
            affected = {r.tile_z12 for r in union.distinct().collect()}

        retracted = {"stage": [], "tile_z12": []}
        for stage in stages:
            tiles = _neighborhood(affected) if stage == "overlaps" else affected
            # only retract tiles that are actually committed (idempotent)
            for t in sorted(tiles & self.committed_tiles(stage)):
                retracted["stage"].append(stage)
                retracted["tile_z12"].append(t)
        out = _manifest_rows(spark, retracted)
        if retracted["tile_z12"]:
            # retraction first, purge second: a kill in between leaves the
            # stale rows of an uncommitted tile, which the next run
            # overwrites
            self._append_commits(out, "invalidated", run_ts)
        for stage, t in zip(retracted["stage"], retracted["tile_z12"]):
            shutil.rmtree(os.path.join(self.out_dir, stage, f"tile_z12={t}"), ignore_errors=True)
        return out

    # ------------------------------------------------------------ stages

    def _run_stage(self, stage: str, tiles: set[int], plan, run_ts: str, errors: int) -> int:
        """Run `stage` over those of `tiles` it has not committed; return how
        many it processed. With none left it does nothing: no plan, no
        write, no manifest rows. Else `plan(todo)` builds the rows (carrying
        tile_z12) of the sorted work list `todo`; once they are written,
        every processed tile is committed, rows or not, and `_lineage` gets
        one row per tile with rows, counted from this run's write."""
        t0 = time.monotonic()
        todo = sorted(tiles - self.committed_tiles(stage, run_ts))
        if not todo:
            return 0
        # one writer task per tile where the tile is small (AQE coalesces
        # the rebalance, and splits a skewed tile over several tasks)
        out = plan(todo).hint("rebalance", "tile_z12")
        if "tile_x" in out.columns and "tile_y" in out.columns:
            # Z-order locality: cluster each output file along the Morton
            # curve of the fine tile coordinates, so a tile-range read
            # skips row groups via parquet min/max stats instead of
            # scattering matches across the file. sortWithinPartitions =
            # no exchange, just a per-task sort before the write.
            from ..functions.tiles import morton_key

            out = out.sortWithinPartitions(
                "tile_z12", morton_key(F.col("tile_x"), F.col("tile_y"))
            )
        parts = ["tile_z12"]
        if self.scoped:
            # per-batch partitions: overwrite only touches this run's
            # (tile, run_ts) dirs, earlier batches' rows stay intact
            out = out.withColumn("run_ts", F.lit(run_ts))
            parts.append("run_ts")
        # dynamic partition overwrite makes a retried tile idempotent; the
        # persisted rows give the per-tile counts without reading the stage
        # directory back
        out = out.persist()
        out.write.mode("overwrite").partitionBy(*parts).parquet(os.path.join(self.out_dir, stage))
        counts = out.groupBy("tile_z12").count().collect()
        out.unpersist()
        wall_ms = int((time.monotonic() - t0) * 1000)
        lineage = {
            "stage": [stage] * len(counts),
            "tile_z12": [r["tile_z12"] for r in counts],
            "rows_out": [r["count"] for r in counts],
        }
        _manifest_rows(self.spark, lineage).select(
            "stage",
            "tile_z12",
            "rows_out",
            F.lit(errors).cast("bigint").alias("errors"),
            F.lit(wall_ms).cast("bigint").alias("wall_ms"),
            F.lit(run_ts).alias("run_ts"),
        ).write.mode("append").parquet(os.path.join(self.out_dir, "_lineage"))
        done = _manifest_rows(self.spark, {"stage": [stage] * len(todo), "tile_z12": todo})
        self._append_commits(done, "done", run_ts)
        return len(todo)

    def run(
        self,
        docs: DataFrame,
        run_ts: str = "run0",
        with_overlaps: bool = True,
        with_tileset: bool = False,
        with_models: str | None = None,
    ) -> dict:
        """Execute the pipeline; safe to re-run after a kill — committed
        tiles are skipped, partially written tiles are overwritten.

        Malformed geo spans are quarantined, not fatal
        (FaultTolerantIterationUtil.java:20-54): they are written to
        `_quarantine` with the run_ts and surface as real `errors` counts
        in the lineage rows, while the valid spans proceed.

        The report counts each stage's processed tiles, empty or not."""
        from ..sources.documents import geo_span_errors

        elements = extract_elements(docs, self.origin).withColumn("tile_z12", _tile_z12_col())
        elements = elements.persist()

        errs = geo_span_errors(docs)
        n_errors = errs.count()
        if n_errors:
            errs.withColumn("run_ts", F.lit(run_ts)).write.mode("append").parquet(
                os.path.join(self.out_dir, "_quarantine")
            )
        report = {"errors": n_errors}

        # compute-skip on resume: each stage restricts its inputs to its
        # uncommitted tiles (plus a 1-tile neighborhood for the cross-tile
        # join stage) BEFORE the expensive operators run — the reference's
        # filterTileNumbers, applied to the plan rather than the outputs.
        # Work lists are z12-tile-sized and held on the driver, like the
        # reference's tile list.
        tiles = {r.tile_z12 for r in elements.select("tile_z12").distinct().collect()}

        def tile_plan(todo: list[int]) -> DataFrame:
            els = elements.where(F.col("tile_z12").isin(todo))
            return assign_tiles(els.drop("tile_z12"), with_cells=True).join(
                els.select("doc_id", "span_idx", "tile_z12"), ["doc_id", "span_idx"]
            )

        report["tile_assignments"] = self._run_stage(
            "tile_assignments", tiles, tile_plan, run_ts, n_errors
        )

        if with_overlaps:
            # per-tile config override: isAtSea tiles carry open water,
            # element-overlap processing is skipped for them on every run
            md = self.tile_metadata
            sea = set() if md is None else {r.tile_z12 for r in md.where(~F.col("land")).collect()}

            def overlap_plan(todo: list[int]) -> DataFrame:
                near = elements.where(F.col("tile_z12").isin(sorted(_neighborhood(todo) - sea)))
                overlaps = spatial_self_join(near.drop("tile_z12"))
                # overlap rows keyed by the z12 tile of element a's doc span
                a_key = F.split(F.col("a_id"), "#")
                return (
                    overlaps.join(
                        near.select(
                            F.concat_ws("#", "doc_id", "span_idx").alias("a_prefix"), "tile_z12"
                        ).dropDuplicates(["a_prefix"]),
                        F.concat_ws("#", a_key[0], a_key[1]) == F.col("a_prefix"),
                    )
                    .drop("a_prefix")
                    .where(F.col("tile_z12").isin(todo))
                )

            report["overlaps"] = self._run_stage(
                "overlaps", tiles - sea, overlap_plan, run_ts, n_errors
            )

        if with_tileset:
            # S8 tileset layout sink: one JSON index doc per populated z12
            # root over the z14 content tiles (TilesetOutput.java:38-120).
            # Derived from this run's full tile assignments (cheap re-agg of
            # the committed stage table keeps resume semantics simple: the
            # index is rewritten whole, it is metadata, not per-tile data).
            from .tileset import write_tileset

            all_tiles = (
                docs.sparkSession.read.parquet(os.path.join(self.out_dir, "tile_assignments"))
                .select("zoom", "tile_x", "tile_y")
            )
            write_tileset(all_tiles, os.path.join(self.out_dir, "tileset"))
            report["tileset_roots"] = (
                docs.sparkSession.read.text(os.path.join(self.out_dir, "tileset")).count()
            )

        if with_models:
            # S8 model sinks: the reference's convert-and-serialize tail
            # (map data -> triangulated world geometry -> model files per
            # tile). Areas are ear-clipped (operators/triangulate.py) into
            # ground-plane meshes keyed by their z12 tile, then serialized
            # through the requested sink into <out_dir>/models.
            report["model_tiles"] = self._write_models(elements, with_models)

        elements.unpersist()
        return report

    def _write_models(self, elements: DataFrame, fmt: str) -> int:
        from pyspark.sql import Window

        from ..operators.triangulate import triangulate
        from ..sinks.write import write_binary_files, write_text_models

        out = os.path.join(self.out_dir, "models")
        tris = triangulate(elements)
        keyed = tris.join(
            elements.select(
                F.concat_ws("#", "doc_id", "span_idx").alias("eid"),
                F.col("tile_z12").cast("string").alias("tile"),
            ).dropDuplicates(["eid"]),
            "eid",
        )
        tri_array = F.transform(
            F.array_sort(F.collect_list(F.struct(
                "tri_idx", "ax", "az", "bx", "bz", "cx", "cz"))),
            lambda s: F.array(
                F.struct(s["ax"].alias("x"), F.lit(0.0).alias("y"),
                         s["az"].alias("z")),
                F.struct(s["bx"].alias("x"), F.lit(0.0).alias("y"),
                         s["bz"].alias("z")),
                F.struct(s["cx"].alias("x"), F.lit(0.0).alias("y"),
                         s["cz"].alias("z")),
            ),
        )
        w = Window.partitionBy("tile").orderBy("eid")
        meshes = (
            keyed.groupBy("tile", "eid").agg(tri_array.alias("triangles"))
            .select(
                "tile", F.col("eid").alias("osm_id"),
                F.row_number().over(w).cast("bigint").alias("mesh_order"),
                F.lit("Area").alias("type_name"),
                F.lit("TERRAIN_DEFAULT").alias("material"),
                F.lit(147).alias("r"), F.lit(171).alias("g"),
                F.lit(132).alias("b"), "triangles",
            )
        )
        if fmt == "obj":
            from ..sinks.obj import obj_per_tile

            faces = meshes.select(
                "tile",
                (F.col("mesh_order") * 4096).alias("face_order"),
                F.col("type_name").alias("group_name"),
                F.col("osm_id").alias("object_name"),
                "material", "r", "g", "b",
                F.posexplode("triangles").alias("ti", "vertices"),
            ).select(
                "tile", (F.col("face_order") + F.col("ti")).alias("face_order"),
                "group_name", "object_name", "material", "r", "g", "b",
                "vertices",
                F.lit(None).cast(
                    "array<struct<x:double,y:double,z:double>>"
                ).alias("normals"),
                F.lit(None).cast(
                    "array<struct<u:double,v:double>>").alias("texcoords"),
            )
            docs_df = obj_per_tile(faces)
            write_text_models(docs_df, os.path.join(out, "obj"), "obj_text")
            write_text_models(docs_df, os.path.join(out, "mtl"), "mtl_text")
        elif fmt == "pov":
            from ..sinks.povray import pov_per_tile

            write_text_models(pov_per_tile(meshes), os.path.join(out, "pov"),
                              "pov_text")
        elif fmt == "gltf":
            from ..sinks.write import write_gltf_tileset

            write_gltf_tileset(meshes, os.path.join(out, "gltf"))
        elif fmt == "fpbf":
            from ..sinks.frontend_pbf import encode_frontend_pbf

            write_binary_files(encode_frontend_pbf(meshes),
                               os.path.join(out, "fpbf"), "tile", "pbf",
                               ".pbf")
        elif fmt == "png":
            from ..sinks.image import write_png_tiles

            # per-tile auto viewport (the reference's ortho camera over
            # the tile's data bbox, ImageExporter.java)
            write_png_tiles(meshes, os.path.join(out, "png"))
        else:
            raise ValueError(f"unknown model format {fmt!r}")
        return meshes.select("tile").distinct().count()
