"""Kill-and-resume protocol test (FIXTURES.md section 6): after M of N
tiles commit, a rerun recomputes exactly the N-M uncommitted tiles and the
final output equals an uninterrupted run.

Kill simulation: run to completion, then delete the commit records of half
the tiles — leaving their (now uncommitted) stage data in place. That is
exactly the state after a crash between the data write and the commit
append; the resume must overwrite those partitions idempotently."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm2world_spark.plans.pipeline import TilePipeline
from osm2world_spark.sources.documents import synthetic_documents


def _read_sorted(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_resume_equals_uninterrupted(spark, tmp_path):
    docs = synthetic_documents(spark, 250, seed=42).cache()

    # --- uninterrupted reference run
    full_dir = str(tmp_path / "full")
    TilePipeline(spark, full_dir).run(docs, run_ts="full")

    # --- victim run + simulated kill: drop commits for half the tiles
    part_dir = str(tmp_path / "part")
    pipe = TilePipeline(spark, part_dir)
    pipe.run(docs, run_ts="r1")

    commits_path = os.path.join(part_dir, "_commits")
    commits = spark.read.parquet(commits_path)
    all_tiles = sorted(r.tile_z12 for r in commits.select("tile_z12").distinct().collect())
    survivors = set(all_tiles[: len(all_tiles) // 2])
    kept = commits.where(F.col("tile_z12").isin(list(survivors))).collect()
    shutil.rmtree(commits_path)
    spark.createDataFrame(kept, commits.schema).write.parquet(commits_path)
    n_killed = len(all_tiles) - len(survivors)
    assert n_killed > 0

    # --- resume
    report = pipe.run(docs, run_ts="r2")
    assert report["tile_assignments"] == sum(
        1 for t in all_tiles if t not in survivors
    ) - _missing(spark, full_dir, "overlaps", all_tiles, survivors, "tile_assignments")
    # (tiles that exist in tile_assignments but not in survivors recompute)

    # --- outputs match the uninterrupted run exactly (row-for-row)
    for stage in ("tile_assignments", "overlaps"):
        got = _read_sorted(spark, os.path.join(part_dir, stage))
        want = _read_sorted(spark, os.path.join(full_dir, stage))
        assert got == want, f"{stage} differs after resume"

    # --- second resume is a no-op (everything committed)
    report3 = pipe.run(docs, run_ts="r3")
    assert report3["tile_assignments"] == 0
    assert report3["overlaps"] == 0

    # --- lineage rows recorded per stage run
    lin = spark.read.parquet(os.path.join(part_dir, "_lineage"))
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"tile_assignments", "overlaps"}
    assert lin.where(F.col("rows_out") <= 0).count() == 0
    docs.unpersist()


def _missing(spark, full_dir, other_stage, all_tiles, survivors, stage):
    """Tiles present in the union commit list but absent from this stage's
    own tile set (a tile can have overlaps but no assignments or vice
    versa) — they don't recompute for this stage."""
    df = spark.read.parquet(os.path.join(full_dir, stage))
    stage_tiles = {r.tile_z12 for r in df.select("tile_z12").distinct().collect()}
    return sum(1 for t in all_tiles if t not in survivors and t not in stage_tiles)


def test_per_tile_config_overrides(spark, tmp_path):
    """O4: per-tile metadata merges over the base config with the
    TilesetCommand defaults (keepOsmElements=false, clipToBounds=true);
    land=false flags isAtSea and skips overlap work for that tile."""
    import os

    from pyspark.sql import functions as F

    from osm2world_spark.plans.pipeline import TilePipeline, _tile_z12_col
    from osm2world_spark.sources.documents import extract_elements, synthetic_documents

    docs = synthetic_documents(spark, 300, seed=21)
    els = extract_elements(docs).withColumn("tile_z12", _tile_z12_col())
    tiles = [r["tile_z12"] for r in els.select("tile_z12").distinct().collect()]
    sea_tile = tiles[0]
    md = spark.createDataFrame([(sea_tile, False)], "tile_z12 bigint, land boolean")

    out = str(tmp_path / "out")
    p = TilePipeline(spark, out, base_config={"lod": "2"}, tile_metadata=md)

    cfg = {r["tile_z12"]: dict(r["config"]) for r in p.tile_config(els).collect()}
    assert cfg[sea_tile]["isAtSea"] == "true"
    assert all(c["keepOsmElements"] == "false" and c["clipToBounds"] == "true" and c["lod"] == "2" for c in cfg.values())
    assert all("isAtSea" not in c for t, c in cfg.items() if t != sea_tile)

    p.run(docs, with_overlaps=True)
    ov = spark.read.parquet(os.path.join(out, "overlaps"))
    assert ov.where(F.col("tile_z12") == sea_tile).count() == 0
    assert ov.count() > 0
    # a second run over the same corpus keeps the at-sea tile out too
    p.run(docs, run_ts="run1", with_overlaps=True)
    ov = spark.read.parquet(os.path.join(out, "overlaps"))
    assert ov.where(F.col("tile_z12") == sea_tile).count() == 0
    # the scan stage still records the at-sea tile's assignments
    ta = spark.read.parquet(os.path.join(out, "tile_assignments"))
    assert ta.where(F.col("tile_z12") == sea_tile).count() > 0


def _files(root):
    return {
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    }


@pytest.mark.parametrize("lone_point", [False, True], ids=["synthetic", "with_empty_overlaps_tile"])
def test_committed_resume_does_no_work(spark, tmp_path, lone_point):
    """A resume with every tile committed plans, writes and appends
    nothing. With `lone_point`, one tile holds a single point and so has no
    overlap rows: it is committed all the same, without a lineage row."""
    from osm2world_spark.sources.documents import DOCS_SCHEMA

    docs = synthetic_documents(spark, 200, seed=3)
    if lone_point:
        lone = [("lone", [{"kind": "geo_point", "text": "48.70,13.70", "media_ref": "", "offset": 0}])]
        docs = docs.unionByName(spark.createDataFrame(lone, DOCS_SCHEMA))
    docs = docs.cache()
    out = str(tmp_path / "out")
    pipe = TilePipeline(spark, out)
    fresh = pipe.run(docs, run_ts="fresh")
    before = _files(out)

    assert pipe.run(docs, run_ts="resume") == {"errors": 0, "tile_assignments": 0, "overlaps": 0}
    assert _files(out) == before

    committed = spark.read.parquet(os.path.join(out, "_commits")).where(F.col("stage") == "overlaps")
    with_rows = spark.read.parquet(os.path.join(out, "overlaps")).select("tile_z12").distinct()
    assert committed.count() == fresh["overlaps"]
    lineage = spark.read.parquet(os.path.join(out, "_lineage")).where(F.col("stage") == "overlaps")
    assert lineage.count() == with_rows.count()
    if lone_point:
        assert with_rows.count() < committed.count()
    docs.unpersist()


def test_manifest_read_errors_are_not_swallowed(spark, tmp_path):
    """A manifest holding no data file yet (a first commit append killed
    before publishing) reads as nothing committed; an unreadable one fails
    the run instead of silently recomputing every tile."""
    docs = synthetic_documents(spark, 60, seed=5)
    out = tmp_path / "out"
    os.makedirs(out / "_commits" / "_temporary" / "0")
    assert TilePipeline(spark, str(out)).run(docs, with_overlaps=False)["tile_assignments"] > 0

    (out / "_commits" / "part-00000-corrupt.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="parquet"):
        TilePipeline(spark, str(out)).run(docs, with_overlaps=False)
