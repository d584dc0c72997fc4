"""The two workloads: inputs, the timed operation, the traced layer
calls and the output checks.

A workload object is built once per process:

- `stage()` generates and caches its inputs (part of set-up);
- `warm()` runs the operation cold, before anything is timed;
- `round()` is one timed round, every column materialised through a
  `noop` sink or a real write;
- `layers(tracer)` is the same work as one span per layer call, for the
  traced mode;
- `check()` runs the checks of `checks.py` on the kept outputs and
  returns the failures. `compute_skewed` keeps the outputs of its last
  round, timed or traced.

Every workload runs over corpus A, generated from the seed.
`pipeline_uniform` also has corpus B, which is A with `edit` documents of
A's most populated z12 tile moved by a few tens of metres; its update
metric measures bringing the output for A up to date for B. Sizes are
fixed per workload in `SIZES`; only the tests pass smaller ones.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import pandas as pd
from pyspark.sql import functions as F

from . import checks, inputs
from .meter import Tracer, tree_cpu_s

SIZES = {
    "pipeline_uniform": {"docs": 500, "edit": 40},
    "compute_skewed": {
        "docs": 300, "medium": 8, "large": 4,
        "medium_vertices": 64, "large_vertices": 2048, "large_radius": (0.02, 0.025),
        "windows": 3, "window_m": 300.0, "sample": 150,
    },
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _spans(tr: Tracer | None):
    return tr.span if tr else (lambda name: nullcontext())


class Workload:
    constant_density = True

    def __init__(self, spark, seed: int, size: dict, workdir: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.workdir = workdir
        self.attempted = 0
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.overlap_kinds: dict[str, int] = {}

    # ---------------------------------------------------------- inputs

    def stage(self) -> None:
        from osm2world_spark.sources.documents import synthetic_documents

        a = synthetic_documents(self.spark, self.size["docs"], seed=self.seed,
                                constant_density=self.constant_density).cache()
        self.docs_a = inputs.collect_docs(a)
        extra = self.extra_docs(self.docs_a)
        if extra is not None:
            a = a.unionByName(self._frame(extra)).cache()
            self.docs_a = pd.concat([self.docs_a, extra], ignore_index=True)
        self.docs = {"A": a}
        self.n_docs = len(self.docs_a)
        a.count()

    def extra_docs(self, docs: pd.DataFrame) -> pd.DataFrame | None:
        return None

    def _frame(self, pdf: pd.DataFrame):
        from osm2world_spark.sources.documents import DOCS_SCHEMA

        rows = [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
                for d, spans in zip(pdf["doc_id"], pdf["spans"])]
        return self.spark.createDataFrame(rows, DOCS_SCHEMA)

    # ------------------------------------------------------ operations

    def _op(self, fn):
        """One call into the program, counted as attempted. A call that
        raises ends the run without a result."""
        self.attempted += 1
        return fn()

    def _timed(self, metric: str, fn, cpu: bool = False):
        t0, c0 = time.monotonic(), tree_cpu_s()
        out = self._op(fn)
        self.samples.setdefault(metric, []).append(time.monotonic() - t0)
        if cpu:
            self.samples.setdefault(metric + "_cpu", []).append(tree_cpu_s() - c0)
        return out

    def end_to_end(self) -> dict[str, float]:
        med = {k: statistics.median(v) for k, v in self.samples.items()}
        n = self.n_docs
        return {
            "docs_per_s": n / med["run_s"],
            "cpu_s_per_kdoc": med["run_s_cpu"] / (n / 1000.0),
            # without a resume or incremental path, bringing the output up
            # to date recomputes everything: it costs what run_s times
            "resume_s": med.get("resume_s", med["run_s"]),
            "update_s": med.get("update_s", med["run_s"]),
            "bytes_per_doc": self.out_bytes / n,
        }

    # ---------------------------------------------------- layer spans

    def _element_layers(self, tr: Tracer, docs):
        """documents, tiling and spatial_join spans over one corpus."""
        from osm2world_spark.operators.spatial_join import spatial_self_join
        from osm2world_spark.operators.tiling import assign_tiles
        from osm2world_spark.sources.documents import extract_elements

        elements = extract_elements(docs).persist()
        with tr.span("documents.extract"):
            self._op(lambda: noop(elements))
        with tr.span("tiling.assign"):
            self._op(lambda: noop(assign_tiles(elements, with_cells=True)))
        with tr.span("spatial_join.join"):
            self._op(lambda: noop(spatial_self_join(elements)))
        elements.unpersist()
        self._extra_layers(tr, docs)

    def _extra_layers(self, tr: Tracer, docs):
        """The traced calls beyond the operation itself: the quarantine
        stream, assign_tiles without cells (for tiling.cells_s) and the
        join surface alone; plus the element and tile row counts."""
        from osm2world_spark.operators.spatial_join import join_surface
        from osm2world_spark.operators.tiling import assign_tiles
        from osm2world_spark.sources.documents import extract_elements, geo_span_errors

        with tr.span("documents.quarantine"):
            self._op(lambda: geo_span_errors(docs).count())
        elements = extract_elements(docs).persist()
        self.counts["documents.elements"] = elements.count()
        with tr.span("tiling.assign_nocells"):
            self._op(lambda: noop(assign_tiles(elements, with_cells=False)))
        self.counts["tiling.rows"] = assign_tiles(elements, with_cells=False).count()
        with tr.span("spatial_join.surface"):
            self._op(lambda: noop(join_surface(elements)))
        elements.unpersist()


# ----------------------------------------------------- pipeline_uniform


class PipelineUniform(Workload):
    """`TilePipeline.run` into a fresh directory over A, a resume with
    nothing to do, then `invalidate` + run to bring it to B. The cold
    warm-up runs the same calls over B in another directory: its fresh run
    is the reference the update must equal, and its resume and invalidate
    compile those plans before they are timed."""

    STAGES = ("tile_assignments", "overlaps")

    def stage(self) -> None:
        super().stage()
        changed = inputs.edit_set(self.docs_a, self.size["edit"])
        self.changed_b = self._frame(changed).cache()
        self.changed_a = self._frame(self.docs_a[self.docs_a["doc_id"].isin(set(changed["doc_id"]))]).cache()
        self.docs["B"] = (
            self.docs["A"].join(self.changed_b.select("doc_id"), "doc_id", "left_anti")
            .unionByName(self.changed_b).cache()
        )
        self.docs["B"].count()

    def _rows(self, out: str) -> dict[str, list]:
        return {s: checks.stage_rows(os.path.join(out, s)) for s in self.STAGES}

    def warm(self) -> None:
        from osm2world_spark.plans.pipeline import TilePipeline

        out = os.path.join(self.workdir, "reference")
        pipe = TilePipeline(self.spark, out)
        self._op(lambda: pipe.run(self.docs["B"], run_ts="fresh"))
        self.snap = {"reference": self._rows(out), "resume_reports": []}
        self.snap["resume_reports"].append(self._op(lambda: pipe.run(self.docs["B"], run_ts="resume")))
        self.snap["reference_resumed"] = self._rows(out)
        self._op(lambda: pipe.invalidate(changed_docs=self.changed_a, run_ts="invalidate"))
        self._k = 0

    def _cycle(self, tr: Tracer | None = None) -> None:
        from osm2world_spark.plans.pipeline import TilePipeline

        k, self._k = self._k, self._k + 1
        out = os.path.join(self.workdir, f"pipe{k}")
        shutil.rmtree(os.path.join(self.workdir, f"pipe{k - 1}"), ignore_errors=True)
        pipe = TilePipeline(self.spark, out)
        span = _spans(tr)
        first = k == 0
        with span("pipeline.run"):
            self._timed("run_s", lambda: pipe.run(self.docs["A"], run_ts="fresh"), cpu=True)
        self.out_bytes, files = dir_size(out)
        self.counts["pipeline.write_mb"] = self.out_bytes / 2**20
        self.counts["pipeline.files"] = files
        with span("pipeline.resume"):
            report = self._timed("resume_s", lambda: pipe.run(self.docs["A"], run_ts="resume"))
        self.snap["resume_reports"].append(report)
        t0 = time.monotonic()
        with span("pipeline.invalidate"):
            self._timed("invalidate_s", lambda: pipe.invalidate(changed_docs=self.changed_b, run_ts="invalidate"))
        with span("pipeline.update_run"):
            self._timed("update_run_s", lambda: pipe.run(self.docs["B"], run_ts="update"))
        self.samples.setdefault("update_s", []).append(time.monotonic() - t0)
        if first:
            self.snap["updated"] = self._rows(out)
            kinds = checks.stage_columns(os.path.join(out, "overlaps"), ["overlap_kind"])["overlap_kind"]
            self.overlap_kinds = kinds.value_counts().to_dict()

    def round(self) -> None:
        self._cycle()

    def layers(self, tr: Tracer) -> None:
        self._element_layers(tr, self.docs["A"])
        self._cycle(tr)

    def check(self) -> list[str]:
        """Every resume processed no tile and left the rows as they were;
        the update (A -> B) equals the fresh run over B."""
        snap, fails = self.snap, []
        for report in snap["resume_reports"]:
            if report.get("tile_assignments") or report.get("overlaps"):
                fails.append(f"pipeline: a resume processed tiles: {report}")
        for s in self.STAGES:
            fails += checks.check_same_rows(snap["reference_resumed"][s], snap["reference"][s],
                                            f"{s} after the resume")
            fails += checks.check_same_rows(snap["updated"][s], snap["reference"][s], f"{s} after the update")
        return fails


# --------------------------------------------------------- compute_skewed


class ComputeSkewed(Workload):
    """Every compute operator over a skewed corpus:
    extract_elements -> assign_tiles(with_cells=True) ->
    spatial_self_join, then raster_sites at full resolution over the corpus
    bbox -> elevation_join with IDW and with 29-NN over every element
    vertex -> zonal_stats per z14 tile. The corpus is a fixed-bbox
    clustered one plus large multi-vertex areas on its densest spots."""

    constant_density = False

    def _raster_bounds(self):
        """The corpus bbox grown by the largest area's reach: the same
        extent for every seed, so where the areas land does not change how
        many sites the kNN rounds see."""
        from osm2world_spark.sources.documents import BBOX
        from osm2world_spark.sources.raster import SEAM_PAD_DEG

        reach = 1.1 * self.size["large_radius"][1] + SEAM_PAD_DEG
        minlat, minlon, maxlat, maxlon = BBOX
        return minlat - reach, minlon - 1.5 * reach, maxlat + reach, maxlon + 1.5 * reach

    def extra_docs(self, docs):
        s = self.size
        areas = inputs.skew_areas(docs, self.seed, s["medium"], s["large"], s["medium_vertices"],
                                  s["large_vertices"], s["large_radius"])
        extra = pd.concat([areas, inputs.edge_nodes(*self._raster_bounds())], ignore_index=True)
        self.extra_ids = list(extra["doc_id"])
        return extra

    def stage(self) -> None:
        from osm2world_spark.sources.raster import synthetic_raster

        super().stage()
        # the warm-up corpus: a tenth of the plain documents and every extra
        # one but the second and later large areas (which come first). Every
        # kernel runs; no pair of large areas does.
        later_large = self.extra_ids[1:self.size["large"]]
        self.docs["warm"] = self.docs["A"].where(
            ~F.col("doc_id").isin(later_large)
            & (F.col("doc_id").isin(self.extra_ids) | (F.crc32("doc_id") % 10 == 0))
        ).cache()
        self.docs["warm"].count()
        self.raster = synthetic_raster(self.spark, *self._raster_bounds(), seed=self.seed).cache()
        self.raster.count()

    def _run(self, docs, sink, tr: Tracer | None = None):
        from osm2world_spark.operators.spatial_join import spatial_self_join
        from osm2world_spark.operators.tiling import assign_tiles
        from osm2world_spark.operators.zonal import elevation_join, zonal_stats
        from osm2world_spark.sources.documents import DEFAULT_ORIGIN, extract_elements
        from osm2world_spark.sources.raster import raster_sites

        span = _spans(tr)
        elements = extract_elements(docs).persist()
        sites = raster_sites(self.raster, DEFAULT_ORIGIN).persist()
        try:
            with span("documents.extract"):
                sink(elements, "elements")
            with span("tiling.assign"):
                sink(assign_tiles(elements, with_cells=True), "tiles")
            with span("spatial_join.join"):
                sink(spatial_self_join(elements), "overlaps")
            with span("raster.sites"):
                sink(sites, "sites")
            with span("knn.idw"):
                elevated = elevation_join(elements, sites, "idw").persist()
                sink(elevated, "idw")
            with span("knn.lsq29"):
                sink(elevation_join(elements, sites, "lsq29"), "lsq29")
            with span("zonal.stats"):
                sink(zonal_stats(elevated, elements), "zonal")
            elevated.unpersist()
        finally:
            sites.unpersist()
            elements.unpersist()

    OUTPUTS = ("tiles", "overlaps", "idw", "lsq29", "zonal")

    def warm(self) -> None:
        """The operation, cold, over the warm-up corpus through noop sinks:
        it starts the Python workers and compiles every plan. A full cold
        run over A costs more than a timed round (see the README)."""
        self._op(lambda: self._run(self.docs["warm"], lambda df, _: noop(df)))

    def _sink(self, df, name: str) -> None:
        """The checked outputs go to parquet (a real write), the rest to
        noop sinks."""
        if name in self.OUTPUTS:
            df.write.mode("overwrite").parquet(os.path.join(self.workdir, "out", name))
        else:
            noop(df)

    def _keep_outputs(self) -> None:
        out = os.path.join(self.workdir, "out")
        self.out_bytes, _ = dir_size(out)
        self.out = {n: pd.read_parquet(os.path.join(out, n)) for n in self.OUTPUTS}
        self.overlap_kinds = self.out["overlaps"]["overlap_kind"].value_counts().to_dict()

    def round(self) -> None:
        """One run of the operation over A; its outputs are kept for the
        checks and `out_bytes` is what their parquet takes. The operators
        have no resume or incremental path, so `resume_s` and `update_s`
        report this run's time too."""
        self._timed("run_s", lambda: self._run(self.docs["A"], self._sink), cpu=True)
        self._keep_outputs()

    def layers(self, tr: Tracer) -> None:
        self._op(lambda: self._run(self.docs["A"], self._sink, tr))
        self._keep_outputs()
        self._extra_layers(tr, self.docs["A"])

    def check(self) -> list[str]:
        elements = inputs.parse_docs(self.docs_a)
        members = inputs.join_members(elements)
        windows = checks.dense_windows(members, self.size["windows"], self.size["window_m"])
        sites = inputs.raster_site_table(self.raster.toPandas())
        out = self.out
        return (checks.check_tiles(out["tiles"], elements)
                + checks.check_overlaps(out["overlaps"], members, windows)
                + checks.check_terrain(out["idw"], out["lsq29"], out["zonal"], inputs.vertices(elements),
                                       sites, self.size["sample"], self.seed))


WORKLOADS = {
    "pipeline_uniform": PipelineUniform,
    "compute_skewed": ComputeSkewed,
}
