"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload join_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root. It starts Spark at a fixed local[4]
(never read from SPARK_GRAFT_CPUS), stages the workload's inputs, runs the
operation once cold with real outputs and checks them, then repeats timed
rounds until `--seconds` have passed (at least one round). It prints the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`,
which also writes the spans to .perfbench/traces/), stops Spark and waits
for every process it started to end.

Exit codes: 0 with a result line; 2 on bad arguments; 1 when the program
cannot be imported or a call into it raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.meter import (  # noqa: E402
    Tracer, process_age_s, tree_peak_rss_mb, tree_pids,
)

CORES = 4
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "resume_s": "s",
    "update_s": "s",
    "bytes_per_doc": "bytes",
    "setup_s": "s",
}

LAYERS = ("documents", "tiling", "spatial_join", "raster", "knn", "zonal", "pipeline")
GENERIC = ("task_s", "gc_s", "peak_exec_mb")
# per-layer metric -> (unit, better); every traced run prints all of them,
# 0 where the workload does not call the layer. Counts of output rows are
# "higher": an optimisation must not lose any.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "documents.extract_s": ("s", "lower"),
    "documents.elements": ("count", "higher"),
    "documents.quarantine_s": ("s", "lower"),
    "tiling.assign_s": ("s", "lower"),
    "tiling.cells_s": ("s", "lower"),
    "tiling.rows": ("count", "higher"),
    "spatial_join.surface_s": ("s", "lower"),
    "spatial_join.join_s": ("s", "lower"),
    "spatial_join.shuffle_mb": ("MB", "lower"),
    "spatial_join.shuffle_records": ("count", "lower"),
    "spatial_join.max_task_s": ("s", "lower"),
    "spatial_join.spill_mb": ("MB", "lower"),
    "spatial_join.overlaps": ("count", "higher"),
    "spatial_join.intersect": ("count", "higher"),
    "spatial_join.contain": ("count", "higher"),
    "spatial_join.share_segment": ("count", "higher"),
    "raster.sites_s": ("s", "lower"),
    "knn.idw_s": ("s", "lower"),
    "knn.lsq29_s": ("s", "lower"),
    "knn.jobs": ("count", "lower"),
    "knn.shuffle_mb": ("MB", "lower"),
    "zonal.stats_s": ("s", "lower"),
    "pipeline.run_s": ("s", "lower"),
    "pipeline.write_mb": ("MB", "lower"),
    "pipeline.files": ("count", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.invalidate_s": ("s", "lower"),
    "pipeline.update_run_s": ("s", "lower"),
    **{f"{layer}.{g}": ("MB" if g.endswith("_mb") else "s", "lower") for layer in LAYERS for g in GENERIC},
    "process.peak_rss_mb": ("MB", "lower"),
}

# span name -> per-layer metric taking its wall time
SPAN_TIMES = {
    "documents.extract": "documents.extract_s",
    "documents.quarantine": "documents.quarantine_s",
    "tiling.assign": "tiling.assign_s",
    "spatial_join.surface": "spatial_join.surface_s",
    "spatial_join.join": "spatial_join.join_s",
    "raster.sites": "raster.sites_s",
    "knn.idw": "knn.idw_s",
    "knn.lsq29": "knn.lsq29_s",
    "zonal.stats": "zonal.stats_s",
    "pipeline.run": "pipeline.run_s",
    "pipeline.invalidate": "pipeline.invalidate_s",
    "pipeline.update_run": "pipeline.update_run_s",
}


def layer_metrics(spans: list[dict], counts: dict, overlap_kinds: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round's spans."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name, metric in SPAN_TIMES.items():
        m[metric] = sum(s["wall_s"] for s in by.get(name, []))
    if "tiling.assign_nocells" in by:
        m["tiling.cells_s"] = m["tiling.assign_s"] - sum(s["wall_s"] for s in by["tiling.assign_nocells"])
    for s in by.get("spatial_join.join", []):
        for c in ("shuffle_mb", "shuffle_records", "max_task_s", "spill_mb"):
            m[f"spatial_join.{c}"] += s[c]
    for s in by.get("knn.idw", []) + by.get("knn.lsq29", []):
        m["knn.jobs"] += s["jobs"]
        m["knn.shuffle_mb"] += s["shuffle_mb"]
    m["pipeline.jobs"] = sum(s["jobs"] for s in by.get("pipeline.run", []))
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in LAYERS:
            m[f"{layer}.task_s"] += s["task_s"]
            m[f"{layer}.gc_s"] += s["gc_s"]
            m[f"{layer}.peak_exec_mb"] = max(m[f"{layer}.peak_exec_mb"], s["peak_exec_mb"])
    m.update({k: v for k, v in counts.items() if k in m})
    if overlap_kinds:
        m["spatial_join.overlaps"] = sum(overlap_kinds.values())
        for kind in ("INTERSECT", "CONTAIN", "SHARE_SEGMENT"):
            m[f"spatial_join.{kind.lower()}"] = overlap_kinds.get(kind, 0)
    return m


def start_spark(workdir: str):
    from osm2world_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, then wait for every descendant to end."""
    pids = tree_pids()
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    import osm2world_spark  # noqa: F401  (fails here when the program is absent)

    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_spark(workdir)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, SIZES[args.workload], workdir)
        wl.stage()
        setup_s = process_age_s()

        log(f"session {session_s:.1f} s, set-up {setup_s:.1f} s")
        t0 = time.monotonic()
        wl.warm()
        log(f"cold run {time.monotonic() - t0:.1f} s")

        tracer = Tracer(spark) if args.trace else None
        rounds = []
        t_begin = time.monotonic()
        while not rounds or time.monotonic() - t_begin < args.seconds:
            if args.trace:
                first = len(tracer.spans)
                wl.layers(tracer)
                rounds.append(tracer.spans[first:])
            else:
                wl.round()
                rounds.append(None)

        log(f"{len(rounds)} timed rounds in {time.monotonic() - t_begin:.1f} s")
        t0 = time.monotonic()
        fails = wl.check()
        log(f"checks {time.monotonic() - t0:.1f} s")
        for f in fails:
            log(f"CHECK FAILED: {f}")
        if args.trace:
            per_round = [layer_metrics(r, wl.counts, wl.overlap_kinds) for r in rounds]
            values = {k: statistics.median(r[k] for r in per_round) for k in PER_LAYER}
            values["session.start_s"] = session_s
            values["process.peak_rss_mb"] = tree_peak_rss_mb()
            units = {k: unit for k, (unit, _) in PER_LAYER.items()}
            tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                workload=args.workload, seed=args.seed, cores=CORES, size=SIZES[args.workload],
                setup_s=setup_s, session_s=session_s, metrics=values,
            )
        else:
            values = {**wl.end_to_end(), "setup_s": setup_s}
            units = END_TO_END
        result = {
            "correct": not fails,
            "attempted": wl.attempted,
            "failed": 0,  # a failing call raises and ends the run without a result
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
