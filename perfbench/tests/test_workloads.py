"""Each workload at a tiny size end to end, and each output check shown to
fail on a corrupted output.

    python3 -m pytest perfbench/tests -q
"""

import copy

import pandas as pd
import pytest

from perfbench import checks, inputs
from perfbench.meter import Tracer
from perfbench.run import PER_LAYER, layer_metrics
from perfbench.workloads import WORKLOADS

TINY = {
    "pipeline_uniform": {"docs": 200, "edit": 10},
    "compute_skewed": {
        "docs": 500, "medium": 3, "large": 2,
        "medium_vertices": 32, "large_vertices": 128, "large_radius": (0.003, 0.004),
        "windows": 2, "window_m": 300.0, "sample": 40,
    },
}


@pytest.fixture(scope="module", params=sorted(TINY))
def ran(request, spark, tmp_path_factory):
    """A tiny workload after warm-up, one traced round, checked as a traced
    run checks it, then one timed round."""
    name = request.param
    wl = WORKLOADS[name](spark, 7, TINY[name], str(tmp_path_factory.mktemp(name)))
    wl.stage()
    wl.warm()
    tracer = Tracer(spark)
    wl.layers(tracer)
    traced_fails = wl.check()
    wl.round()
    return name, wl, tracer, traced_fails


def test_smoke(ran):
    name, wl, tracer, traced_fails = ran
    assert traced_fails == []
    assert wl.check() == []
    assert wl.attempted > 0
    e2e = wl.end_to_end()
    assert all(v > 0 for v in e2e.values()), e2e
    m = layer_metrics(tracer.spans, wl.counts, wl.overlap_kinds)
    assert set(m) == set(PER_LAYER)
    called = {"pipeline_uniform": ("pipeline.run_s", "spatial_join.join_s", "pipeline.jobs", "tiling.rows"),
              "compute_skewed": ("spatial_join.join_s", "tiling.assign_s", "spatial_join.shuffle_records",
                                 "knn.idw_s", "knn.lsq29_s", "zonal.stats_s", "knn.jobs")}[name]
    assert all(m[k] > 0 for k in called), {k: m[k] for k in called}
    assert all(s["parent"] is None or s["parent"] < s["id"] for s in tracer.spans)


def _join_view(wl):
    elements = inputs.parse_docs(wl.docs_a)
    members = inputs.join_members(elements)
    windows = checks.dense_windows(members, wl.size["windows"], wl.size["window_m"])
    return elements, members, windows


def test_join_checks_fail_on_corruption(ran):
    name, wl, _, _ = ran
    if name != "compute_skewed":
        pytest.skip("self-join outputs only")
    elements, members, windows = _join_view(wl)
    tiles, ov = wl.out["tiles"], wl.out["overlaps"]
    assert checks.check_tiles(tiles, elements) == []
    assert checks.check_overlaps(ov, members, windows) == []

    assert checks.check_tiles(tiles.drop(index=tiles.index[5]), elements)
    dup = tiles.iloc[[3]]
    assert any("zoom" in f for f in checks.check_tiles(pd.concat([tiles, dup], ignore_index=True), elements))
    bad_s2 = tiles.copy()
    bad_s2.loc[bad_s2.index[0], "s2_l13"] += 1 << 34  # now a level-12 id
    assert checks.check_tiles(bad_s2, elements)

    # one overlap row dropped from inside a checked window, per kind
    for a_type, b_type, kind in (("segment", "segment", "INTERSECT"), ("node", "area", "CONTAIN")):
        in_win = set()
        for w in windows:
            in_win |= set(checks._in_window(members, w)["eid"])
        rows = ov[(ov["a_type"] == a_type) & (ov["b_type"] == b_type) & (ov["overlap_kind"] == kind)
                  & ov["a_id"].isin(in_win) & ov["b_id"].isin(in_win)]
        assert len(rows), f"no {kind} row inside the windows to drop"
        assert checks.check_overlaps(ov.drop(index=rows.index[0]), members, windows)

    assert checks.check_overlaps(pd.concat([ov, ov.iloc[[0]]], ignore_index=True), members, windows)
    self_pair = ov.iloc[[0]].assign(b_id=ov.iloc[0]["a_id"])
    assert checks.check_overlaps(pd.concat([ov, self_pair], ignore_index=True), members, windows)
    far = members.sort_values("minx")
    apart = ov.iloc[[0]].assign(a_id=far.iloc[0]["eid"], b_id=far.iloc[-1]["eid"])
    assert any("disjoint" in f for f in checks.check_overlaps(pd.concat([ov, apart], ignore_index=True), members, windows))


def test_terrain_checks_fail_on_corruption(ran):
    name, wl, _, _ = ran
    if name != "compute_skewed":
        pytest.skip("terrain outputs only")
    sites = inputs.raster_site_table(wl.raster.toPandas())
    verts = inputs.vertices(inputs.parse_docs(wl.docs_a))
    idw, lsq, zonal = wl.out["idw"], wl.out["lsq29"], wl.out["zonal"]
    n = wl.size["sample"]

    def run(idw=idw, lsq=lsq, zonal=zonal):
        return checks.check_terrain(idw, lsq, zonal, verts, sites, n, wl.seed)

    assert run() == []
    q = checks.sample_vertices(verts, n, wl.seed)["q_id"].iloc[0]
    for col_frame, key in ((idw, "idw"), (lsq, "lsq29")):
        bent = col_frame.copy()
        bent.loc[bent["q_id"] == q, "ele"] += 0.01
        assert run(**{"idw" if key == "idw" else "lsq": bent}), key
    far = idw.copy()
    far.loc[far.index[-1], "ele"] += 1000.0
    assert any("range" in f for f in run(idw=far))
    assert run(zonal=zonal.assign(n_points=zonal["n_points"] - (zonal.index == 0)))
    flipped = zonal.copy()
    flipped.loc[flipped.index[0], "min_ele"] = flipped.loc[flipped.index[0], "max_ele"] + 1
    assert run(zonal=flipped)


def test_pipeline_checks_fail_on_corruption(ran):
    name, wl, _, _ = ran
    if name != "pipeline_uniform":
        pytest.skip("pipeline outputs only")
    assert wl.check() == []
    saved = copy.deepcopy(wl.snap)
    try:
        wl.snap["updated"]["overlaps"] = wl.snap["updated"]["overlaps"][1:]
        assert any("after the update" in f for f in wl.check())
        wl.snap = copy.deepcopy(saved)
        rows = wl.snap["reference_resumed"]["tile_assignments"]
        wl.snap["reference_resumed"]["tile_assignments"] = rows + rows[:1]
        assert any("after the resume" in f for f in wl.check())
        wl.snap = copy.deepcopy(saved)
        wl.snap["resume_reports"][-1] = {"tile_assignments": 1, "overlaps": 0}
        assert any("resume processed" in f for f in wl.check())
    finally:
        wl.snap = saved
