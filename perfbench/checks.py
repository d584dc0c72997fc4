"""Output checks computed apart from the program.

Every check takes the program's output as pandas plus the independent
element view from `inputs.parse_docs` (or the raster sites from
`inputs.raster_site_table`) and returns a list of failure messages; an
empty list means the output passed. None of them calls into
`osm2world_spark`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

S2_LEVEL = 13
HEX_RES = 9
IDW_CUTOFF = 300.0
LSQ_K = 29
LSQ_FALLOFF = 120.0


# ---------------------------------------------------------------- tiles


def _tile_x(lon, zoom):
    return np.floor((np.asarray(lon) + 180.0) / 360.0 * (1 << zoom)).astype(np.int64)


def _tile_y(lat, zoom):
    r = np.radians(np.asarray(lat))
    return np.floor((1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi) / 2.0 * (1 << zoom)).astype(np.int64)


def _s2_face(lat, lon):
    phi, theta = np.radians(lat), np.radians(lon)
    xyz = np.stack([np.cos(theta) * np.cos(phi), np.sin(theta) * np.cos(phi), np.sin(phi)], axis=1)
    axis = np.argmax(np.abs(xyz), axis=1)
    neg = xyz[np.arange(len(xyz)), axis] < 0
    return axis + 3 * neg


def check_tiles(tiles: pd.DataFrame, elements: pd.DataFrame, zooms=(12, 14)) -> list[str]:
    """`assign_tiles(with_cells=True)` rows against the slippy-tile cover of
    each element's lat/lon bbox, and the S2 / hex cell ids against their
    encodings' invariants."""
    fails = []
    e = elements.set_index("eid")
    eid = tiles["doc_id"] + "#" + tiles["span_idx"].astype(str)
    missing = ~eid.isin(e.index)
    if missing.any():
        fails.append(f"tiles: {int(missing.sum())} rows name no input element")
        return fails
    for z in zooms:
        x0, x1 = _tile_x(e["minlon"], z), _tile_x(e["maxlon"], z)
        y0, y1 = _tile_y(e["maxlat"], z), _tile_y(e["minlat"], z)
        want = int(((x1 - x0 + 1) * (y1 - y0 + 1)).sum())
        at_z = tiles["zoom"] == z
        got = int(at_z.sum())
        if got != want:
            fails.append(f"tiles: zoom {z} has {got} rows, the bbox cover has {want}")
        rows = e.loc[eid[at_z]]
        tx, ty = tiles.loc[at_z, "tile_x"].to_numpy(), tiles.loc[at_z, "tile_y"].to_numpy()
        outside = (
            (tx < _tile_x(rows["minlon"], z)) | (tx > _tile_x(rows["maxlon"], z))
            | (ty < _tile_y(rows["maxlat"], z)) | (ty > _tile_y(rows["minlat"], z))
        )
        if outside.any():
            fails.append(f"tiles: {int(outside.sum())} zoom-{z} rows lie outside their element's cover")
    rows = e.loc[eid]
    s2 = tiles["s2_l13"].to_numpy(np.int64)
    lsb = s2 & -s2
    if (lsb != (1 << (2 * (30 - S2_LEVEL)))).any():
        fails.append(f"tiles: {int((lsb != 1 << 34).sum())} S2 ids are not level {S2_LEVEL}")
    face = s2.view(np.uint64) >> np.uint64(61)
    clat = (rows["minlat"].to_numpy() + rows["maxlat"].to_numpy()) / 2
    clon = (rows["minlon"].to_numpy() + rows["maxlon"].to_numpy()) / 2
    bad_face = face.astype(np.int64) != _s2_face(clat, clon)
    if bad_face.any():
        fails.append(f"tiles: {int(bad_face.sum())} S2 ids are on the wrong cube face")
    res = tiles["h3_r9"].to_numpy(np.int64) >> 56
    if (res != HEX_RES).any():
        fails.append(f"tiles: {int((res != HEX_RES).sum())} hex ids are not resolution {HEX_RES}")
    return fails


# ------------------------------------------------------------- overlaps


def dense_windows(members: pd.DataFrame, k: int, size_m: float) -> list[tuple]:
    """The k square windows (minx, minz, maxx, maxz) of side `size_m` on the
    grid that hold the most member bbox centres."""
    cx = ((members["minx"] + members["maxx"]) / 2 / size_m).apply(math.floor)
    cz = ((members["minz"] + members["maxz"]) / 2 / size_m).apply(math.floor)
    counts = pd.DataFrame({"cx": cx, "cz": cz}).value_counts().reset_index()
    counts = counts.sort_values(["count", "cx", "cz"], ascending=[False, True, True]).head(k)
    return [(a * size_m, b * size_m, (a + 1) * size_m, (b + 1) * size_m)
            for a, b in zip(counts["cx"], counts["cz"])]


def _in_window(m: pd.DataFrame, w) -> pd.DataFrame:
    return m[(m["minx"] <= w[2]) & (m["maxx"] >= w[0]) & (m["minz"] <= w[3]) & (m["maxz"] >= w[1])]


def _ww_expected(segs: pd.DataFrame) -> set:
    """Brute force over every segment pair: a crossing by the parametric
    2x2 solve, skipping adjacent segments of one way."""
    n = len(segs)
    if n < 2:
        return set()
    ids = segs["eid"].to_numpy()
    way = segs["way"].to_numpy()
    seg = segs["seg"].to_numpy(np.int64)
    x1, z1, x2, z2 = (segs[c].to_numpy(np.float64) for c in ("x1", "z1", "x2", "z2"))
    out = set()
    for i in range(n - 1):
        j = np.arange(i + 1, n)
        vx, vz = x2[i] - x1[i], z2[i] - z1[i]
        qx, qz = x2[j] - x1[j], z2[j] - z1[j]
        denom = vz * qx - vx * qz
        amcx, amcz = x1[j] - x1[i], z1[j] - z1[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (amcz * qx - amcx * qz) / denom
            s = (amcz * vx - amcx * vz) / denom
        adjacent = (way[j] == way[i]) & (np.abs(seg[j] - seg[i]) <= 1)
        hit = ~adjacent & (np.abs(denom) > 1e-4) & (t >= 0) & (t <= 1) & (s >= 0) & (s <= 1)
        out.update(frozenset((ids[i], b)) for b in ids[j[hit]])
    return out


def _inside(px: float, pz: float, rings) -> bool:
    """Even-odd ray cast over closed rings: inside the outer ring and in
    no hole."""
    def crosses(ring):
        xa, za, xb, zb = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
        straddle = (za > pz) != (zb > pz)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (xb - xa) * (pz - za) / (zb - za) + xa
        return int((straddle & (px < xi)).sum()) % 2 == 1

    return crosses(rings[0]) and not any(crosses(h) for h in rings[1:])


def _na_expected(nodes: pd.DataFrame, areas: pd.DataFrame) -> set:
    out = set()
    for n in nodes.itertuples(index=False):
        cand = areas[(areas["minx"] <= n.x1) & (areas["maxx"] >= n.x1)
                     & (areas["minz"] <= n.z1) & (areas["maxz"] >= n.z1)]
        for a in cand.itertuples(index=False):
            if _inside(n.x1, n.z1, a.rings):
                out.add(frozenset((n.eid, a.eid)))
    return out


def check_overlaps(ov: pd.DataFrame, members: pd.DataFrame, windows) -> list[str]:
    """Self-join rows: no self or repeated pair, every pair's bboxes overlap,
    and inside each window the node-in-area CONTAIN and segment-crossing
    INTERSECT pairs equal a brute force over the window's members."""
    fails = []
    if (ov["a_id"] == ov["b_id"]).any():
        fails.append(f"overlaps: {int((ov['a_id'] == ov['b_id']).sum())} rows pair an element with itself")
    pairs = [frozenset(p) for p in zip(ov["a_id"], ov["b_id"])]
    dup = len(pairs) - len(set(pairs))
    if dup:
        fails.append(f"overlaps: {dup} pairs appear more than once")
    m = members.set_index("eid")
    known = ov["a_id"].isin(m.index) & ov["b_id"].isin(m.index)
    if not known.all():
        fails.append(f"overlaps: {int((~known).sum())} rows name no input element")
        return fails
    a, b = m.loc[ov["a_id"]], m.loc[ov["b_id"]]
    slack = 1e-3
    disjoint = (
        (a["minx"].to_numpy() > b["maxx"].to_numpy() + slack) | (b["minx"].to_numpy() > a["maxx"].to_numpy() + slack)
        | (a["minz"].to_numpy() > b["maxz"].to_numpy() + slack) | (b["minz"].to_numpy() > a["maxz"].to_numpy() + slack)
    )
    if disjoint.any():
        fails.append(f"overlaps: {int(disjoint.sum())} pairs have disjoint bboxes")

    ww = ov[(ov["a_type"] == "segment") & (ov["b_type"] == "segment") & (ov["overlap_kind"] == "INTERSECT")]
    na = ov[(ov["a_type"] == "node") & (ov["b_type"] == "area") & (ov["overlap_kind"] == "CONTAIN")]
    ww_pairs = [frozenset(p) for p in zip(ww["a_id"], ww["b_id"])]
    na_pairs = [frozenset(p) for p in zip(na["a_id"], na["b_id"])]
    for w in windows:
        inw = _in_window(members, w)
        segs = inw[inw["etype"] == "segment"]
        seg_ids = set(segs["eid"])
        got = {p for p in ww_pairs if p <= seg_ids}
        want = _ww_expected(segs)
        if got != want:
            fails.append(f"overlaps: window {w} has {len(got)} WW INTERSECT pairs, brute force {len(want)}"
                         f" ({len(got - want)} extra, {len(want - got)} missing)")
        nodes = inw[(inw["etype"] == "node") & inw["x1"].between(w[0], w[2]) & inw["z1"].between(w[1], w[3])]
        node_ids = set(nodes["eid"])
        got = {p for p in na_pairs if p & node_ids}
        want = _na_expected(nodes, inw[inw["etype"] == "area"])
        if got != want:
            fails.append(f"overlaps: window {w} has {len(got)} NA CONTAIN pairs, ray cast {len(want)}"
                         f" ({len(got - want)} extra, {len(want - got)} missing)")
    return fails


# -------------------------------------------------------------- terrain


def _near_sites(vx, vz, sx, sz, radius):
    """(vertex index, site index) pairs closer than `radius`, by bucketing
    sites on a radius-sized grid and probing the 3x3 neighbourhood."""
    cell = lambda x, z: (np.floor(x / radius).astype(np.int64) << 32) + np.floor(z / radius).astype(np.int64)  # noqa: E731
    skey = cell(sx, sz)
    order = np.argsort(skey, kind="stable")
    skey_sorted = skey[order]
    vi_parts, si_parts = [], []
    for dx in (-1, 0, 1):
        for dz in (-1, 0, 1):
            key = cell(vx + dx * radius, vz + dz * radius)
            lo = np.searchsorted(skey_sorted, key, "left")
            hi = np.searchsorted(skey_sorted, key, "right")
            cnt = hi - lo
            vi = np.repeat(np.arange(len(vx)), cnt)
            offs = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            vi_parts.append(vi)
            si_parts.append(order[np.repeat(lo, cnt) + offs])
    vi, si = np.concatenate(vi_parts), np.concatenate(si_parts)
    d = np.sqrt((sx[si] - vx[vi]) ** 2 + (sz[si] - vz[vi]) ** 2)
    keep = d < radius
    return vi[keep], si[keep]


def sample_vertices(verts: pd.DataFrame, n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return verts.iloc[np.sort(rng.choice(len(verts), size=min(n, len(verts)), replace=False))]


def check_terrain(idw: pd.DataFrame, lsq: pd.DataFrame, zonal: pd.DataFrame,
                  verts: pd.DataFrame, sites: pd.DataFrame, sample: int, seed: int) -> list[str]:
    """IDW and 29-NN elevations against a numpy brute force over all sites
    on a vertex sample; every IDW value inside the range of its sites
    within the cutoff; zonal counts and min <= avg <= max."""
    fails = []
    for name, df in (("idw", idw), ("lsq29", lsq)):
        if len(df) != len(verts) or set(df["q_id"]) != set(verts["q_id"]):
            fails.append(f"terrain: {name} has {len(df)} rows for {len(verts)} vertices")
            return fails
    sx, sz, sy = (sites[c].to_numpy(np.float64) for c in ("x", "z", "y"))
    sid = sites["s_id"].to_numpy()
    idw_ele = idw.set_index("q_id")["ele"]
    lsq_ele = lsq.set_index("q_id")["ele"]
    pick = sample_vertices(verts, sample, seed)
    bad_idw = bad_lsq = 0
    for q in pick.itertuples(index=False):
        d = np.sqrt((sx - q.x) ** 2 + (sz - q.z) ** 2)
        near = d < IDW_CUTOFF
        if np.abs(d - IDW_CUTOFF).min() < 1e-6:
            continue  # a site on the cutoff circle: rounding decides
        got = idw_ele[q.q_id]
        if near.any():
            w = d[near] ** -2.0
            want = float((w * sy[near]).sum() / w.sum())
            if pd.isna(got) or not np.isclose(got, want, rtol=1e-7, atol=1e-7):
                bad_idw += 1
        elif not pd.isna(got):
            bad_idw += 1
        near = np.argpartition(d, LSQ_K + 1)[: LSQ_K + 1]
        order = near[np.lexsort((sid[near], d[near]))]
        if d[order[LSQ_K]] - d[order[LSQ_K - 1]] < 1e-9:
            continue  # a tie at the k-th neighbour
        nn = order[:LSQ_K]
        w = np.maximum(0.0, 1.0 - d[nn] / LSQ_FALLOFF)
        want = float((w * sy[nn]).sum() / w.sum()) if w.sum() > 0 else float("nan")
        got = lsq_ele[q.q_id]
        if not (np.isnan(want) and np.isnan(got)) and not np.isclose(got, want, rtol=1e-7, atol=1e-7):
            bad_lsq += 1
    if bad_idw:
        fails.append(f"terrain: {bad_idw} of {len(pick)} sampled IDW elevations differ from the brute force")
    if bad_lsq:
        fails.append(f"terrain: {bad_lsq} of {len(pick)} sampled 29-NN elevations differ from the brute force")

    v = verts.assign(ele=idw_ele.reindex(verts["q_id"]).to_numpy())
    vi, si = _near_sites(v["x"].to_numpy(), v["z"].to_numpy(), sx, sz, IDW_CUTOFF)
    lo = np.full(len(v), np.inf)
    hi = np.full(len(v), -np.inf)
    np.minimum.at(lo, vi, sy[si])
    np.maximum.at(hi, vi, sy[si])
    ele = v["ele"].to_numpy(np.float64)
    has = np.isfinite(lo)
    tol = 1e-6
    out_of_range = has & ((ele < lo - tol) | (ele > hi + tol) | np.isnan(ele))
    if out_of_range.any():
        fails.append(f"terrain: {int(out_of_range.sum())} IDW elevations lie outside their sites' range")

    if int(zonal["n_points"].sum()) != len(verts):
        fails.append(f"terrain: zonal n_points sums to {int(zonal['n_points'].sum())}, {len(verts)} vertices")
    z = zonal.dropna(subset=["avg_ele"])
    bad = (z["min_ele"] > z["avg_ele"] + tol) | (z["avg_ele"] > z["max_ele"] + tol)
    if bad.any():
        fails.append(f"terrain: {int(bad.sum())} tiles break min <= avg <= max")
    return fails


# ------------------------------------------------------------- pipeline


def stage_columns(path: str, columns: list[str]) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def stage_rows(path: str) -> list[tuple]:
    """All rows of a tile-partitioned parquet stage, as sorted tuples."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    data = t.select(cols).to_pylist()

    def frozen(v):
        if isinstance(v, list):
            return tuple(frozen(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, frozen(x)) for k, x in v.items()))
        return v

    return sorted((tuple(frozen(r[c]) for c in cols) for r in data), key=repr)


def check_same_rows(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    if got == want:
        return []
    g, w = set(got), set(want)
    return [f"pipeline: {what}: {len(got)} rows against {len(want)}"
            f" ({len(g - w)} only here, {len(w - g)} only in the reference)"]
