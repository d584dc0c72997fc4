"""The grid-partitioned spatial self-join: typed overlaps between elements.

Reference semantics (/root/reference/core/src/main/java/org/osm2world/
map_data/creation/OSMToMapDataConverter.java):

- candidate generation :418-439 — IndexGrid over padded bounds with
  ~1000-unit cells; every element is inserted into ALL cells its bbox
  overlaps and probed against its cell-mates.
- WW :486-509 — segment x segment: skip connected segments, else plain
  getLineSegmentIntersection -> MapIntersectionWW with the position.
- WA :515-620 — segment x area: SHARE_SEGMENT if both endpoints coincide
  with one area edge :522-536; else (not connected) INTERSECT if any true
  ring intersection, CONTAIN if both endpoints inside; (connected) 1 %-of-
  length epsilon near the shared nodes :559-567, contains tested at the
  segment center :574. INTERSECT payload = true intersections with each
  area edge :584-607.
- AA :623-718 — SHARE_SEGMENT if any exactly-equal edge pair :630-643;
  true intersection = any crossing farther than 0.01 from every common
  node :656-685; containment by the reference's idiosyncratic vertex rule
  (PolygonShapeXZ.java:84-91: each outer vertex of the other polygon is an
  exact vertex of this one OR inside it) — kept buggy-but-golden; CONTAIN
  rows carry (contained, container) order :705-711.
- NA :720-733 — node x area: point-in-polygon -> CONTAIN.

Spark shape (the scalable path, `spatial_self_join`): ONE hash shuffle of
the cell-covered surface -> per-group pair generation + refinement in a
single vectorized mapInPandas pass. Cross-cell dedup is the
reference-point rule (each pair emitted only by the cell holding the
lower corner of the two bboxes' intersection — a pure local test; no
global dropDuplicates exchange), and candidate pairs never touch the
shuffle at all. All geometry kernels are Arrow-batched numpy over packed
coordinate arrays; there is no per-row Python on the hot path.

Scale/skew: dense urban cells get ADAPTIVE triangle-split salting — a
cell with n elements is split into S ~ n/256 salt buckets, so every
(i, j) salt-pair group is a bounded, independently schedulable unit of
work regardless of density; the straggler cap that keeps wall-clock
scaling with cores. The cell key and the bbox cover come from
`functions/grid.py`, shared with the kNN, IDW and attachment joins.

Output (the MapOverlap golden row format, map_data/data/overlaps/):
    a_id, a_type, b_id, b_type, overlap_kind in
    {INTERSECT, CONTAIN, SHARE_SEGMENT}, positions array<struct<x,z>>
    ordered along a (distance from a's start, MapOverlapWA.java:69-74).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions import grid
from ..functions.geometry import _excl_cumsum, _pair_combos, _ranges
from ..sources.documents import way_segments

# Candidate-cell size. The reference's IndexGrid uses ~1000-unit cells
# (OSMToMapDataConverter.java:420-421) sized for whole-extract bounds; the
# pair set is IDENTICAL for any cell size (an element is inserted into all
# covered cells, so overlapping bboxes always share a cell) — only the
# within-cell cross-product cost changes. 150 m fits building-scale
# geometry: the dense-cluster n^2 term drops ~40x vs 1000 m.
CELL_SIZE_M = 150.0
EPS_COMMON_NODE = 0.01  # OSMToMapDataConverter.java:676

OVERLAPS_SCHEMA = StructType(
    [
        StructField("a_id", StringType()),
        StructField("a_type", StringType()),
        StructField("b_id", StringType()),
        StructField("b_type", StringType()),
        StructField("overlap_kind", StringType()),
        StructField(
            "positions",
            ArrayType(
                StructType([StructField("x", DoubleType()), StructField("z", DoubleType())])
            ),
        ),
    ]
)


# ------------------------------------------------------------ join surface

def join_surface(elements: DataFrame) -> DataFrame:
    """elements -> the unified join surface: nodes + way *segments* + areas
    (MapData.getMapElements, MapData.java:81-83; ways are flat-mapped into
    segments at construction :47).

    Columns: eid, etype in {node,segment,area}, way_key, seg_idx,
    x1,z1,x2,z2 (node: x1/z1; segment: both ends), geom (areas),
    minx,minz,maxx,maxz.
    """
    nodes = elements.where(F.col("element_type") == "node").select(
        F.concat_ws("#", "doc_id", "span_idx").alias("eid"),
        F.lit("node").alias("etype"),
        F.lit(None).cast("string").alias("way_key"),
        F.lit(None).cast("int").alias("seg_idx"),
        F.col("geom")[0][0].alias("x1"),
        F.col("geom")[0][1].alias("z1"),
        F.lit(None).cast("double").alias("x2"),
        F.lit(None).cast("double").alias("z2"),
        F.lit(None).cast("array<array<double>>").alias("geom"),
        F.col("minx"), F.col("minz"), F.col("maxx"), F.col("maxz"),
    )
    segs = way_segments(elements).select(
        F.concat_ws("#", "doc_id", "span_idx", "seg_idx").alias("eid"),
        F.lit("segment").alias("etype"),
        F.concat_ws("#", "doc_id", "span_idx").alias("way_key"),
        F.col("seg_idx"),
        "x1", "z1", "x2", "z2",
        F.lit(None).cast("array<array<double>>").alias("geom"),
        F.least("x1", "x2").alias("minx"),
        F.least("z1", "z2").alias("minz"),
        F.greatest("x1", "x2").alias("maxx"),
        F.greatest("z1", "z2").alias("maxz"),
    )
    areas = elements.where(F.col("element_type") == "area").select(
        F.concat_ws("#", "doc_id", "span_idx").alias("eid"),
        F.lit("area").alias("etype"),
        F.lit(None).cast("string").alias("way_key"),
        F.lit(None).cast("int").alias("seg_idx"),
        F.lit(None).cast("double").alias("x1"),
        F.lit(None).cast("double").alias("z1"),
        F.lit(None).cast("double").alias("x2"),
        F.lit(None).cast("double").alias("z2"),
        F.col("geom"),
        F.col("minx"), F.col("minz"), F.col("maxx"), F.col("maxz"),
    )
    return nodes.unionByName(segs).unionByName(areas)


# ------------------------------------------------------------- refinement
#
# All four type-pair refinements run in ONE mapInPandas pass over the
# candidate pairs (single scan, no materialization barrier): per Arrow
# batch the kernel splits by (a_etype, b_etype) and runs a fully
# vectorized numpy kernel per combination. No per-row Python loops on the
# hot path — Python-level iteration only builds the (small) INTERSECT
# position payload lists.


def _out_frame(a_ids, a_type, b_ids, b_type, kinds, positions) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "a_id": a_ids,
            "a_type": a_type,
            "b_id": b_ids,
            "b_type": b_type,
            "overlap_kind": kinds,
            "positions": positions,
        }
    )


def _ww_rows(pdf: pd.DataFrame) -> pd.DataFrame | None:
    """segment x segment (OSMToMapDataConverter.java:486-509): skip
    connected segments (same way, adjacent indices), else the parametric
    2x2 solve (GeometryUtil.getLineSegmentIntersection :222-260,
    approxZero eps=1e-4)."""
    if len(pdf) == 0:
        return None
    ax1 = pdf["a_x1"].to_numpy(np.float64)
    az1 = pdf["a_z1"].to_numpy(np.float64)
    ax2 = pdf["a_x2"].to_numpy(np.float64)
    az2 = pdf["a_z2"].to_numpy(np.float64)
    bx1 = pdf["b_x1"].to_numpy(np.float64)
    bz1 = pdf["b_z1"].to_numpy(np.float64)
    bx2 = pdf["b_x2"].to_numpy(np.float64)
    bz2 = pdf["b_z2"].to_numpy(np.float64)
    same_way = pdf["a_way_key"].values == pdf["b_way_key"].values
    dseg = np.abs(
        pdf["a_seg_idx"].to_numpy(np.float64) - pdf["b_seg_idx"].to_numpy(np.float64)
    )
    connected = same_way & (dseg <= 1)

    vx, vz = ax2 - ax1, az2 - az1
    qx, qz = bx2 - bx1, bz2 - bz1
    denom = vz * qx - vx * qz
    amcx, amcz = bx1 - ax1, bz1 - az1
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (amcz * qx - amcx * qz) / denom
        s = (amcz * vx - amcx * vz) / denom
    hit = (
        ~connected
        & (np.abs(denom) > 0.0001)
        & (t >= 0) & (t <= 1) & (s >= 0) & (s <= 1)
    )
    if not hit.any():
        return None
    ix = (ax1 + t * vx)[hit]
    iz = (az1 + t * vz)[hit]
    return _out_frame(
        pdf["a_eid"].values[hit],
        "segment",
        pdf["b_eid"].values[hit],
        "segment",
        "INTERSECT",
        # .tolist() up front: native floats in one C pass, no per-element
        # numpy-scalar -> float() call in the comprehension
        [[{"x": x, "z": z}] for x, z in zip(ix.tolist(), iz.tolist())],
    )


def _na_rows(pdf: pd.DataFrame) -> pd.DataFrame | None:
    """node x area -> CONTAIN via batched even-odd ray cast
    (OSMToMapDataConverter.java:720-733)."""
    from ..functions.geometry import contains_point, flatten

    if len(pdf) == 0:
        return None
    flat = flatten(pdf["b_geom"])
    inside = contains_point(
        pdf["a_x1"].to_numpy(np.float64), pdf["a_z1"].to_numpy(np.float64), flat
    )
    if not inside.any():
        return None
    return _out_frame(
        pdf["a_eid"].values[inside],
        "node",
        pdf["b_eid"].values[inside],
        "area",
        "CONTAIN",
        [[] for _ in range(int(inside.sum()))],
    )


def _wa_rows(pdf: pd.DataFrame) -> pd.DataFrame | None:
    """segment x area (OSMToMapDataConverter.java:515-620): SHARE_SEGMENT /
    INTERSECT (with ordered positions) / CONTAIN with the 1%-of-length
    epsilon rule near shared nodes and midpoint-containment for connected
    segments."""
    from ..functions.geometry import contains_point, flatten, segment_ring_intersections

    n = len(pdf)
    if n == 0:
        return None
    flat = flatten(pdf["b_geom"])
    sx1 = pdf["a_x1"].to_numpy(np.float64)
    sz1 = pdf["a_z1"].to_numpy(np.float64)
    sx2 = pdf["a_x2"].to_numpy(np.float64)
    sz2 = pdf["a_z2"].to_numpy(np.float64)

    # SHARE_SEGMENT: both endpoints equal one area edge's ends (:522-536)
    ex1, ez1, ex2, ez2, erow, _ = flat.edges()
    fwd = (ex1 == sx1[erow]) & (ez1 == sz1[erow]) & (ex2 == sx2[erow]) & (ez2 == sz2[erow])
    rev = (ex1 == sx2[erow]) & (ez1 == sz2[erow]) & (ex2 == sx1[erow]) & (ez2 == sz1[erow])
    share = np.zeros(n, dtype=bool)
    hitrows = erow[fwd | rev]
    if len(hitrows):
        share[hitrows] = True

    # connectivity: a segment endpoint equals any area vertex
    pt_row = np.repeat(flat.ring_row, flat.ring_npts)
    p1_match = (flat.px == sx1[pt_row]) & (flat.pz == sz1[pt_row])
    p2_match = (flat.px == sx2[pt_row]) & (flat.pz == sz2[pt_row])
    connected = np.zeros(n, dtype=bool)
    np.logical_or.at(connected, pt_row[p1_match | p2_match], True)

    # true intersections with every ring edge
    irow, _, ix, iz, ta = segment_ring_intersections(sx1, sz1, sx2, sz2, flat)

    seg_len = np.sqrt((sx2 - sx1) ** 2 + (sz2 - sz1) ** 2)
    d1 = np.sqrt((ix - sx1[irow]) ** 2 + (iz - sz1[irow]) ** 2)
    d2 = np.sqrt((ix - sx2[irow]) ** 2 + (iz - sz2[irow]) ** 2)
    far_from_ends = (d1 > seg_len[irow] / 100) & (d2 > seg_len[irow] / 100)

    any_int = np.zeros(n, dtype=bool)
    any_far_int = np.zeros(n, dtype=bool)
    if len(irow):
        np.logical_or.at(any_int, irow, True)
        np.logical_or.at(any_far_int, irow[far_from_ends], True)

    intersects = np.where(connected, any_far_int, any_int) & ~share

    in1 = contains_point(sx1, sz1, flat)
    in2 = contains_point(sx2, sz2, flat)
    in_c = contains_point((sx1 + sx2) / 2, (sz1 + sz2) / 2, flat)
    contains = np.where(connected, in_c, in1 & in2 & ~any_int) & ~intersects & ~share

    kinds = np.array([""] * n, dtype=object)
    kinds[share] = "SHARE_SEGMENT"
    kinds[intersects] = "INTERSECT"
    kinds[contains] = "CONTAIN"
    keep = kinds != ""
    if not keep.any():
        return None

    # ordered positions for INTERSECT rows (distance-from-start order,
    # MapOverlapWA.java:69-74): group the hits by row after a (row, ta) sort
    positions = [[] for _ in range(int(keep.sum()))]
    if len(irow):
        out_pos_idx = np.full(n, -1, dtype=np.int64)
        out_pos_idx[keep] = np.arange(int(keep.sum()))
        order = np.lexsort((ta, irow))
        irow_s, ix_s, iz_s = irow[order], ix[order], iz[order]
        want = intersects[irow_s]
        irow_s, ix_s, iz_s = irow_s[want], ix_s[want], iz_s[want]
        if len(irow_s):
            bounds = np.searchsorted(irow_s, np.unique(irow_s), side="left")
            uniq = np.unique(irow_s)
            ends = np.append(bounds[1:], len(irow_s))
            ix_l, iz_l = ix_s.tolist(), iz_s.tolist()  # native floats once
            for r, s0, s1 in zip(uniq.tolist(), bounds.tolist(), ends.tolist()):
                positions[out_pos_idx[r]] = [
                    {"x": x, "z": z} for x, z in zip(ix_l[s0:s1], iz_l[s0:s1])
                ]
    return _out_frame(
        pdf["a_eid"].values[keep],
        "segment",
        pdf["b_eid"].values[keep],
        "area",
        kinds[keep],
        positions,
    )


def _vertex_rule_contains(f_c, f_o, row_mask: np.ndarray) -> np.ndarray:
    """PolygonShapeXZ.contains(PolygonShapeXZ) vertex rule, vectorized
    (PolygonShapeXZ.java:84-91): for each masked row, every vertex of the
    OTHER polygon's outer ring is an exact vertex of the container or
    inside it (holes respected). Kept vertex-based on purpose (the
    reference's own FIXME semantics)."""
    from ..functions.geometry import contains_points_multi

    n = len(row_mask)
    o_pt_ring = np.repeat(np.arange(f_o.n_rings, dtype=np.int64), f_o.ring_npts)
    o_pt_row = f_o.ring_row[o_pt_ring]
    q_mask = (f_o.ring_idx[o_pt_ring] == 0) & row_mask[o_pt_row]
    if not q_mask.any():
        return np.zeros(n, dtype=bool)
    qx, qz, qrow = f_o.px[q_mask], f_o.pz[q_mask], o_pt_row[q_mask]

    # exact-vertex membership: expansion (query pts x container OUTER-ring
    # pts of row). vertices() in the reference is outerPolygon.vertices()
    # (PolygonWithHolesXZ), so a query vertex matching only a HOLE vertex
    # must fall through to the PIP check, not shortcut to "inside".
    c_pt_ring = np.repeat(np.arange(f_c.n_rings, dtype=np.int64), f_c.ring_npts)
    c_pt_row = f_c.ring_row[c_pt_ring]
    c_outer = f_c.ring_idx[c_pt_ring] == 0
    ox, oz, orow = f_c.px[c_outer], f_c.pz[c_outer], c_pt_row[c_outer]
    n_c_pts = np.bincount(orow, minlength=n)
    c_start = _excl_cumsum(n_c_pts)
    mq = n_c_pts[qrow]
    comb_q = np.repeat(np.arange(len(qx), dtype=np.int64), mq)
    comb_c = c_start[qrow[comb_q]] + _ranges(mq)
    eq = (ox[comb_c] == qx[comb_q]) & (oz[comb_c] == qz[comb_q])
    is_vertex = np.zeros(len(qx), dtype=bool)
    if eq.any():
        np.logical_or.at(is_vertex, comb_q[eq], True)

    ok = is_vertex.copy()
    need = ~is_vertex
    if need.any():
        ok[need] = contains_points_multi(qx[need], qz[need], qrow[need], f_c)

    bad = np.zeros(n, dtype=bool)
    if (~ok).any():
        np.logical_or.at(bad, qrow[~ok], True)
    has_pts = np.zeros(n, dtype=bool)
    has_pts[qrow] = True
    return row_mask & has_pts & ~bad


def _aa_rows(pdf: pd.DataFrame) -> pd.DataFrame | None:
    """area x area (OSMToMapDataConverter.java:623-718), fully vectorized:
    SHARE_SEGMENT on any exactly-equal edge pair (:630-643); INTERSECT if
    any true crossing farther than 0.01 from every common vertex
    (:656-685); else the vertex containment rule with (contained,
    container) output order (:689-711)."""
    from ..functions.geometry import flatten, true_segment_intersection

    n = len(pdf)
    if n == 0:
        return None
    fa = flatten(pdf["a_geom"])
    fb = flatten(pdf["b_geom"])
    ax1, az1, ax2, az2, arow, _ = fa.edges()
    bx1, bz1, bx2, bz2, brow, _ = fb.edges()
    na_e = np.bincount(arow, minlength=n)
    nb_e = np.bincount(brow, minlength=n)
    comb_row, ii, jj = _pair_combos(na_e, nb_e)

    # shared segment (exact, either direction)
    sf = (ax1[ii] == bx1[jj]) & (az1[ii] == bz1[jj]) & (ax2[ii] == bx2[jj]) & (az2[ii] == bz2[jj])
    sr = (ax1[ii] == bx2[jj]) & (az1[ii] == bz2[jj]) & (ax2[ii] == bx1[jj]) & (az2[ii] == bz1[jj])
    share = np.zeros(n, dtype=bool)
    anyshare = sf | sr
    if anyshare.any():
        np.logical_or.at(share, comb_row[anyshare], True)

    # common vertices (coordinate equality across the two polygons)
    a_pt_ring = np.repeat(np.arange(fa.n_rings, dtype=np.int64), fa.ring_npts)
    b_pt_ring = np.repeat(np.arange(fb.n_rings, dtype=np.int64), fb.ring_npts)
    a_pt_row = fa.ring_row[a_pt_ring]
    b_pt_row = fb.ring_row[b_pt_ring]
    npa = np.bincount(a_pt_row, minlength=n)
    npb = np.bincount(b_pt_row, minlength=n)
    prow, pi, pj = _pair_combos(npa, npb)
    eq = (fa.px[pi] == fb.px[pj]) & (fa.pz[pi] == fb.pz[pj])
    cn_row = prow[eq]
    cn_x = fa.px[pi[eq]]
    cn_z = fa.pz[pi[eq]]
    n_cn = np.bincount(cn_row, minlength=n)
    has_cn = n_cn > 0

    # true ring-x-ring crossings; eps rule near common vertices
    hit, hx_all, hz_all = true_segment_intersection(
        ax1[ii], az1[ii], ax2[ii], az2[ii], bx1[jj], bz1[jj], bx2[jj], bz2[jj]
    )
    intersect = np.zeros(n, dtype=bool)
    if hit.any():
        hrow = comb_row[hit]
        hx = hx_all[hit]
        hz = hz_all[hit]
        no_cn = ~has_cn[hrow]
        if no_cn.any():
            np.logical_or.at(intersect, hrow[no_cn], True)
        sel = ~no_cn
        if sel.any():
            h2row, h2x, h2z = hrow[sel], hx[sel], hz[sel]
            cn_start = _excl_cumsum(n_cn)
            mh = n_cn[h2row]
            ch = np.repeat(np.arange(len(h2row), dtype=np.int64), mh)
            cidx = cn_start[h2row[ch]] + _ranges(mh)
            d2 = (h2x[ch] - cn_x[cidx]) ** 2 + (h2z[ch] - cn_z[cidx]) ** 2
            near_hit = np.zeros(len(h2row), dtype=bool)
            nr = d2 < EPS_COMMON_NODE ** 2
            if nr.any():
                np.logical_or.at(near_hit, ch[nr], True)
            far = ~near_hit
            if far.any():
                np.logical_or.at(intersect, h2row[far], True)
    intersect &= ~share

    # containment (reference order: a-contains-b first, :688-711). The
    # reference computes containment UNCONDITIONALLY (not gated on
    # ~intersects) and lets CONTAIN win when both hold — reachable with
    # concave containers whose outline truly crosses the contained ring
    # while every contained vertex still passes the vertex rule. The
    # vertex rule implies every contained outer vertex lies in the
    # container (exact-vertex or PIP), hence contained-bbox within
    # container-bbox — a free numpy prefilter that keeps the expensive
    # rule off the vast majority of merely-crossing pairs.
    def _row_bbox(f, pt_row):
        mnx = np.full(n, np.inf); mnz = np.full(n, np.inf)
        mxx = np.full(n, -np.inf); mxz = np.full(n, -np.inf)
        np.minimum.at(mnx, pt_row, f.px)
        np.minimum.at(mnz, pt_row, f.pz)
        np.maximum.at(mxx, pt_row, f.px)
        np.maximum.at(mxz, pt_row, f.pz)
        return mnx, mnz, mxx, mxz

    a_mnx, a_mnz, a_mxx, a_mxz = _row_bbox(fa, a_pt_row)
    b_mnx, b_mnz, b_mxx, b_mxz = _row_bbox(fb, b_pt_row)
    b_in_a = (b_mnx >= a_mnx) & (b_mxx <= a_mxx) & (b_mnz >= a_mnz) & (b_mxz <= a_mxz)
    a_in_b = (a_mnx >= b_mnx) & (a_mxx <= b_mxx) & (a_mnz >= b_mnz) & (a_mxz <= b_mxz)

    cand = ~share
    a_contains_b = _vertex_rule_contains(fa, fb, cand & b_in_a)
    b_contains_a = _vertex_rule_contains(fb, fa, cand & ~a_contains_b & a_in_b)

    kinds = np.array([""] * n, dtype=object)
    kinds[share] = "SHARE_SEGMENT"
    kinds[intersect] = "INTERSECT"
    kinds[a_contains_b | b_contains_a] = "CONTAIN"  # overrides INTERSECT
    keep = kinds != ""
    if not keep.any():
        return None
    a_ids = pdf["a_eid"].values
    b_ids = pdf["b_eid"].values
    # CONTAIN rows emit (contained, container)
    first = np.where(a_contains_b, b_ids, a_ids)[keep]
    second = np.where(a_contains_b, a_ids, b_ids)[keep]
    return _out_frame(
        first, "area", second, "area", kinds[keep], [[] for _ in range(int(keep.sum()))]
    )


def _refine_kernel(batches):
    """Single-pass refinement over candidate-pair batches."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        at = pdf["a_etype"].values
        bt = pdf["b_etype"].values
        outs = []
        for fn, m in (
            (_ww_rows, (at == "segment") & (bt == "segment")),
            (_na_rows, (at == "node") & (bt == "area")),
            (_wa_rows, (at == "segment") & (bt == "area")),
            (_aa_rows, (at == "area") & (bt == "area")),
        ):
            if m.any():
                out = fn(pdf[m])
                if out is not None and len(out):
                    outs.append(out)
        if outs:
            yield pd.concat(outs, ignore_index=True)


# ------------------------------------------- single-shuffle cell grouping
#
# The scalable path: ONE hash shuffle of the cell-covered surface, then
# everything — pair generation, cross-cell dedup, refinement — runs
# vectorized inside one mapInPandas pass over cell-sorted partitions.
#
# Cross-cell dedup is the REFERENCE-POINT rule (no dropDuplicates shuffle):
# two bbox-overlapping elements share exactly the cells covering their
# bbox intersection (1-D Helly: pairwise-intersecting intervals share a
# point), so the pair is emitted only by the cell containing the
# intersection's lower corner (max(minx), max(minz)) — a pure local test.
#
# Dense-cell skew keeps the triangle-split salting: an element with salt s
# in a dense cell is replicated to the S groups {(cell, min(s,t),
# max(s,t)) : t}, and group (i, j) emits only (salt_i x salt_j) pairs, so
# one quadratic cell becomes S(S+1)/2 bounded, independently-scheduled
# groups.

# pair rows materialized per expansion block. Small blocks both bound
# dense-cell peak memory AND measure faster than monolithic frames (the
# ~20-col object-array pair frame stays cache/GC-friendly and refinement
# streams while expansion continues): interleaved A/B at 120k docs,
# local[32] — best trial 7.5 s with 64k blocks vs 11.7 s with 2M blocks.
_PAIR_BLOCK = 65_536


# adaptive salting: a dense cell with n elements gets S = ceil(n /
# _TARGET_SIDE) salt buckets, so every (i, j) group's pair-combo count is
# bounded by ~(2 * _TARGET_SIDE)^2 regardless of how dense the city is —
# the straggler cap that makes wall-clock scale with cores. The bucket
# count is fully density-derived up to _MAX_SALT = 1024, i.e. the bounded-
# task guarantee holds to _TARGET_SIDE * _MAX_SALT = 262k elements PER
# 100 m CELL (far beyond any real urban density; beyond it groups grow
# quadratically again). Memory bound: a dense cell replicates each element
# S times (n * S slim rows ~ n^2 / _TARGET_SIDE), the price of making the
# quadratic work independently schedulable. The cap also sizes the gkey
# packing: cell keys use 42 bits (functions/grid.py), so gi/gj strides of
# 2^10 each keep gkey = cell * _MAX_SALT^2 + gi * _MAX_SALT + gj inside int64.
_TARGET_SIDE = 256
_MAX_SALT = 1024


def _dense_cells(covered: DataFrame, threshold: int) -> DataFrame:
    s_cell = F.least(
        F.lit(_MAX_SALT),
        F.greatest(F.lit(2), F.ceil(F.col("n_in_cell") / F.lit(_TARGET_SIDE)).cast("int")),
    )
    return (
        covered.groupBy("cell")
        .agg(F.count("*").alias("n_in_cell"))
        .where(F.col("n_in_cell") > threshold)
        .select("cell", s_cell.alias("s_cell"))
    )


def _grouped_surface(
    surface: DataFrame,
    cell_size: float,
    dense_threshold: int,
) -> DataFrame:
    """surface -> cell-cover explode -> salted group keys, hash-partitioned
    and sorted by group so each group is contiguous within its partition."""
    covered = surface.withColumn(
        "cell",
        F.explode(grid.bbox_cells(F.col("minx"), F.col("minz"), F.col("maxx"), F.col("maxz"), cell_size)),
    )
    covered = covered.join(F.broadcast(_dense_cells(covered, dense_threshold)), "cell", "left")
    covered = covered.withColumn("s_cell", F.coalesce(F.col("s_cell"), F.lit(1)))
    covered = covered.withColumn(
        "salt", F.pmod(F.xxhash64("eid"), F.col("s_cell")).cast("int")
    )
    t = F.explode(F.sequence(F.lit(0), F.col("s_cell") - 1))
    replicated = covered.withColumn("t", t).select(
        "*",
        F.least("salt", "t").alias("gi"),
        F.greatest("salt", "t").alias("gj"),
    )
    # one sortable bigint group key: cell in the high bits, (gi, gj) low
    gkey = (F.col("cell") * (_MAX_SALT * _MAX_SALT)) + F.col("gi") * _MAX_SALT + F.col("gj")
    cols = ["eid", "etype", "way_key", "seg_idx", "x1", "z1", "x2", "z2",
            "geom", "minx", "minz", "maxx", "maxz", "salt"]
    # explicit partition count: repartition(col) without one lets AQE
    # coalesce the exchange down to a handful of partitions (its size
    # estimate ignores the quadratic per-group kernel cost), starving the
    # executors — observed as 50% idle CPUs on local[16]
    n_parts = int(surface.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # type rank computed JVM-side: the kernel's canonical (a, b) ordering
    # needs it per pair, and a pandas .map over every surface row was ~8%
    # of kernel time
    trank = (
        F.when(F.col("etype") == "node", 0)
        .when(F.col("etype") == "segment", 1)
        .otherwise(2)
        .cast("int")
        .alias("trank")
    )
    return (
        replicated.select(gkey.alias("gkey"), F.col("cell"), F.col("gi"), F.col("gj"), trank, *cols)
        .repartition(2 * n_parts, F.col("gkey"))
        .sortWithinPartitions("gkey", "eid")
    )


def _emit_group_pairs(pdf: pd.DataFrame, cell_size: float, pair_block: int = _PAIR_BLOCK):
    """Vectorized pair generation for a frame of WHOLE groups (sorted by
    (gkey, eid)). Diagonal groups (gi == gj) expand TRIANGULAR combos
    directly — row order within a group is eid order, so each unordered
    pair appears exactly once, already eid-ascending. Off-diagonal (salted)
    groups expand left-side (salt == gi) x right-side (salt == gj) only.
    No per-combo dedup predicates needed.

    GENERATOR: yields pair DataFrames in refinement layout, at most
    `pair_block` rows each. The combo index arrays (16 bytes/combo) span
    the whole frame, but they shrink through the bbox + reference-point
    filters BEFORE the ~20-column pair frame materializes, so peak memory
    on a dense-cell frame is bounded by pair_block wide rows plus slim int
    arrays — not the full cartesian expansion."""
    n = len(pdf)
    if n == 0:
        return
    gkey = pdf["gkey"].to_numpy(np.int64)
    change = np.nonzero(np.diff(gkey))[0] + 1
    starts = np.concatenate([[0], change]).astype(np.int64)
    sizes = np.diff(np.concatenate([starts, [n]])).astype(np.int64)

    minx = pdf["minx"].to_numpy(np.float64)
    minz = pdf["minz"].to_numpy(np.float64)
    maxx = pdf["maxx"].to_numpy(np.float64)
    maxz = pdf["maxz"].to_numpy(np.float64)
    salt = pdf["salt"].to_numpy(np.int64)
    gi_row = pdf["gi"].to_numpy(np.int64)
    gj_row = pdf["gj"].to_numpy(np.int64)
    grp_of_row = np.repeat(np.arange(len(starts), dtype=np.int64), sizes)
    local = np.arange(n, dtype=np.int64) - starts[grp_of_row]
    diag_row = gi_row == gj_row

    ii_parts, jj_parts = [], []

    # diagonal groups: triangular expansion (pairs-to-the-right per row)
    if diag_row.any():
        rows = np.nonzero(diag_row)[0]
        cnt = (sizes[grp_of_row] - 1 - local)[rows]
        ii_parts.append(np.repeat(rows, cnt))
        jj_parts.append(np.repeat(rows + 1, cnt) + _ranges(cnt))

    # off-diagonal groups: left-side x right-side cross product
    if (~diag_row).any():
        l_rows = np.nonzero(~diag_row & (salt == gi_row))[0]
        r_rows = np.nonzero(~diag_row & (salt == gj_row))[0]
        if len(l_rows) and len(r_rows):
            ng = len(starts)
            nl = np.bincount(grp_of_row[l_rows], minlength=ng)
            nr = np.bincount(grp_of_row[r_rows], minlength=ng)
            _, li, ri = _pair_combos(nl, nr)
            ii_parts.append(l_rows[li])
            jj_parts.append(r_rows[ri])

    if not ii_parts:
        return
    ii = np.concatenate(ii_parts)
    jj = np.concatenate(jj_parts)
    if len(ii) == 0:
        return

    # inclusive bbox overlap prefilter
    keep = (minx[ii] <= maxx[jj]) & (minx[jj] <= maxx[ii])
    keep &= (minz[ii] <= maxz[jj]) & (minz[jj] <= maxz[ii])
    if not keep.any():
        return
    ii, jj = ii[keep], jj[keep]

    # reference-point dedup: the pair belongs to the cell holding the
    # lower corner of the bbox intersection
    cell = pdf["cell"].to_numpy(np.int64)[ii]
    rx = np.maximum(minx[ii], minx[jj])
    rz = np.maximum(minz[ii], minz[jj])
    own = grid.point_key_np(rx, rz, cell_size) == cell
    if not own.any():
        return
    ii, jj = ii[own], jj[own]

    # canonical order: eid-ascending (diag pairs already are; only the
    # off-diag pairs can need a swap), then type rank. Both members of a
    # pair sit in the SAME group of a frame sorted by (gkey, eid), so row
    # index order IS eid order — an integer compare replaces the earlier
    # fixed-width string compare (which itself replaced an O(P log P)
    # string argsort).
    swap_eid = ii > jj
    a = np.where(swap_eid, jj, ii)
    b = np.where(swap_eid, ii, jj)
    rank = pdf["trank"].to_numpy(np.int64)
    swap_t = rank[a] > rank[b]
    a, b = np.where(swap_t, b, a), np.where(swap_t, a, b)

    col_vals = {c: pdf[c].values for c in ("eid", "etype", "way_key", "seg_idx", "x1", "z1", "x2", "z2", "geom")}
    for s in range(0, len(a), max(pair_block, 1)):
        sl = slice(s, s + max(pair_block, 1))
        cols = {}
        for c, vals in col_vals.items():
            cols[f"a_{c}"] = vals[a[sl]]
            cols[f"b_{c}"] = vals[b[sl]]
        yield pd.DataFrame(cols)


def _cell_join_kernel(cell_size: float, pair_block: int = _PAIR_BLOCK):
    def kernel(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            # hold back the (possibly incomplete) trailing group
            gk = pdf["gkey"].to_numpy(np.int64)
            last = gk[-1]
            cut = int(np.searchsorted(gk, last, side="left"))
            carry = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            for pairs in _emit_group_pairs(ready, cell_size, pair_block):
                if len(pairs):
                    yield from _refine_kernel([pairs])
        if carry is not None and len(carry):
            for pairs in _emit_group_pairs(carry, cell_size, pair_block):
                if len(pairs):
                    yield from _refine_kernel([pairs])

    return kernel


# ----------------------------------------------------------- entry point

def spatial_self_join(
    elements: DataFrame,
    cell_size: float = CELL_SIZE_M,
    dense_threshold: int = 768,
    pair_block: int = _PAIR_BLOCK,
) -> DataFrame:
    """Full typed-overlap self-join over an elements DataFrame in ONE
    shuffle: cell-cover explode -> hash repartition + sort by group key ->
    a single mapInPandas pass that generates candidate pairs per cell
    group (reference-point cross-cell dedup, no global dropDuplicates),
    and refines them with the vectorized type-pair kernels in place. The
    only wide exchange is the covered surface itself; pairs never hit the
    shuffle."""
    surface = join_surface(elements)
    grouped = _grouped_surface(surface, cell_size, dense_threshold)
    return grouped.mapInPandas(
        _cell_join_kernel(cell_size, pair_block), schema=OVERLAPS_SCHEMA
    )
