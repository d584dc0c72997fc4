"""Polygon boolean operations (CAG): intersection / difference by
triangle decomposition.

Reference: CAGUtil (/root/reference/core/src/main/java/org/osm2world/math/
algorithms/CAGUtil.java): `subtractPolygons` (:37-41) and
`intersectPolygons` (:90-93) compute constructive-area-geometry results
via face decomposition (FaceDecompositionUtil) with a JTS fallback
(:43-88). The *analytics* surface we reproduce: exact intersection /
difference areas and an explicit decomposition of the intersection region.

Spark shape: polygons (with holes) are ear-clipped into triangle soups
(the engine's triangulation operator); triangle x triangle intersection is
convex∩convex, solved exactly by Sutherland-Hodgman half-plane clipping.
area(A ∩ B) = sum over clipped pieces; area(A \\ B) = area(A) − area(A ∩ B)
(valid because the pieces partition the intersection). Runs per pair
inside one mapInPandas batch — pairs parallelize across the cluster, and
each pair's work is bounded by its triangle counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.geometry import _excl_cumsum, _pair_combos, _ranges
from .triangulate import _bridge_hole, _ear_clip, _signed_area2


def _poly_triangles(geom) -> list[np.ndarray]:
    """geometry (list of packed closed rings; ring 0 outer, rest holes) ->
    list of (3,2) CCW triangles."""
    rings = []
    for ring in geom:
        arr = np.asarray(ring, dtype=np.float64)
        xs, zs = arr[0::2], arr[1::2]
        if len(xs) >= 2 and xs[0] == xs[-1] and zs[0] == zs[-1]:
            xs, zs = xs[:-1], zs[:-1]
        if len(xs) >= 3:
            rings.append((xs, zs))
    if not rings:
        return []
    oxs, ozs = rings[0]
    if _signed_area2(oxs, ozs) < 0:
        oxs, ozs = oxs[::-1], ozs[::-1]
    holes = []
    for hxs, hzs in rings[1:]:
        if _signed_area2(hxs, hzs) > 0:
            hxs, hzs = hxs[::-1], hzs[::-1]
        holes.append((hxs, hzs))
    holes.sort(key=lambda h: -float(np.max(h[0])))
    for hxs, hzs in holes:
        oxs, ozs = _bridge_hole(oxs, ozs, hxs, hzs)
    return [
        np.array([[oxs[i], ozs[i]], [oxs[j], ozs[j]], [oxs[k], ozs[k]]])
        for i, j, k in _ear_clip(oxs, ozs)
    ]


def _clip_convex(poly: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip polygon `poly` (n,2) by CCW convex
    `clipper` (m,2). Returns the (k,2) clipped polygon (possibly empty)."""
    out = poly
    m = len(clipper)
    for e in range(m):
        if len(out) == 0:
            break
        ax, az = clipper[e]
        bx, bz = clipper[(e + 1) % m]
        # inside = left of directed edge a->b (CCW interior)
        d = (bx - ax) * (out[:, 1] - az) - (bz - az) * (out[:, 0] - ax)
        inside = d >= 0
        nxt = np.roll(np.arange(len(out)), -1)
        res = []
        for i in range(len(out)):
            j = nxt[i]
            if inside[i]:
                res.append(out[i])
                if not inside[j]:
                    t = d[i] / (d[i] - d[j])
                    res.append(out[i] + t * (out[j] - out[i]))
            elif inside[j]:
                t = d[i] / (d[i] - d[j])
                res.append(out[i] + t * (out[j] - out[i]))
        out = np.asarray(res) if res else np.empty((0, 2))
    return out


def _poly_area(p: np.ndarray) -> float:
    if len(p) < 3:
        return 0.0
    return 0.5 * float(
        np.dot(p[:, 0], np.roll(p[:, 1], -1)) - np.dot(np.roll(p[:, 0], -1), p[:, 1])
    )


def intersection_pieces(a_geom, b_geom) -> tuple[float, float, float, list[np.ndarray]]:
    """(area_a, area_b, area_intersection, pieces): the convex pieces
    partition A ∩ B."""
    tris_a = _poly_triangles(a_geom)
    tris_b = _poly_triangles(b_geom)
    area_a = sum(_poly_area(t) for t in tris_a)
    area_b = sum(_poly_area(t) for t in tris_b)
    pieces = []
    inter = 0.0
    for ta in tris_a:
        for tb in tris_b:
            p = _clip_convex(ta, tb)
            ar = _poly_area(p)
            if ar > 0.0:
                pieces.append(p)
                inter += ar
    return area_a, area_b, inter, pieces


# ------------------------------------------------------ flat pair kernel
#
# Batch-vectorized tri x tri clipping: ALL (triangle_of_A x triangle_of_B)
# combos of an Arrow batch are clipped at once (geometry._pair_combos,
# the row-expansion the AA spatial-join kernel uses), 3 half-plane passes per
# clip since the clipper is a triangle. The scalar _clip_convex above is
# retained as the semantics oracle (equivalence-tested in
# tests/test_boolean.py).


def _halfplane_pass(px, pz, starts, npts, eax, eaz, ebx, ebz):
    """One general half-plane clip pass over ALL polys at once: poly k is
    clipped to the left of its directed edge (eax[k],eaz[k])->(ebx,ebz).
    Emission order/formulas identical to _clip_convex (cur if inside, then
    intersection at t = d_i / (d_i - d_j))."""
    n_polys = len(starts)
    total = len(px)
    if total == 0:
        return px, pz, starts, npts
    poly_of = np.repeat(np.arange(n_polys, dtype=np.int64), npts)
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, npts)
    nxt = np.where(
        within == np.repeat(npts, npts) - 1,
        np.repeat(starts, npts),
        np.arange(total, dtype=np.int64) + 1,
    )
    ax, az = eax[poly_of], eaz[poly_of]
    d = (ebx[poly_of] - ax) * (pz - az) - (ebz[poly_of] - az) * (px - ax)
    inside = d >= 0
    in_nxt = inside[nxt]
    cross = inside != in_nxt
    dd = d - d[nxt]
    t = np.where(cross, d / np.where(dd != 0, dd, 1.0), 0.0)
    ix = px + t * (px[nxt] - px)
    iz = pz + t * (pz[nxt] - pz)

    emit = inside.astype(np.int64) + cross.astype(np.int64)
    pos = np.cumsum(emit) - emit
    out_total = int(emit.sum())
    out_x = np.empty(out_total)
    out_z = np.empty(out_total)
    out_x[pos[inside]] = px[inside]
    out_z[pos[inside]] = pz[inside]
    ipos = pos[cross] + inside[cross].astype(np.int64)
    out_x[ipos] = ix[cross]
    out_z[ipos] = iz[cross]
    new_npts = np.bincount(poly_of, weights=emit, minlength=n_polys).astype(np.int64)
    return out_x, out_z, _excl_cumsum(new_npts), new_npts


def _flat_shoelace(px, pz, starts, npts) -> np.ndarray:
    """Signed area per poly over the flat layout (open rings)."""
    total = len(px)
    if total == 0:
        return np.zeros(len(starts))
    n_polys = len(starts)
    poly_of = np.repeat(np.arange(n_polys, dtype=np.int64), npts)
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, npts)
    nxt = np.where(
        within == np.repeat(npts, npts) - 1,
        np.repeat(starts, npts),
        np.arange(total, dtype=np.int64) + 1,
    )
    terms = px * pz[nxt] - px[nxt] * pz
    return 0.5 * np.bincount(poly_of, weights=terms, minlength=n_polys)


def _batch_boolean(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized kernel body: triangulate per row (inherently sequential,
    bounded by polygon size), then clip ALL triangle pairs of the batch in
    3 flat half-plane passes."""
    tris_a_all, tris_b_all, na, nb, area_a, area_b = [], [], [], [], [], []
    for ag, bg in zip(pdf["a_geom"], pdf["b_geom"]):
        ta = _poly_triangles(ag)
        tb = _poly_triangles(bg)
        tris_a_all.extend(ta)
        tris_b_all.extend(tb)
        na.append(len(ta))
        nb.append(len(tb))
        area_a.append(sum(_poly_area(t) for t in ta))
        area_b.append(sum(_poly_area(t) for t in tb))
    n = len(pdf)
    na = np.asarray(na, dtype=np.int64)
    nb = np.asarray(nb, dtype=np.int64)
    area_a = np.asarray(area_a)
    area_b = np.asarray(area_b)
    if tris_a_all and tris_b_all and (na * nb).sum() > 0:
        TA = np.asarray(tris_a_all)  # (sum(na), 3, 2)
        TB = np.asarray(tris_b_all)
        comb_row, ii, jj = _pair_combos(na, nb)
        ta_g = TA[ii]  # single gather; slicing it avoids a second full copy
        px = ta_g[:, :, 0].ravel()
        pz = ta_g[:, :, 1].ravel()
        npts = np.full(len(ii), 3, dtype=np.int64)
        starts = np.arange(len(ii), dtype=np.int64) * 3
        for e in range(3):
            px, pz, starts, npts = _halfplane_pass(
                px, pz, starts, npts,
                TB[jj, e, 0], TB[jj, e, 1],
                TB[jj, (e + 1) % 3, 0], TB[jj, (e + 1) % 3, 1],
            )
        areas = _flat_shoelace(px, pz, starts, npts)
        areas = np.where(npts >= 3, areas, 0.0)
        pos_mask = areas > 0.0
        inter = np.bincount(comb_row[pos_mask], weights=areas[pos_mask], minlength=n)
        n_pieces = np.bincount(comb_row[pos_mask], minlength=n).astype(np.int64)
    else:
        inter = np.zeros(n)
        n_pieces = np.zeros(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "pair_id": pdf["pair_id"].to_numpy(),
            "n_pieces": n_pieces.astype(np.int32),
            "area_a": area_a,
            "area_b": area_b,
            "area_intersection": inter,
            "area_a_minus_b": area_a - inter,
            "area_b_minus_a": area_b - inter,
        }
    )


BOOLEAN_SCHEMA = StructType(
    [
        StructField("pair_id", StringType()),
        StructField("n_pieces", IntegerType()),
        StructField("area_a", DoubleType()),
        StructField("area_b", DoubleType()),
        StructField("area_intersection", DoubleType()),
        StructField("area_a_minus_b", DoubleType()),
        StructField("area_b_minus_a", DoubleType()),
    ]
)


def polygon_boolean(pairs: DataFrame) -> DataFrame:
    """pairs (pair_id, a_geom: array<array<double>>, b_geom) ->
    intersection / difference areas + piece count per pair
    (CAGUtil.intersectPolygons / subtractPolygons analytics surface)."""

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                yield _batch_boolean(pdf)

    return pairs.mapInPandas(kernel, schema=BOOLEAN_SCHEMA)


# ------------------------------------------------------ roughly contains

ROUGHLY_SCHEMA = StructType(
    [
        StructField("pair_id", StringType()),
        StructField("contains", BooleanType()),
        StructField("roughly_contains", BooleanType()),
        StructField("outside_frac", DoubleType()),
    ]
)


def _outer_vertices(flat):
    """(qx, qz, qrow) of every OUTER-ring vertex in a FlatRings batch,
    dropping the closing duplicate of closed rings. Fully vectorized."""
    m = flat.ring_idx == 0
    starts, npts, rows = flat.ring_start[m], flat.ring_npts[m], flat.ring_row[m]
    closed = (
        (npts > 1)
        & (flat.px[starts] == flat.px[starts + npts - 1])
        & (flat.pz[starts] == flat.pz[starts + npts - 1])
    )
    eff = npts - closed.astype(np.int64)
    idx = np.repeat(starts, eff) + _ranges(eff)
    return flat.px[idx], flat.pz[idx], np.repeat(rows, eff)


def _batch_roughly(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..functions.geometry import contains_points_multi, flatten

    areas = _batch_boolean(pdf)
    n = len(pdf)
    a_flat = flatten(pdf["a_geom"])
    b_flat = flatten(pdf["b_geom"])
    qx, qz, qrow = _outer_vertices(b_flat)
    ax, az, arow = _outer_vertices(a_flat)
    inside = contains_points_multi(qx, qz, qrow, a_flat)
    # exact vertex-loop membership (VectorXZ.equals is exact doubles):
    # unique-row inverse over (row, x, z) triples — no per-pair loop
    a_keys = np.column_stack([arow.astype(np.float64), ax, az])
    b_keys = np.column_stack([qrow.astype(np.float64), qx, qz])
    uniq, inv = np.unique(
        np.concatenate([a_keys, b_keys]), axis=0, return_inverse=True
    )
    in_a = np.zeros(len(uniq), dtype=bool)
    in_a[inv[: len(a_keys)]] = True
    exact = in_a[inv[len(a_keys):]]
    ok = np.ones(n, dtype=bool)
    np.logical_and.at(ok, qrow, exact | inside)
    area_b = areas["area_b"].to_numpy()
    rem = areas["area_b_minus_a"].to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(ok | (area_b == 0.0), 0.0, rem / area_b)
    return pd.DataFrame(
        {
            "pair_id": areas["pair_id"],
            "contains": ok,
            "roughly_contains": ok | (frac < 0.01),
            "outside_frac": frac,
        }
    )


def roughly_contains(pairs: DataFrame) -> DataFrame:
    """pairs (pair_id, a_geom, b_geom) -> (pair_id, contains,
    roughly_contains, outside_frac).

    GeometryUtil.roughlyContains (GeometryUtil.java:313-323): true when
    p1 contains p2 outright, or when area(p2 \\ p1) / area(p2) < 0.01 —
    the tolerance that keeps small mapping inaccuracies (building parts
    nudged past their building outline) from breaking containment joins.

    `contains` reproduces PolygonShapeXZ.contains(PolygonShapeXZ)
    (PolygonShapeXZ.java:85-94) FAITHFULLY, including its documented
    FIXME: every vertex of p2's outer ring must be an exact vertex of
    p1's loop or inside p1 (even-odd, holes respected) — a polygon whose
    vertices are all inside but whose edges exit p1 still reports
    contains=true (buggy-but-golden, like the P12 vertex rule).

    Scale shape: one mapInPandas batch kernel (vectorized: unique-row
    inverse for exact vertex matches, flat-layout PIP, triangle-clip
    areas); pairs parallelize across the cluster."""

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                yield _batch_roughly(pdf)

    return pairs.mapInPandas(kernel, schema=ROUGHLY_SCHEMA)
