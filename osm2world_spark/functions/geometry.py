"""Arrow-batched numpy geometry kernels over packed coordinate arrays.

Geometry representation (the engine's wire format inside DataFrames):

    geom: array<array<double>>    -- list of rings / polylines
        ring[i] = [x0, z0, x1, z1, ...]   packed coordinate pairs
        ring 0  = outer ring (closed: first == last), rings 1.. = holes
        for ways: a single open polyline; for points: a single [x, z]

All kernels are batch-vectorized: each takes flat numpy arrays describing a
whole Arrow batch of geometries at once (built via `flatten`), never a
Python loop over rows. Per-row variable lengths are handled with offset
arrays + np.repeat / np.bincount / reduceat — this is the "ray-casting ...
over packed coordinate arrays" kernel family from the north star.

Reference semantics reproduced exactly (file:line into /root/reference/core
/src/main/java/org/osm2world/):
- even-odd ray cast: math/shapes/SimplePolygonShapeXZ.java:74-93
- hole subtraction: math/shapes/PolygonShapeXZ.java:58-68
- signed shoelace area / winding: math/shapes/SimplePolygonXZ.java:664-672,
  240-245 (negative = clockwise); closed vertex loop, consecutive edges
- centroid: math/shapes/SimplePolygonXZ.java:214-236
- segment intersection: math/algorithms/GeometryUtil.java:222-260 with
  EPSILON = 0.0001f parallel-denominator test (GeometryUtil.java:799-804),
  t and s clamped to [0, 1] inclusive
- "true" intersection excludes exactly-shared endpoints
  (GeometryUtil.getTrueLineSegmentIntersection :267-278)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

EPSILON = 0.0001  # GeometryUtil.java:799 (declared as 0.0001f)


# ------------------------------------------------------------- flattening

@dataclass
class FlatRings:
    """A batch of geometries flattened to edge-parallel numpy arrays."""

    n_rows: int
    # per-ring
    ring_row: np.ndarray      # int64[n_rings] -> owning row index
    ring_idx: np.ndarray      # int64[n_rings] -> ring position within row
    ring_start: np.ndarray    # int64[n_rings] -> first point index
    ring_npts: np.ndarray     # int64[n_rings]
    # per-point
    px: np.ndarray            # float64[n_pts]
    pz: np.ndarray            # float64[n_pts]

    @property
    def n_rings(self) -> int:
        return len(self.ring_row)

    def edges(self, outer_only: bool = False, rows: np.ndarray | None = None):
        """Edge arrays (x1, z1, x2, z2, edge_row, edge_ring) over consecutive
        point pairs within each ring (closed rings carry their closing edge
        because first == last)."""
        sel = np.ones(self.n_rings, dtype=bool)
        if outer_only:
            sel &= self.ring_idx == 0
        if rows is not None:
            sel &= np.isin(self.ring_row, rows)
        starts = self.ring_start[sel]
        npts = self.ring_npts[sel]
        nedges = np.maximum(npts - 1, 0)
        if nedges.sum() == 0:
            e = np.empty(0, dtype=np.float64)
            i = np.empty(0, dtype=np.int64)
            return e, e, e, e, i, i
        # index of the first point of every edge
        first = np.repeat(starts, nedges) + _ranges(nedges)
        x1, z1 = self.px[first], self.pz[first]
        x2, z2 = self.px[first + 1], self.pz[first + 1]
        edge_row = np.repeat(self.ring_row[sel], nedges)
        edge_ring = np.repeat(np.nonzero(sel)[0], nedges)
        return x1, z1, x2, z2, edge_row, edge_ring


def _ranges(counts: np.ndarray) -> np.ndarray:
    """concatenate(arange(c) for c in counts), vectorized."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    idx = np.arange(total, dtype=np.int64)
    return idx - np.repeat(starts, counts)


def _excl_cumsum(counts: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: the start offset of each run in a flat layout."""
    counts = np.asarray(counts, dtype=np.int64)
    return np.cumsum(counts) - counts


def _pair_combos(na: np.ndarray, nb: np.ndarray):
    """Row-wise cross-product expansion: for row i with na[i] left items
    and nb[i] right items (both stored contiguously row-major), returns
    (comb_row, left_global_idx, right_global_idx)."""
    na = np.asarray(na, dtype=np.int64)
    nb = np.asarray(nb, dtype=np.int64)
    m = na * nb
    comb_row = np.repeat(np.arange(len(na), dtype=np.int64), m)
    local = _ranges(m)
    nb_r = nb[comb_row]
    ii = _excl_cumsum(na)[comb_row] + local // nb_r
    jj = _excl_cumsum(nb)[comb_row] + local % nb_r
    return comb_row, ii, jj


def flatten(geoms) -> FlatRings:
    """Flatten a pandas Series / list of geometries (list-of-rings, each a
    packed [x0,z0,...] array) into a FlatRings batch.

    Fast path: Arrow list offsets (no per-row Python) — the batch becomes
    three numpy arrays via O(1) buffer views + vectorized offset math."""
    try:
        return _flatten_arrow(geoms)
    except Exception:
        return _flatten_python(geoms)


def _flatten_arrow(geoms) -> FlatRings:
    import pyarrow as pa

    arr = pa.array(geoms, type=pa.list_(pa.list_(pa.float64())))
    if arr.null_count:
        raise ValueError("nulls -> python path")
    n_rows = len(arr)
    l1_off = arr.offsets.to_numpy().astype(np.int64)
    ring_counts = np.diff(l1_off)
    rings = arr.flatten()
    l2_off = rings.offsets.to_numpy().astype(np.int64)
    l2_off = l2_off - l2_off[0]
    coords = rings.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    ring_npts = np.diff(l2_off) // 2
    ring_start = l2_off[:-1] // 2
    ring_row = np.repeat(np.arange(n_rows, dtype=np.int64), ring_counts)
    ring_idx = _ranges(ring_counts)
    return FlatRings(
        n_rows=n_rows,
        ring_row=ring_row,
        ring_idx=ring_idx,
        ring_start=ring_start,
        ring_npts=ring_npts,
        px=coords[0::2].copy(),
        pz=coords[1::2].copy(),
    )


def _flatten_python(geoms) -> FlatRings:
    ring_row, ring_idx, ring_start, ring_npts, chunks = [], [], [], [], []
    pos = 0
    for row, rings in enumerate(geoms):
        if rings is None:
            continue
        for k, ring in enumerate(rings):
            arr = np.asarray(ring, dtype=np.float64)
            n = len(arr) // 2
            ring_row.append(row)
            ring_idx.append(k)
            ring_start.append(pos)
            ring_npts.append(n)
            chunks.append(arr)
            pos += n
    if chunks:
        flat = np.concatenate(chunks)
        px, pz = flat[0::2].copy(), flat[1::2].copy()
    else:
        px = pz = np.empty(0, dtype=np.float64)
    return FlatRings(
        n_rows=len(geoms),
        ring_row=np.asarray(ring_row, dtype=np.int64),
        ring_idx=np.asarray(ring_idx, dtype=np.int64),
        ring_start=np.asarray(ring_start, dtype=np.int64),
        ring_npts=np.asarray(ring_npts, dtype=np.int64),
        px=px,
        pz=pz,
    )


# ----------------------------------------------------------- ray casting

def ring_crossings(qx: np.ndarray, qz: np.ndarray, flat: FlatRings) -> np.ndarray:
    """Even-odd crossing counts per ring for per-row query points.

    qx/qz are indexed by row: ring r of row i is tested against point
    (qx[i], qz[i]). Returns int64[n_rings] crossing counts. The crossing
    test is the reference's literal condition
    (SimplePolygonShapeXZ.java:80-86):
        (z_i > q.z) != (z_j > q.z)  and
        q.x < (x_j - x_i) * (q.z - z_i) / (z_j - z_i) + x_i
    """
    x1, z1, x2, z2, edge_row, edge_ring = flat.edges()
    if len(x1) == 0:
        return np.zeros(flat.n_rings, dtype=np.int64)
    pqx, pqz = qx[edge_row], qz[edge_row]
    straddle = (z1 > pqz) != (z2 > pqz)
    dz = z2 - z1
    # only evaluated where straddle (dz != 0 there); suppress the /0 lane
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (pqz - z1) / dz + x1
    cross = straddle & (pqx < xint)
    return np.bincount(edge_ring[cross], minlength=flat.n_rings)


def contains_point(qx: np.ndarray, qz: np.ndarray, flat: FlatRings) -> np.ndarray:
    """Point-in-polygon-with-holes per row: inside outer ring AND not inside
    any hole (PolygonShapeXZ.java:58-68). Returns bool[n_rows]."""
    crossings = ring_crossings(qx, qz, flat)
    inside_ring = (crossings % 2) == 1
    outer = np.zeros(flat.n_rows, dtype=bool)
    in_hole = np.zeros(flat.n_rows, dtype=bool)
    is_outer = flat.ring_idx == 0
    outer[flat.ring_row[is_outer]] = inside_ring[is_outer]
    hole_hit = inside_ring & ~is_outer
    if hole_hit.any():
        np.logical_or.at(in_hole, flat.ring_row[hole_hit], True)
    return outer & ~in_hole


def contains_points_multi(
    qx: np.ndarray, qz: np.ndarray, qrow: np.ndarray, flat: FlatRings
) -> np.ndarray:
    """Point-in-polygon-with-holes for MANY query points per row: query k
    (qx[k], qz[k]) is tested against the rings of row qrow[k]. Fully
    vectorized: one expansion of (query x edges-of-its-row) combos.
    Returns bool[len(qx)]."""
    nq = len(qx)
    if nq == 0:
        return np.zeros(0, dtype=bool)
    x1, z1, x2, z2, edge_row, edge_ring = flat.edges()
    if len(x1) == 0:
        return np.zeros(nq, dtype=bool)
    # edges are emitted grouped by row (ring_row is nondecreasing)
    n_edges_row = np.bincount(edge_row, minlength=flat.n_rows)
    edge_start_row = _excl_cumsum(n_edges_row)
    m = n_edges_row[qrow]
    comb_q = np.repeat(np.arange(nq, dtype=np.int64), m)
    comb_e = edge_start_row[qrow[comb_q]] + _ranges(m)

    pqx, pqz = qx[comb_q], qz[comb_q]
    ex1, ez1, ex2, ez2 = x1[comb_e], z1[comb_e], x2[comb_e], z2[comb_e]
    straddle = (ez1 > pqz) != (ez2 > pqz)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (ex2 - ex1) * (pqz - ez1) / (ez2 - ez1) + ex1
    cross = straddle & (pqx < xint)

    # parity per (query, local ring index of the row)
    local_ring = flat.ring_idx[edge_ring]  # local ring idx per edge
    max_ring = int(local_ring.max()) + 1 if len(local_ring) else 1
    acc = np.zeros((nq, max_ring), dtype=np.int64)
    np.add.at(acc, (comb_q, local_ring[comb_e]), cross)
    odd = (acc % 2) == 1
    return odd[:, 0] & ~odd[:, 1:].any(axis=1)


# ---------------------------------------------------- segment intersection

def segment_intersection(
    ax1, az1, ax2, az2, bx1, bz1, bx2, bz2
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized GeometryUtil.getLineSegmentIntersection (:222-260).

    Returns (hit: bool[n], ix: float64[n], iz: float64[n]); ix/iz are only
    meaningful where hit. Parallel test: |vz*qx - vx*qz| <= 1e-4
    (approxZero, GeometryUtil.java:799-804). t, s in [0, 1] inclusive.
    """
    vx = ax2 - ax1
    vz = az2 - az1
    qx = bx2 - bx1
    qz = bz2 - bz1
    denom = vz * qx - vx * qz
    ok = np.abs(denom) > EPSILON
    inv = np.where(ok, denom, 1.0)
    inv = 1.0 / inv
    amcx = bx1 - ax1
    amcz = bz1 - az1
    t = (amcz * qx - amcx * qz) * inv
    s = (amcz * vx - amcx * vz) * inv
    hit = ok & (t >= 0) & (t <= 1) & (s >= 0) & (s <= 1)
    ix = ax1 + t * vx
    iz = az1 + t * vz
    return hit, ix, iz


def true_segment_intersection(ax1, az1, ax2, az2, bx1, bz1, bx2, bz2):
    """GeometryUtil.getTrueLineSegmentIntersection (:267-278): like
    segment_intersection but no hit when the segments share an endpoint
    (exact double equality, as in VectorXZ.equals)."""
    hit, ix, iz = segment_intersection(ax1, az1, ax2, az2, bx1, bz1, bx2, bz2)
    shared = (
        ((ax1 == bx1) & (az1 == bz1))
        | ((ax1 == bx2) & (az1 == bz2))
        | ((ax2 == bx1) & (az2 == bz1))
        | ((ax2 == bx2) & (az2 == bz2))
    )
    return hit & ~shared, ix, iz


def segment_ring_intersections(
    sx1: np.ndarray, sz1: np.ndarray, sx2: np.ndarray, sz2: np.ndarray, flat: FlatRings
):
    """Intersect per-row segments with every ring edge of the same row,
    using the "true" variant (shared exact endpoints excluded) — all of the
    reference's polygon-vs-segment paths go through
    getTrueLineSegmentIntersection (SimplePolygonShapeXZ.java:123-142,
    LineSegmentXZ.java:65-68).

    Returns (pair_edge_row, pair_edge_ring, ix, iz, tA) for each hit, where
    tA is the parameter along the row's segment (for distance-from-start
    ordering, MapOverlapWA.java:69-74).
    """
    x1, z1, x2, z2, edge_row, edge_ring = flat.edges()
    if len(x1) == 0:
        e = np.empty(0)
        i = np.empty(0, dtype=np.int64)
        return i, i, e, e, e
    a_x1, a_z1 = sx1[edge_row], sz1[edge_row]
    a_x2, a_z2 = sx2[edge_row], sz2[edge_row]
    hit, ix, iz = true_segment_intersection(a_x1, a_z1, a_x2, a_z2, x1, z1, x2, z2)
    vx = a_x2 - a_x1
    vz = a_z2 - a_z1
    seg_len2 = vx * vx + vz * vz
    with np.errstate(divide="ignore", invalid="ignore"):
        tA = np.where(seg_len2 > 0, ((ix - a_x1) * vx + (iz - a_z1) * vz) / seg_len2, 0.0)
    return edge_row[hit], edge_ring[hit], ix[hit], iz[hit], tA[hit]


# ----------------------------------------------------- area / orientation

def ring_signed_area(flat: FlatRings) -> np.ndarray:
    """Shoelace signed area per ring (SimplePolygonXZ.java:664-672):
    sum over consecutive edges of (x_i*z_{i+1} - x_{i+1}*z_i) / 2.
    Negative = clockwise (isClockwise :240-245)."""
    x1, z1, x2, z2, _, edge_ring = flat.edges()
    if len(x1) == 0:
        return np.zeros(flat.n_rings)
    contrib = x1 * z2 - x2 * z1
    return np.bincount(edge_ring, weights=contrib, minlength=flat.n_rings) / 2.0


def ring_centroid(flat: FlatRings) -> tuple[np.ndarray, np.ndarray]:
    """Area-weighted centroid per ring (SimplePolygonXZ.java:214-236)."""
    x1, z1, x2, z2, _, edge_ring = flat.edges()
    signed = ring_signed_area(flat)
    if len(x1) == 0:
        return np.zeros(flat.n_rings), np.zeros(flat.n_rings)
    factor = x1 * z2 - x2 * z1
    xs = np.bincount(edge_ring, weights=(x1 + x2) * factor, minlength=flat.n_rings)
    zs = np.bincount(edge_ring, weights=(z1 + z2) * factor, minlength=flat.n_rings)
    with np.errstate(divide="ignore", invalid="ignore"):
        af = 1.0 / (6.0 * signed)
    return af * xs, af * zs


def row_bbox(flat: FlatRings) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, minz, maxx, maxz) per row over ALL rings. Note the reference
    uses the *outer ring only* for MapArea bboxes (MapArea.java:229-231) —
    identical result since holes lie inside the outer ring."""
    minx = np.full(flat.n_rows, np.inf)
    minz = np.full(flat.n_rows, np.inf)
    maxx = np.full(flat.n_rows, -np.inf)
    maxz = np.full(flat.n_rows, -np.inf)
    if len(flat.px):
        pt_row = np.repeat(flat.ring_row, flat.ring_npts)
        np.minimum.at(minx, pt_row, flat.px)
        np.minimum.at(minz, pt_row, flat.pz)
        np.maximum.at(maxx, pt_row, flat.px)
        np.maximum.at(maxz, pt_row, flat.pz)
    return minx, minz, maxx, maxz


# --------------------------------------------------------------- validity

def ring_is_self_intersecting(flat: FlatRings) -> np.ndarray:
    """Per-ring self-intersection test (SimplePolygonXZ.isSelfIntersecting
    :552+): any true intersection between non-adjacent edges. O(E^2) per
    ring but batch-vectorized within each ring-size group; rings are small
    (document geometries), so this is bounded work per row."""
    out = np.zeros(flat.n_rings, dtype=bool)
    x1, z1, x2, z2, _, edge_ring = flat.edges()
    if len(x1) == 0:
        return out
    order = np.argsort(edge_ring, kind="stable")
    x1, z1, x2, z2, edge_ring = (a[order] for a in (x1, z1, x2, z2, edge_ring))
    counts = np.bincount(edge_ring, minlength=flat.n_rings)
    starts = _excl_cumsum(counts)
    for n in np.unique(counts):
        if n < 4:
            continue  # triangle edges can't truly self-intersect
        rings = np.nonzero(counts == n)[0]
        # gather edge table per ring: shape (R, n)
        idx = starts[rings][:, None] + np.arange(n)[None, :]
        ex1, ez1, ex2, ez2 = x1[idx], z1[idx], x2[idx], z2[idx]
        ii, jj = np.triu_indices(n, k=2)
        # skip the wrap-adjacent pair (first edge, last edge)
        keep = ~((ii == 0) & (jj == n - 1))
        ii, jj = ii[keep], jj[keep]
        hit, _, _ = true_segment_intersection(
            ex1[:, ii].ravel(), ez1[:, ii].ravel(), ex2[:, ii].ravel(), ez2[:, ii].ravel(),
            ex1[:, jj].ravel(), ez1[:, jj].ravel(), ex2[:, jj].ravel(), ez2[:, jj].ravel(),
        )
        out[rings] |= hit.reshape(len(rings), -1).any(axis=1)
    return out


# --------------------------------------------------------- misc utilities

def close_loop(coords: np.ndarray) -> np.ndarray:
    """Append the first point if the packed ring isn't closed
    (GeometryUtil.closeLoop, GeometryUtil.java:40-52)."""
    if len(coords) >= 4 and (coords[0] != coords[-2] or coords[1] != coords[-1]):
        return np.concatenate([coords, coords[:2]])
    return coords


def dist(x1, z1, x2, z2) -> np.ndarray:
    dx = np.asarray(x2) - np.asarray(x1)
    dz = np.asarray(z2) - np.asarray(z1)
    return np.sqrt(dx * dx + dz * dz)
