"""Natural-neighbor (Sibson) terrain interpolation — reference J9.

Reference (/root/reference/core/src/main/java/org/osm2world/
map_elevation/creation/):
- NaturalNeighborInterpolator.java:19-57 — build one Delaunay
  triangulation over the sites' bbox padded by 100 (:27-29), then for each
  probe point take its natural neighbors and weight their heights.
- DelaunayTriangulation.java:565-653 (probe) — Sibson weights via the
  stolen-area rule: temporarily insert the probe, weight of neighbor v =
  Voronoi-cell area v loses to the probe = (sector-fan area of v over the
  REMOVED cavity triangles) - (sector-fan area over the NEW triangles),
  normalized by the total (:632-650). Sector fans are triangles
  (v, circumcenter_i, circumcenter_i+1) over the rotationally ordered
  incident subset (:683-771).

Spark shape: a cogrouped applyInPandas — queries and sites are grouped by
a spatial key, each group builds its own incremental (Bowyer-Watson)
triangulation and probes its queries locally, so groups parallelize across
executors and nothing global is collected. With `cell_size` set, groups
are grid cells and sites are replicated into a `halo`-cell neighborhood:
exact whenever every query's Sibson neighborhood (a few local Voronoi
cells) fits inside the halo — the per-tile decomposition the reference's
global in-memory triangulation cannot do. With cell_size=None everything
is one group (small-data exact mode; the reference's own shape).

The triangulation math is the textbook Bowyer-Watson algorithm + Sibson's
stolen-area formula (public knowledge); no reference code is copied.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..functions import grid

BBOX_PAD = 100.0  # NaturalNeighborInterpolator.java:28


class _Delaunay:
    """Incremental Bowyer-Watson triangulation seeded with two triangles
    over a (padded) bounding rectangle, like the reference's
    DelaunayTriangulation(boundingBox). Vertices 0..3 are the frame
    corners.

    Storage is flat adjacency, not keyed maps: triangle t has CCW
    vertices tv[t] and tn[t][j] = triangle across edge (tv[t][j],
    tv[t][j+1]) (or -1). Point location walks neighbor pointers, cavity
    BFS crosses them, and re-triangulation relinks the fan in one cycle
    walk — no tuple-keyed edge dict and no per-vertex incident sets on
    the insertion path (the per-insert constant factor that made the
    10k-site group ~7x slower than this layout). `any_tri[v]` keeps one
    alive triangle per vertex: every kill of a v-incident triangle puts
    v on the cavity boundary, whose new fan refreshes the pointer, so it
    can never dangle."""

    def __init__(self, minx, minz, maxx, maxz):
        self.px = [minx, maxx, maxx, minx]
        self.pz = [minz, minz, maxz, maxz]
        # two CCW triangles covering the rectangle
        self.tv: list[list[int] | None] = [[0, 1, 2], [0, 2, 3]]
        self.tn: list[list[int] | None] = [[-1, -1, 1], [0, -1, -1]]
        self.cc: list[tuple[float, float, float] | None] = [
            self._circum(0, 1, 2),
            self._circum(0, 2, 3),
        ]
        self.any_tri: list[int] = [0, 0, 0, 1]
        self.last_alive = 0

    # ------------------------------------------------------------ basics

    def _circum(self, i, j, k):
        ax, az = self.px[i], self.pz[i]
        bx, bz = self.px[j], self.pz[j]
        cx, cz = self.px[k], self.pz[k]
        d = 2.0 * (ax * (bz - cz) + bx * (cz - az) + cx * (az - bz))
        if d == 0.0:
            return (float("inf"), float("inf"), float("inf"))
        a2 = ax * ax + az * az
        b2 = bx * bx + bz * bz
        c2 = cx * cx + cz * cz
        ux = (a2 * (bz - cz) + b2 * (cz - az) + c2 * (az - bz)) / d
        uz = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
        r2 = (ux - ax) ** 2 + (uz - az) ** 2
        return (ux, uz, r2)

    def _in_circle(self, t_idx, x, z):
        ux, uz, r2 = self.cc[t_idx]
        return (x - ux) ** 2 + (z - uz) ** 2 < r2 * (1.0 + 1e-12)

    def _locate(self, x, z):
        """Walk from the last inserted triangle toward (x, z) using
        orientation tests; falls back to scanning if the walk stalls."""
        px, pz, tv, tn = self.px, self.pz, self.tv, self.tn
        t_idx = self.last_alive
        if tv[t_idx] is None:
            t_idx = next(i for i, t in enumerate(tv) if t is not None)
        for _ in range(4 * len(tv) + 8):
            t = tv[t_idx]
            moved = False
            for j in range(3):
                a = t[j]
                b = t[j - 2]  # (j + 1) % 3
                # strictly right of directed edge (a -> b): cross < 0
                if (px[b] - px[a]) * (z - pz[a]) - (pz[b] - pz[a]) * (
                    x - px[a]
                ) < 0:
                    nxt = tn[t_idx][j]
                    if nxt >= 0:
                        t_idx = nxt
                        moved = True
                        break
            if not moved:
                self.last_alive = t_idx  # locality hint for the next walk
                return t_idx
        for i, t in enumerate(tv):  # pragma: no cover - degenerate walk
            if t is not None and self._contains(i, x, z):
                return i
        return t_idx

    def _contains(self, t_idx, x, z):
        t = self.tv[t_idx]
        for j in range(3):
            a, b = t[j], t[j - 2]
            cross = (self.px[b] - self.px[a]) * (z - self.pz[a]) - (
                self.pz[b] - self.pz[a]
            ) * (x - self.px[a])
            if cross < -1e-12:
                return False
        return True

    # ------------------------------------------------------------ cavity

    def _cavity(self, x, z):
        """All triangles whose circumcircle contains (x, z) plus the
        cavity's boundary edges, in one BFS pass (the boundary is exactly
        the set of directed edges whose far side is not in-circle).
        Returns (cavity_tris, boundary) with boundary entries
        (a, b, outer_tri_or_-1) in original orientation (CCW seen from
        inside)."""
        start = self._locate(x, z)
        if not self._in_circle(start, x, z):
            for i, t in enumerate(self.tv):
                if t is not None and self._in_circle(i, x, z):
                    start = i
                    break
            else:
                return [], []
        tn = self.tn
        tv = self.tv
        cc = self.cc
        seen = {start}
        stack = [start]
        cavity = []
        boundary = []
        eps1 = 1.0 + 1e-12
        while stack:
            ti = stack.pop()
            cavity.append(ti)
            n = tn[ti]
            t = tv[ti]
            for j in range(3):
                nb = n[j]
                if nb >= 0:
                    if nb in seen:
                        continue
                    ux, uz, r2 = cc[nb]
                    if (x - ux) * (x - ux) + (z - uz) * (z - uz) < r2 * eps1:
                        seen.add(nb)
                        stack.append(nb)
                        continue
                boundary.append((t[j], t[j - 2], nb))
        return cavity, boundary

    # ------------------------------------------------------------ insert

    def insert(self, x, z, dedupe_eps=1e-9) -> bool:
        """Insert a vertex; returns False (no vertex added) for points
        outside the frame or coinciding with an existing vertex."""
        cavity, boundary = self._cavity(x, z)
        if not cavity:
            return False
        px, pz, tv, tn = self.px, self.pz, self.tv, self.tn
        for ti in cavity:  # duplicate site -> degenerate triangles; skip
            for v in tv[ti]:
                if (px[v] - x) ** 2 + (pz[v] - z) ** 2 < dedupe_eps ** 2:
                    return False
        p_idx = len(px)
        px.append(x)
        pz.append(z)
        self.any_tri.append(0)
        for ti in cavity:
            tv[ti] = None
            tn[ti] = None
            self.cc[ti] = None
        # the boundary is one cycle (the cavity is star-shaped around p):
        # walk it in order so consecutive new triangles can be linked as
        # fan neighbors in the same pass
        nxt = {a: (b, outer) for a, b, outer in boundary}
        a0 = boundary[0][0]
        a = a0
        first_t = len(tv)
        prev_t = first_t + len(boundary) - 1
        any_tri = self.any_tri
        cc_list = self.cc
        p2 = x * x + z * z
        inf3 = (float("inf"), float("inf"), float("inf"))
        for _ in range(len(boundary)):
            b, outer = nxt[a]
            t_idx = len(tv)
            tv.append([a, b, p_idx])
            # edge 0 = (a, b) -> outer; edge 1 = (b, p) -> next fan
            # triangle; edge 2 = (p, a) -> previous fan triangle
            tn.append([outer, t_idx + 1, prev_t])
            # circumcenter of (a, b, p) inlined (same math as _circum)
            ax, az = px[a], pz[a]
            bx, bz = px[b], pz[b]
            d = 2.0 * (ax * (bz - z) + bx * (z - az) + x * (az - bz))
            if d == 0.0:
                cc_list.append(inf3)
            else:
                a2 = ax * ax + az * az
                b2 = bx * bx + bz * bz
                ux = (a2 * (bz - z) + b2 * (z - az) + p2 * (az - bz)) / d
                uz = (a2 * (x - bx) + b2 * (ax - x) + p2 * (bx - ax)) / d
                cc_list.append(
                    (ux, uz, (ux - ax) * (ux - ax) + (uz - az) * (uz - az))
                )
            if outer >= 0:  # fix the outer triangle's back pointer
                on = tn[outer]
                ot = tv[outer]
                for j in range(3):
                    if ot[j] == b and ot[j - 2] == a:
                        on[j] = t_idx
                        break
            any_tri[a] = t_idx
            any_tri[b] = t_idx
            prev_t = t_idx
            a = b
        tn[prev_t][1] = first_t  # close the fan cycle
        any_tri[p_idx] = prev_t
        self.last_alive = prev_t
        return True

    # --------------------------------------------------------- incidence

    def _incident_chain(self, v):
        """Alive triangles around v in counter-clockwise rotation order
        (for CCW triangle (v, w, u) the CCW-next fan triangle shares edge
        (v, u), i.e. the edge ENDING at v, index i-1), gathered by chasing
        neighbor pointers from any_tri[v]. Returns (chain, closed) —
        closed=False when the fan hits the frame on either side. Replaces
        per-vertex incident sets: O(deg) pointer chasing at probe time,
        zero bookkeeping at insert time, and the CCW order makes fan
        areas a direct positive shoelace (no chaining maps)."""
        tv, tn = self.tv, self.tn
        start = self.any_tri[v]
        fwd = [start]
        t = start
        while True:  # CCW: across edge ending at v (edge index i - 1)
            t = tn[t][tv[t].index(v) - 1]
            if t < 0 or t == start:
                break
            fwd.append(t)
        if t == start:
            return fwd, True
        back = []
        t = start
        while True:  # CW: across edge starting at v (edge index i)
            t = tn[t][tv[t].index(v)]
            if t < 0:
                break
            back.append(t)
        back.reverse()
        return back + fwd, False

    # ------------------------------------------------------------- probe

    @staticmethod
    def _fan_area(vx, vz, centers, closed):
        """Signed sector-fan area at (vx, vz) over CCW-ordered
        circumcenters (wraps when the fan is closed) — the reference's
        rotational walk (DelaunayTriangulation.java:697-745) as a direct
        shoelace over the already-ordered chain."""
        if len(centers) < 2:
            return 0.0
        area = 0.0
        prevx, prevz = centers[0]
        for cx, cz in centers[1:]:
            area += (prevx - vx) * (cz - vz) - (cx - vx) * (prevz - vz)
            prevx, prevz = cx, cz
        if closed:
            cx, cz = centers[0]
            area += (prevx - vx) * (cz - vz) - (cx - vx) * (prevz - vz)
        return 0.5 * area

    def probe(self, x, z, snap_eps=1e-9):
        """Natural neighbors of (x, z): list of (vertex_idx, weight) with
        weights summing to 1 (Sibson stolen-area rule). A probe coinciding
        with an existing vertex returns that vertex with weight 1.

        FULL cell fans per neighbor, with and without the probe — the
        reference computes whole-cell sizes both times (its incident-
        subset restriction is disabled, DelaunayTriangulation.java:697,
        717), so the unchanged sectors cancel exactly in the diff. The
        post-insert fan needs no simulation: in CCW rotation order the
        killed run around a boundary vertex v is contiguous and is always
        replaced by exactly (circum(v, b, q), circum(a, v, q)) for v's
        two cavity-boundary edges (v, b) and (a, v)."""
        cavity, boundary3 = self._cavity(x, z)
        if not cavity:
            return []
        tv, cc, px, pz = self.tv, self.cc, self.px, self.pz
        neighbors: set[int] = set()
        for ti in cavity:
            neighbors.update(tv[ti])
        for v in neighbors:
            if (px[v] - x) ** 2 + (pz[v] - z) ** 2 < snap_eps ** 2:
                return [(v, 1.0)]
        qx, qz = x, z
        cav_set = set(cavity)
        # circumcenters of the would-be probe triangles, keyed by the
        # boundary-edge endpoint (out: edge starts at v; in: edge ends at v)
        out_c: dict[int, tuple] = {}
        in_c: dict[int, tuple] = {}
        q2 = qx * qx + qz * qz
        for a, b, _ in boundary3:
            ax, az = px[a], pz[a]
            bx, bz = px[b], pz[b]
            d = 2.0 * (ax * (bz - qz) + bx * (qz - az) + qx * (az - bz))
            if d == 0.0:
                continue  # degenerate sliver: contributes no sector
            a2, b2 = ax * ax + az * az, bx * bx + bz * bz
            c = (
                (a2 * (bz - qz) + b2 * (qz - az) + q2 * (az - bz)) / d,
                (a2 * (qx - bx) + b2 * (ax - qx) + q2 * (bx - ax)) / d,
            )
            out_c[a] = c
            in_c[b] = c
        weights = []
        total = 0.0
        for v in neighbors:
            chain, closed = self._incident_chain(v)
            vx, vz = px[v], pz[v]
            old = self._fan_area(vx, vz, [cc[t][:2] for t in chain], closed)
            splice = []
            if v in out_c:
                splice.append(out_c[v])
            if v in in_c:
                splice.append(in_c[v])
            if closed:
                # rotate the cycle so the killed run is the suffix, then
                # replace it (cycles are rotation-invariant)
                m = len(chain)
                s = next(
                    (
                        i + 1
                        for i in range(m)
                        if chain[i] in cav_set and chain[i - m + 1] not in cav_set
                    ),
                    0,
                )
                new_centers = [
                    cc[t][:2] for j in range(m) if (t := chain[(s + j) % m]) not in cav_set
                ] + splice
            else:
                first = next(
                    (i for i, t in enumerate(chain) if t in cav_set), len(chain)
                )
                new_centers = (
                    [cc[t][:2] for t in chain[:first]]
                    + splice
                    + [cc[t][:2] for t in chain[first:] if t not in cav_set]
                )
            w = old - self._fan_area(vx, vz, new_centers, closed)
            if w > 0:
                weights.append((v, w))
                total += w
        if total <= 0:
            return []
        return [(v, w / total) for v, w in weights]


def _spread16(v):
    """Interleave-ready 16-bit spread (Morton): 0b...abc -> 0b.a.b.c."""
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    return (v | (v << 1)) & 0x55555555


def _morton_order(x, z):
    """Deterministic Morton (Z-curve) ordering: consecutive points are
    spatially adjacent, so the triangulation's locate-walk from the
    previous insertion/probe is O(1) steps instead of O(sqrt(n)) — the
    difference between a 10k-site group binding on point location and
    one binding on arithmetic."""
    xs = x - x.min()
    zs = z - z.min()
    sx = xs.max() or 1.0
    sz = zs.max() or 1.0
    qx = np.minimum((xs / sx * 65535.0).astype(np.uint32), 65535)
    qz = np.minimum((zs / sz * 65535.0).astype(np.uint32), 65535)
    code = (_spread16(qz.astype(np.uint64)) << np.uint64(1)) | _spread16(
        qx.astype(np.uint64)
    )
    # Tie-break quantization collisions by exact (x, z) so insertion
    # order — hence every float rounding in the triangulation — is a
    # pure function of the coordinates, independent of the row order
    # the shuffle happened to deliver (hash-grade golden determinism).
    return np.lexsort((z, x, code))


def _interpolate_group(sites_x, sites_z, sites_y, q_x, q_z):
    """Build one triangulation over the group's sites (bbox padded by
    BBOX_PAD, frame corners carry y=0 like the reference's boundary
    points) and Sibson-probe each query. Returns ele array (NaN where a
    query has no neighbors). Sites are inserted and queries probed in
    Morton order (walk locality); the result is order-independent."""
    minx, maxx = sites_x.min() - BBOX_PAD, sites_x.max() + BBOX_PAD
    minz, maxz = sites_z.min() - BBOX_PAD, sites_z.max() + BBOX_PAD
    tri = _Delaunay(minx, minz, maxx, maxz)
    ys = [0.0, 0.0, 0.0, 0.0]  # frame corners
    for i in _morton_order(sites_x, sites_z):
        if tri.insert(float(sites_x[i]), float(sites_z[i])):
            ys.append(float(sites_y[i]))  # ys stays index-aligned with vertices
    out = np.full(len(q_x), np.nan)
    q_x = np.asarray(q_x, dtype=np.float64)
    q_z = np.asarray(q_z, dtype=np.float64)
    for qi in _morton_order(q_x, q_z) if len(q_x) else []:
        nn = tri.probe(float(q_x[qi]), float(q_z[qi]))
        if nn:
            out[qi] = sum(ys[v] * w for v, w in nn)
    return out


NN_SCHEMA = StructType(
    [StructField("q_id", StringType()), StructField("ele", DoubleType())]
)


def natural_neighbor_interpolate(
    queries: DataFrame,
    sites: DataFrame,
    cell_size: float | None = None,
    halo: int = 1,
) -> DataFrame:
    """queries (q_id, x, z) x sites (s_id, x, z, y) -> (q_id, ele) via
    Sibson natural-neighbor interpolation (NaturalNeighborInterpolator
    semantics).

    cell_size=None: one group — exact, for datasets whose sites fit one
    task (the reference's own single-machine shape). With cell_size set,
    queries group by grid cell and sites replicate into the (2*halo+1)^2
    cell neighborhood; exact whenever the Sibson neighborhood radius <
    halo*cell_size (choose cell_size >> typical site spacing)."""
    if cell_size is None:
        q = queries.select(F.lit(0).alias("g"), "q_id", "x", "z")
        s = sites.select(F.lit(0).alias("g"), "x", "z", "y")
    else:
        q = queries.select(grid.point_key(F.col("x"), F.col("z"), cell_size).alias("g"), "q_id", "x", "z")
        s = sites.select(
            F.explode(grid.ring_cells(F.col("x"), F.col("z"), cell_size, halo)).alias("g"),
            "x",
            "z",
            "y",
        )

    def fn(q_pdf: pd.DataFrame, s_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(s_pdf) == 0:
            return pd.DataFrame({"q_id": q_pdf.get("q_id", pd.Series(dtype=object)), "ele": np.nan})
        ele = _interpolate_group(
            s_pdf["x"].to_numpy(np.float64),
            s_pdf["z"].to_numpy(np.float64),
            s_pdf["y"].to_numpy(np.float64),
            q_pdf["x"].to_numpy(np.float64),
            q_pdf["z"].to_numpy(np.float64),
        )
        return pd.DataFrame({"q_id": q_pdf["q_id"].values, "ele": ele})

    return (
        q.groupBy("g")
        .cogroup(s.groupBy("g"))
        .applyInPandas(lambda qk, sk: fn(qk, sk), schema=NN_SCHEMA)
    )
