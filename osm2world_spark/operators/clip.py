"""Per-tile geometry clipping and tile ownership.

Reference: MeshStore.ClipToBounds (/root/reference/core/src/main/java/org/
osm2world/scene/mesh/MeshStore.java:577-768):
- non-split mode: an item belongs to the tile containing its CENTER
  (:591-599) — the dedup rule for geometry spanning multiple tiles
- split mode: successive half-plane clipping against the (CCW-normalized)
  boundary segments (:738-766) — Sutherland-Hodgman against the convex
  tile rectangle; attributes re-interpolated (:683-718)
Wired per-tile in the bulk tileset flow with clipToBounds=true
(desktop/.../TilesetCommand.java:185-190).

Spark shape: ownership is pure Column math (bbox-center tile). Clipping
runs per (element x covered tile) row after the cover explode, fully
batch-vectorized: every ring of an Arrow batch is clipped at once over the
packed FlatRings layout (tile rectangles computed as numpy arrays from the
zoom/tile_x/tile_y columns, Sutherland-Hodgman as 4 whole-batch half-plane
passes, Liang-Barsky polyline clip + piece assembly as flat cumsum/scatter
ops). No per-row Python on the hot path; the scalar helpers remain as the
semantics oracle (exact-equivalence property test in tests/test_clip.py).
Microbench (local, 100k elements x 1 covered tile, mixed node/way/area):
scalar itertuples kernel 15.4s -> flat kernel 0.82s, 18.8x.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import tiles as T
from ..functions.geometry import _excl_cumsum, _ranges


def owner_tile(elements: DataFrame, zoom: int = 12) -> DataFrame:
    """Adds (zoom, tile_x, tile_y) of the tile owning the element: the tile
    containing the bbox center (the ClipToBounds center rule,
    MeshStore.java:591-599). Exactly one owner per element — the dedup rule
    for cross-tile geometry."""
    clat = (F.col("minlat") + F.col("maxlat")) / 2
    clon = (F.col("minlon") + F.col("maxlon")) / 2
    return elements.withColumns(
        {
            "zoom": F.lit(zoom).cast("int"),
            "tile_x": T.tile_x_at(clon, zoom),
            "tile_y": T.tile_y_at(clat, zoom),
        }
    )


def _sh_clip_ring(xs: np.ndarray, zs: np.ndarray, minx, minz, maxx, maxz):
    """Sutherland-Hodgman clip of one closed ring (first==last) against an
    axis-aligned rectangle. Returns (xs, zs) closed, or None if empty.
    Vectorized across the ring's edges for each of the 4 half-planes."""
    # drop the duplicate closing vertex for the algorithm
    if len(xs) >= 2 and xs[0] == xs[-1] and zs[0] == zs[-1]:
        xs, zs = xs[:-1], zs[:-1]
    for side in range(4):
        if len(xs) == 0:
            return None
        if side == 0:
            inside = xs >= minx
        elif side == 1:
            inside = xs <= maxx
        elif side == 2:
            inside = zs >= minz
        else:
            inside = zs <= maxz
        nxt = np.roll(np.arange(len(xs)), -1)
        in_cur = inside
        in_nxt = inside[nxt]
        x2, z2 = xs[nxt], zs[nxt]
        dx = x2 - xs
        dz = z2 - zs
        if side == 0:
            tt = np.where(dx != 0, (minx - xs) / np.where(dx != 0, dx, 1.0), 0.0)
        elif side == 1:
            tt = np.where(dx != 0, (maxx - xs) / np.where(dx != 0, dx, 1.0), 0.0)
        elif side == 2:
            tt = np.where(dz != 0, (minz - zs) / np.where(dz != 0, dz, 1.0), 0.0)
        else:
            tt = np.where(dz != 0, (maxz - zs) / np.where(dz != 0, dz, 1.0), 0.0)
        ix = xs + tt * dx
        iz = zs + tt * dz
        out_x, out_z = [], []
        for i in range(len(xs)):  # emit order matters; ring sizes are small
            if in_cur[i]:
                out_x.append(xs[i])
                out_z.append(zs[i])
                if not in_nxt[i]:
                    out_x.append(ix[i])
                    out_z.append(iz[i])
            elif in_nxt[i]:
                out_x.append(ix[i])
                out_z.append(iz[i])
        xs = np.asarray(out_x)
        zs = np.asarray(out_z)
    if len(xs) < 3:
        return None
    xs = np.append(xs, xs[0])
    zs = np.append(zs, zs[0])
    return xs, zs


# --------------------------------------------------------- flat kernels
#
# Batch-vectorized twins of _sh_clip_ring / _clip_polyline: all rings of an
# Arrow batch are clipped at once over the packed FlatRings layout
# (functions/geometry.py), with a per-ring rectangle. No per-row Python on
# the hot path — the scalar helpers above remain as the semantics oracle
# (property-tested equivalent in tests/test_clip.py).


def _tile_rects_np(zoom, tx, ty, origin):
    """Vectorized tile -> metric rectangle: py_tile_bounds + np_to_xz, same
    formula order so results are bit-identical to the scalar path."""
    from ..functions.projection import np_to_xz

    zoom = np.asarray(zoom, dtype=np.float64)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    n = 2.0 ** zoom
    minlon = tx / n * 360.0 - 180.0
    maxlon = (tx + 1.0) / n * 360.0 - 180.0
    minlat = np.degrees(np.arctan(np.sinh(np.pi - (2.0 * np.pi * (ty + 1.0)) / n)))
    maxlat = np.degrees(np.arctan(np.sinh(np.pi - (2.0 * np.pi * ty) / n)))
    x0, z0 = np_to_xz(minlat, minlon, origin)
    x1, z1 = np_to_xz(maxlat, maxlon, origin)
    return (
        np.minimum(x0, x1),
        np.minimum(z0, z1),
        np.maximum(x0, x1),
        np.maximum(z0, z1),
    )


def _drop_closing_vertex(px, pz, starts, npts):
    """Per ring: if first == last and npts >= 2, drop the duplicate closing
    vertex (compacting the flat arrays). Returns (px, pz, starts, npts)."""
    n_rings = len(starts)
    if n_rings == 0:
        return px, pz, starts, npts
    # clamp so 0-point rings don't index out of bounds (mask keeps them out)
    s = np.minimum(starts, max(len(px) - 1, 0))
    last = np.clip(starts + npts - 1, 0, max(len(px) - 1, 0))
    closed = (npts >= 2) & (px[s] == px[last]) & (pz[s] == pz[last])
    new_npts = npts - closed.astype(np.int64)
    keep = np.ones(len(px), dtype=bool)
    keep[last[closed]] = False
    new_starts = _excl_cumsum(new_npts)
    return px[keep], pz[keep], new_starts, new_npts


def _sh_pass(px, pz, starts, npts, lo_x, hi_x, lo_z, hi_z, side):
    """One Sutherland-Hodgman half-plane pass over ALL rings at once.
    lo_x/hi_x/lo_z/hi_z are per-RING bounds. Emission order per edge is
    identical to _sh_clip_ring: current vertex (if inside) then the
    boundary intersection (if the edge crosses)."""
    n_rings = len(starts)
    total = len(px)
    if total == 0:
        return px, pz, starts, npts
    ring_of = np.repeat(np.arange(n_rings, dtype=np.int64), npts)
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, npts)
    npts_rep = np.repeat(npts, npts)
    starts_rep = np.repeat(starts, npts)
    nxt = np.where(within == npts_rep - 1, starts_rep, np.arange(total, dtype=np.int64) + 1)

    if side == 0:
        bound = np.repeat(lo_x, npts)
        inside = px >= bound
    elif side == 1:
        bound = np.repeat(hi_x, npts)
        inside = px <= bound
    elif side == 2:
        bound = np.repeat(lo_z, npts)
        inside = pz >= bound
    else:
        bound = np.repeat(hi_z, npts)
        inside = pz <= bound

    in_nxt = inside[nxt]
    x2, z2 = px[nxt], pz[nxt]
    dx = x2 - px
    dz = z2 - pz
    if side in (0, 1):
        tt = np.where(dx != 0, (bound - px) / np.where(dx != 0, dx, 1.0), 0.0)
    else:
        tt = np.where(dz != 0, (bound - pz) / np.where(dz != 0, dz, 1.0), 0.0)
    ix = px + tt * dx
    iz = pz + tt * dz

    cross = inside != in_nxt
    emit = inside.astype(np.int64) + cross.astype(np.int64)
    out_total = int(emit.sum())
    pos = _excl_cumsum(emit)  # output slot of each edge's first emission

    out_x = np.empty(out_total, dtype=np.float64)
    out_z = np.empty(out_total, dtype=np.float64)
    out_x[pos[inside]] = px[inside]
    out_z[pos[inside]] = pz[inside]
    ipos = pos[cross] + inside[cross].astype(np.int64)
    out_x[ipos] = ix[cross]
    out_z[ipos] = iz[cross]

    new_npts = np.bincount(ring_of, weights=emit, minlength=n_rings).astype(np.int64)
    new_starts = _excl_cumsum(new_npts)
    return out_x, out_z, new_starts, new_npts


def _sh_clip_rings_flat(px, pz, starts, npts, lo_x, lo_z, hi_x, hi_z):
    """Clip many rings (flat layout, per-ring rects) in 4 vectorized
    half-plane passes. Returns (px, pz, starts, npts, keep_ring_mask) where
    rings with < 3 surviving points are masked out; survivors are closed
    (first point re-appended)."""
    px, pz, starts, npts = _drop_closing_vertex(px, pz, starts, npts)
    for side in range(4):
        px, pz, starts, npts = _sh_pass(px, pz, starts, npts, lo_x, hi_x, lo_z, hi_z, side)
    keep = npts >= 3
    # close surviving rings: sizes npts+1, first point duplicated at the end
    k_starts = starts[keep]
    k_npts = npts[keep]
    out_npts = k_npts + 1
    out_total = int(out_npts.sum())
    out_starts = _excl_cumsum(out_npts)
    src = np.repeat(k_starts, out_npts) + _ranges(out_npts)
    # the appended closing vertex reads the ring's first point
    last_slots = out_starts + out_npts - 1
    src_idx = src.copy()
    src_idx[last_slots] = k_starts
    return px[src_idx], pz[src_idx], out_starts, out_npts, keep


def _clip_polylines_flat(px, pz, starts, npts, lo_x, lo_z, hi_x, hi_z):
    """Liang-Barsky polyline clip over ALL ways at once. Returns
    (out_x, out_z, piece_starts, piece_npts, piece_ring): one output piece
    per maximal chain of surviving segments, exactly the chain-break rule
    of _clip_polyline (break on dropped segment or truncated endpoint)."""
    n_rings = len(starts)
    empty = (np.empty(0), np.empty(0), np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
    if n_rings == 0 or len(px) == 0:
        return empty
    nseg = np.maximum(npts - 1, 0)
    total_seg = int(nseg.sum())
    if total_seg == 0:
        return empty
    seg_ring = np.repeat(np.arange(n_rings, dtype=np.int64), nseg)
    first = np.repeat(starts, nseg) + _ranges(nseg)
    x1, z1, x2, z2 = px[first], pz[first], px[first + 1], pz[first + 1]
    dx, dz = x2 - x1, z2 - z1
    rminx, rminz = lo_x[seg_ring], lo_z[seg_ring]
    rmaxx, rmaxz = hi_x[seg_ring], hi_z[seg_ring]

    t0 = np.zeros(total_seg)
    t1 = np.ones(total_seg)
    valid = np.ones(total_seg, dtype=bool)
    for p, qv in (
        (-dx, x1 - rminx),
        (dx, rmaxx - x1),
        (-dz, z1 - rminz),
        (dz, rmaxz - z1),
    ):
        pz_ = p == 0
        valid &= ~(pz_ & (qv < 0))
        r = np.where(pz_, 0.0, qv / np.where(pz_, 1.0, p))
        neg = (~pz_) & (p < 0)
        pos = (~pz_) & (p > 0)
        valid &= ~(neg & (r > t1)) & ~(pos & (r < t0))
        t0 = np.where(neg & (r > t0) & valid, r, t0)
        t1 = np.where(pos & (r < t1) & valid, r, t1)
    valid &= t0 <= t1
    ax = x1 + t0 * dx
    az = z1 + t0 * dz
    bx = x1 + t1 * dx
    bz = z1 + t1 * dz

    if not valid.any():
        return empty
    v_idx = np.nonzero(valid)[0]
    v_ring = seg_ring[v_idx]
    v_ax, v_az, v_bx, v_bz = ax[v_idx], az[v_idx], bx[v_idx], bz[v_idx]
    # chain break: first valid seg overall, ring change, a dropped segment
    # between consecutive valid segs, or endpoint discontinuity
    prev_idx = np.empty(len(v_idx), dtype=np.int64)
    prev_idx[0] = -10
    prev_idx[1:] = v_idx[:-1]
    prev_ring = np.empty(len(v_idx), dtype=np.int64)
    prev_ring[0] = -1
    prev_ring[1:] = v_ring[:-1]
    prev_bx = np.empty(len(v_idx))
    prev_bz = np.empty(len(v_idx))
    prev_bx[0] = np.nan
    prev_bz[0] = np.nan
    prev_bx[1:] = v_bx[:-1]
    prev_bz[1:] = v_bz[:-1]
    new_piece = (
        (prev_ring != v_ring)
        | (prev_idx != v_idx - 1)
        | (prev_bx != v_ax)
        | (prev_bz != v_az)
    )
    new_piece[0] = True
    piece_id = np.cumsum(new_piece) - 1
    n_pieces = int(piece_id[-1]) + 1
    # each valid segment emits its b point; each piece head also emits a
    emit = 1 + new_piece.astype(np.int64)
    pos = _excl_cumsum(emit)
    out_total = int(emit.sum())
    out_x = np.empty(out_total)
    out_z = np.empty(out_total)
    out_x[pos[new_piece]] = v_ax[new_piece]
    out_z[pos[new_piece]] = v_az[new_piece]
    out_x[pos + new_piece.astype(np.int64)] = v_bx
    out_z[pos + new_piece.astype(np.int64)] = v_bz
    piece_npts = np.bincount(piece_id, weights=emit, minlength=n_pieces).astype(np.int64)
    piece_starts = _excl_cumsum(piece_npts)
    piece_ring = v_ring[new_piece]
    return out_x, out_z, piece_starts, piece_npts, piece_ring


CLIPPED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_idx", IntegerType()),
        StructField("element_type", StringType()),
        StructField("zoom", IntegerType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("geom", ArrayType(ArrayType(DoubleType()))),
    ]
)


def clip_to_tiles(elements: DataFrame, origin, zoom: int = 14) -> DataFrame:
    """Split mode: explode each area/way element over its covered tiles and
    clip the geometry to each tile's metric rectangle (tile bounds
    projected with the dataset origin). Points pass through to their
    containing tile. Output rows carry only non-empty clipped geometry —
    every tile owns exactly the geometry inside it
    (MeshStore.ClipToBounds split mode :738-766)."""
    from ..functions.projection import np_to_xz

    cover = elements.select(
        "doc_id",
        "span_idx",
        "element_type",
        "geom",
        F.explode(
            T.tiles_for_bounds(zoom, F.col("minlat"), F.col("minlon"), F.col("maxlat"), F.col("maxlon"))
        ).alias("t"),
    ).select(
        "doc_id",
        "span_idx",
        "element_type",
        "geom",
        F.col("t.zoom").alias("zoom"),
        F.col("t.x").alias("tile_x"),
        F.col("t.y").alias("tile_y"),
    )

    def kernel(batches):
        for pdf in batches:
            out = _clip_batch(pdf, origin)
            if out is not None and len(out):
                yield out

    return cover.mapInPandas(kernel, schema=CLIPPED_SCHEMA)


def _subset_flat(flat, ring_mask):
    """Compact a FlatRings batch down to the masked rings. Returns
    (px, pz, starts, npts, orig_ring_index)."""
    npts = flat.ring_npts[ring_mask]
    point_mask = np.repeat(ring_mask, flat.ring_npts)
    px = flat.px[point_mask]
    pz = flat.pz[point_mask]
    return px, pz, _excl_cumsum(npts), npts, np.nonzero(ring_mask)[0]


def _clip_batch(pdf: pd.DataFrame, origin) -> pd.DataFrame | None:
    """Vectorized tile clip of one Arrow batch: nodes pass/drop by rect
    containment, ways Liang-Barsky split into pieces, area rings
    Sutherland-Hodgman — all over the packed FlatRings layout, no per-row
    Python loop."""
    import pyarrow as pa

    from ..functions.geometry import flatten

    n = len(pdf)
    if n == 0:
        return None
    minx, minz, maxx, maxz = _tile_rects_np(
        pdf["zoom"].to_numpy(), pdf["tile_x"].to_numpy(), pdf["tile_y"].to_numpy(), origin
    )
    flat = flatten(pdf["geom"])
    et = pdf["element_type"].to_numpy()
    ring_et = et[flat.ring_row]

    # accumulated output rings: per ring a (row, order, x[], z[]) group
    acc_row, acc_ord, acc_npts, acc_x, acc_z = [], [], [], [], []

    # --- nodes: keep the ring iff its first point is inside the row's rect
    m = ring_et == "node"
    if m.any():
        px, pz, starts, npts, orig = _subset_flat(flat, m)
        rows = flat.ring_row[orig]
        s = np.minimum(starts, max(len(px) - 1, 0))
        inside = (
            (npts >= 1)
            & (px[s] >= minx[rows]) & (px[s] <= maxx[rows])
            & (pz[s] >= minz[rows]) & (pz[s] <= maxz[rows])
        )
        if inside.any():
            point_keep = np.repeat(inside, npts)
            acc_row.append(rows[inside])
            acc_ord.append(flat.ring_idx[orig][inside] * 2)
            acc_npts.append(npts[inside])
            acc_x.append(px[point_keep])
            acc_z.append(pz[point_keep])

    # --- ways: Liang-Barsky polyline pieces
    m = ring_et == "way"
    if m.any():
        px, pz, starts, npts, orig = _subset_flat(flat, m)
        rows = flat.ring_row[orig]
        ox, oz, p_starts, p_npts, p_ring = _clip_polylines_flat(
            px, pz, starts, npts, minx[rows], minz[rows], maxx[rows], maxz[rows]
        )
        if len(p_npts):
            acc_row.append(rows[p_ring])
            # pieces of one ring stay in segment order (stable sort below)
            acc_ord.append(flat.ring_idx[orig][p_ring] * 2)
            acc_npts.append(p_npts)
            acc_x.append(ox)
            acc_z.append(oz)

    # --- areas: Sutherland-Hodgman rings
    m = ring_et == "area"
    if m.any():
        px, pz, starts, npts, orig = _subset_flat(flat, m)
        rows = flat.ring_row[orig]
        ox, oz, o_starts, o_npts, keep = _sh_clip_rings_flat(
            px, pz, starts, npts, minx[rows], minz[rows], maxx[rows], maxz[rows]
        )
        if keep.any():
            acc_row.append(rows[keep])
            acc_ord.append(flat.ring_idx[orig][keep] * 2)
            acc_npts.append(o_npts)
            acc_x.append(ox)
            acc_z.append(oz)

    if not acc_row:
        return None
    r_row = np.concatenate(acc_row)
    r_ord = np.concatenate(acc_ord)
    r_npts = np.concatenate([a.astype(np.int64) for a in acc_npts])
    r_x = np.concatenate(acc_x)
    r_z = np.concatenate(acc_z)

    # stable sort rings by (row, ring order); pieces keep emission order
    order = np.lexsort((r_ord, r_row))
    r_row, r_ord, s_npts = r_row[order], r_ord[order], r_npts[order]
    cur_starts = _excl_cumsum(r_npts)
    src = np.repeat(cur_starts[order], s_npts) + _ranges(s_npts)
    r_x, r_z = r_x[src], r_z[src]
    r_npts = s_npts

    # pack [x0,z0,x1,z1,...] per ring and build the nested Arrow column
    total = int(r_npts.sum())
    coords = np.empty(total * 2)
    coords[0::2] = r_x
    coords[1::2] = r_z
    ring_offsets = np.concatenate(([0], np.cumsum(r_npts * 2))).astype(np.int64)
    kept_rows = np.unique(r_row)  # ascending == input order
    rings_per_row = np.bincount(r_row, minlength=n)[kept_rows]
    row_offsets = np.concatenate(([0], np.cumsum(rings_per_row))).astype(np.int64)
    inner = pa.ListArray.from_arrays(pa.array(ring_offsets.astype(np.int32)), pa.array(coords))
    outer = pa.ListArray.from_arrays(pa.array(row_offsets.astype(np.int32)), inner)

    out = pdf.iloc[kept_rows][
        ["doc_id", "span_idx", "element_type", "zoom", "tile_x", "tile_y"]
    ].reset_index(drop=True)
    out["geom"] = outer.to_pandas()
    return out


def shrink_huge_areas(
    elements: DataFrame,
    threshold: float = 5.0,
    pad: float = 1.0,
) -> DataFrame:
    """Huge-area clip (OSMToMapDataConverter.shrinkHugeAreas, /root/
    reference/core/.../map_data/creation/OSMToMapDataConverter.java:78-156):
    areas whose bbox area exceeds `threshold` x the dataset boundary's area
    (:85) are clipped to the boundary padded by `pad` (:86) — the reference
    intersects via CAG (:106-115); the padded boundary is an axis-aligned
    rectangle, so Sutherland-Hodgman half-plane clipping is exact.

    The boundary is the NODE extent (the reference's dataBoundary is the
    file bbox union node extent, MapData.java:53-79 — area bboxes do NOT
    widen it, which is exactly why pathological areas can exceed it) — a
    4-number aggregate broadcast into the clip predicate, so the common
    case (no huge areas) costs one cheap scan + a filter that keeps
    geometry untouched. Falls back to the all-element bbox if there are no
    nodes.

    Output: the input rows with `geom` replaced where clipped and a
    `clipped` flag column.
    """
    # ONE action for the boundary: node extent and all-element extent
    # come out of the same aggregate (conditional min/max), instead of
    # an isEmpty() probe followed by a second scan
    is_node = F.col("element_type") == "node"
    agg = elements.agg(
        F.min(F.when(is_node, F.col("minx"))).alias("nminx"),
        F.min(F.when(is_node, F.col("minz"))).alias("nminz"),
        F.max(F.when(is_node, F.col("maxx"))).alias("nmaxx"),
        F.max(F.when(is_node, F.col("maxz"))).alias("nmaxz"),
        F.min("minx").alias("aminx"),
        F.min("minz").alias("aminz"),
        F.max("maxx").alias("amaxx"),
        F.max("maxz").alias("amaxz"),
    ).first()
    if agg["nminx"] is not None:
        b = {"bminx": agg["nminx"], "bminz": agg["nminz"],
             "bmaxx": agg["nmaxx"], "bmaxz": agg["nmaxz"]}
    else:  # no nodes: fall back to the all-element bbox
        b = {"bminx": agg["aminx"], "bminz": agg["aminz"],
             "bmaxx": agg["amaxx"], "bmaxz": agg["amaxz"]}
    if b["bminx"] is None:
        return elements.withColumn("clipped", F.lit(False))
    bminx, bminz = b["bminx"] - pad, b["bminz"] - pad
    bmaxx, bmaxz = b["bmaxx"] + pad, b["bmaxz"] + pad
    boundary_area = max(b["bmaxx"] - b["bminx"], 0.0) * max(b["bmaxz"] - b["bminz"], 0.0)

    is_huge = (
        (F.col("element_type") == "area")
        & (
            (F.col("maxx") - F.col("minx")) * (F.col("maxz") - F.col("minz"))
            > threshold * F.lit(boundary_area)
        )
    )
    flagged = elements.withColumn("clipped", is_huge)
    normal = flagged.where(~F.col("clipped"))
    huge = flagged.where(F.col("clipped"))

    out_schema = flagged.schema

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            new_geoms = []
            for geom in pdf["geom"]:
                rings_out = []
                for ring in geom:
                    arr = np.asarray(ring, dtype=np.float64)
                    res = _sh_clip_ring(arr[0::2].copy(), arr[1::2].copy(), bminx, bminz, bmaxx, bmaxz)
                    if res is not None:
                        packed = np.empty(len(res[0]) * 2)
                        packed[0::2], packed[1::2] = res
                        rings_out.append(packed.tolist())
                new_geoms.append(rings_out)
            pdf = pdf.copy()
            pdf["geom"] = new_geoms
            # recompute the bbox columns from the clipped geometry
            for col, fn, idx in (("minx", np.min, 0), ("minz", np.min, 1), ("maxx", np.max, 0), ("maxz", np.max, 1)):
                if col in pdf.columns:
                    vals = []
                    for g in new_geoms:
                        pts = np.concatenate([np.asarray(r)[idx::2] for r in g]) if g else np.array([np.nan])
                        vals.append(float(fn(pts)))
                    pdf[col] = vals
            yield pdf

    clipped = huge.mapInPandas(kernel, schema=out_schema)
    return normal.unionByName(clipped)


def _clip_polyline(xs, zs, minx, minz, maxx, maxz):
    """Liang-Barsky-style polyline clip: keeps the in-rect portion of each
    segment; returns a LIST of (xs, zs) polyline pieces. A way that exits
    the rect and re-enters yields disjoint pieces — split-mode clipping
    (MeshStore.ClipToBounds :738-766) never fabricates a segment joining
    the exit point to the re-entry point. Empty list if fully outside."""
    pieces = []
    pts_x, pts_z = [], []

    def flush():
        if len(pts_x) >= 2:
            pieces.append((np.asarray(pts_x), np.asarray(pts_z)))

    for i in range(len(xs) - 1):
        seg = _clip_segment(xs[i], zs[i], xs[i + 1], zs[i + 1], minx, minz, maxx, maxz)
        if seg is None:
            flush()
            pts_x, pts_z = [], []
            continue
        (ax, az), (bx, bz) = seg
        if pts_x and (pts_x[-1] != ax or pts_z[-1] != az):
            # clipped segment doesn't continue the current chain (previous
            # segment was truncated at the boundary): start a new piece
            flush()
            pts_x, pts_z = [], []
        if not pts_x:
            pts_x.append(ax)
            pts_z.append(az)
        pts_x.append(bx)
        pts_z.append(bz)
    flush()
    return pieces


def _clip_segment(x1, z1, x2, z2, minx, minz, maxx, maxz):
    t0, t1 = 0.0, 1.0
    # Python floats: qv/p may overflow to inf on near-degenerate segments
    # (tiny p, huge qv) — the t0/t1 comparisons below handle inf correctly,
    # and plain floats don't emit numpy RuntimeWarnings on the way there.
    x1, z1, x2, z2 = float(x1), float(z1), float(x2), float(z2)
    minx, minz, maxx, maxz = float(minx), float(minz), float(maxx), float(maxz)
    dx, dz = x2 - x1, z2 - z1
    for p, qv in ((-dx, x1 - minx), (dx, maxx - x1), (-dz, z1 - minz), (dz, maxz - z1)):
        if p == 0:
            if qv < 0:
                return None
            continue
        r = qv / p
        if p < 0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    return (x1 + t0 * dx, z1 + t0 * dz), (x1 + t1 * dx, z1 + t1 * dz)
