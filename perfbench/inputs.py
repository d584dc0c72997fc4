"""Seeded inputs for the benchmark workloads, and an independent reading
of them for the output checks.

Everything here is a pure function of (seed, size): the same seed gives
the same documents, skew areas, edit set and raster. The program receives
only the generated inputs.

The second half (`parse_docs`, `project`) re-derives each element's
lat/lon rings, bboxes and metric coordinates straight from the span text
with its own numpy code, so the checks in `checks.py` never rely on the
program's own extraction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# projection constants (MetricMapProjection: Mercator, mm snap)
EARTH_CIRCUMFERENCE = 40075016.686
ORIGIN_LAT, ORIGIN_LON = 48.56687, 13.45127


# ------------------------------------------------------------ documents


def collect_docs(docs_df) -> pd.DataFrame:
    """Spark documents -> pandas (doc_id, spans as a list of dicts)."""
    rows = docs_df.collect()
    return pd.DataFrame(
        {
            "doc_id": [r["doc_id"] for r in rows],
            "spans": [[s.asDict() for s in r["spans"]] for r in rows],
        }
    )


def _fmt(lat, lon) -> str:
    return f"{lat:.7f},{lon:.7f}"


def _star_ring(lat, lon, rad_deg, nv, rng) -> str:
    """A simple (star-shaped) closed ring: vertex k at angle 2*pi*k/nv with
    a jittered radius, so no two edges cross."""
    ang = 2 * np.pi * np.arange(nv) / nv
    r = rad_deg * (1.0 + 0.15 * (rng.random(nv) - 0.5))
    la = lat + r * np.sin(ang)
    lo = lon + r * 1.5 * np.cos(ang)
    pts = [_fmt(a, b) for a, b in zip(la, lo)]
    pts.append(pts[0])
    return " ".join(pts)


def densest_points(docs: pd.DataFrame, k: int, cell_deg: float = 0.002) -> list[tuple[float, float]]:
    """Centres of the k grid cells holding the most geo-point spans."""
    pts = np.array(
        [
            [float(v) for v in s["text"].split(",")]
            for spans in docs["spans"]
            for s in spans
            if s["kind"] == "geo_point"
        ]
    )
    key = np.floor(pts / cell_deg).astype(np.int64)
    uniq, counts = np.unique(key, axis=0, return_counts=True)
    order = np.lexsort((uniq[:, 1], uniq[:, 0], -counts))[:k]
    return [((a + 0.5) * cell_deg, (b + 0.5) * cell_deg) for a, b in uniq[order]]


def skew_areas(docs: pd.DataFrame, seed: int, n_medium: int, n_large: int,
               medium_vertices: int, large_vertices: int,
               large_radius_deg: tuple[float, float]) -> pd.DataFrame:
    """Large multi-vertex areas on the corpus' densest spots, returned as
    extra documents with one geo_area span each.

    The `n_large` large areas all sit on the densest spot, each the next
    one `0.6 * large_radius_deg[0]` further towards the middle of the
    corpus in latitude. That offset is larger than any two radii differ, so
    every two large rings cross on every seed: the area x area refinement
    tests every edge pair of the two. Their bboxes cover hundreds to
    thousands of 150 m join cells. The `n_medium` medium areas, 0.4-2.5 km
    in radius, sit on the next densest spots."""
    from osm2world_spark.sources.documents import BBOX

    rng = np.random.default_rng(seed)
    centres = densest_points(docs, n_medium + 1)
    lat0, lon0 = centres[0]
    step = 0.6 * large_radius_deg[0] * (1 if lat0 < (BBOX[0] + BBOX[2]) / 2 else -1)
    places = [(lat0 + i * step, lon0, True) for i in range(n_large)]
    places += [(lat, lon, False) for lat, lon in centres[1:]]
    rows = []
    for i, (lat, lon, large) in enumerate(places):
        if large:
            rad = rng.uniform(*large_radius_deg)
            nv = large_vertices
        else:
            rad = rng.uniform(0.4, 2.5) / 111.2  # km -> deg latitude
            nv = medium_vertices
        text = _star_ring(lat, lon, rad, nv, rng)
        rows.append(
            {
                "doc_id": f"skew_{i:04d}",
                "spans": [{"kind": "geo_area", "text": text, "media_ref": "", "offset": 0}],
            }
        )
    return pd.DataFrame(rows)


def edge_nodes(minlat, minlon, maxlat, maxlon, inset=1e-4) -> pd.DataFrame:
    """One document with a node at the middle of each edge of the raster
    extent. With sites on one side only, their 29th neighbour lies beyond
    the first kNN ring, so every corpus takes the same number of ring
    rounds instead of depending on whether some vertex happens to sit
    next to a no-data pixel."""
    mlat, mlon = (minlat + maxlat) / 2, (minlon + maxlon) / 2
    pts = [(minlat + inset, mlon), (maxlat - inset, mlon), (mlat, minlon + inset), (mlat, maxlon - inset)]
    spans = [{"kind": "geo_point", "text": _fmt(la, lo), "media_ref": "", "offset": i}
             for i, (la, lo) in enumerate(pts)]
    return pd.DataFrame([{"doc_id": "edge_0000", "spans": spans}])


def _geo_latlons(span) -> list[np.ndarray]:
    """Rings of one geo span as (n, 2) lat/lon arrays."""
    return [
        np.array([[float(v) for v in p.split(",")] for p in ring.split(" ")])
        for ring in span["text"].split(" hole:")
    ]


def z12_tile(lat, lon):
    n = 1 << 12
    x = math.floor((lon + 180.0) / 360.0 * n)
    r = math.radians(lat)
    y = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return x, y


def edit_set(docs: pd.DataFrame, n_edit: int, shift=(0.0004, 0.0006)):
    """The localised change set: the first `n_edit` documents (by doc_id)
    whose geo spans all lie in the most populated z12 tile, with every geo
    coordinate shifted by `shift` degrees."""
    per_doc_tile = {}
    counts: dict[tuple, int] = {}
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        tiles = {
            z12_tile(*pt)
            for s in spans
            if s["kind"].startswith("geo_")
            for ring in _geo_latlons(s)
            for pt in ring
        }
        if len(tiles) == 1:
            (t,) = tiles
            per_doc_tile[doc_id] = t
            counts[t] = counts.get(t, 0) + 1
    tile = max(sorted(counts), key=lambda t: counts[t])
    chosen = sorted(d for d, t in per_doc_tile.items() if t == tile)[:n_edit]
    by_id = dict(zip(docs["doc_id"], docs["spans"]))
    out = []
    for doc_id in chosen:
        spans = []
        for s in by_id[doc_id]:
            s = dict(s)
            if s["kind"].startswith("geo_"):
                s["text"] = " hole:".join(
                    " ".join(_fmt(la + shift[0], lo + shift[1]) for la, lo in ring)
                    for ring in _geo_latlons(s)
                )
            spans.append(s)
        out.append({"doc_id": doc_id, "spans": spans})
    return pd.DataFrame(out)


# --------------------------------------------- independent element view


def project(lat, lon):
    """lat/lon -> metric (x, z) with millimetre snap, from the Mercator
    formulas of the metric map projection around the fixed origin."""
    scale = EARTH_CIRCUMFERENCE * math.cos(math.radians(ORIGIN_LAT))
    ox = (ORIGIN_LON + 180.0) / 360.0 * scale
    s0 = math.sin(math.radians(ORIGIN_LAT))
    oy = (math.log((1.0 + s0) / (1.0 - s0)) / (4.0 * math.pi) + 0.5) * scale
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x = (lon + 180.0) / 360.0 * scale - ox
    s = np.sin(np.radians(lat))
    z = (np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi) + 0.5) * scale - oy
    return np.floor(x * 1000.0 + 0.5) / 1000.0, np.floor(z * 1000.0 + 0.5) / 1000.0


def parse_docs(docs: pd.DataFrame) -> pd.DataFrame:
    """One row per geo span: eid (doc#span), element type, lat/lon rings,
    projected rings (list of (n, 2) x/z arrays), geo and metric bboxes."""
    recs = []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        for i, s in enumerate(spans):
            if not s["kind"].startswith("geo_"):
                continue
            rings = _geo_latlons(s)
            xz = [np.stack(project(r[:, 0], r[:, 1]), axis=1) for r in rings]
            ll = np.concatenate(rings)
            m = np.concatenate(xz)
            recs.append(
                {
                    "eid": f"{doc_id}#{i}",
                    "doc_id": doc_id,
                    "span_idx": i,
                    "etype": {"geo_point": "node", "geo_way": "way"}.get(s["kind"], "area"),
                    "xz": xz,
                    "minlat": ll[:, 0].min(), "minlon": ll[:, 1].min(),
                    "maxlat": ll[:, 0].max(), "maxlon": ll[:, 1].max(),
                    "minx": m[:, 0].min(), "minz": m[:, 1].min(),
                    "maxx": m[:, 0].max(), "maxz": m[:, 1].max(),
                }
            )
    return pd.DataFrame(recs)


def join_members(elements: pd.DataFrame) -> pd.DataFrame:
    """The self-join's members: nodes, areas and every way segment
    (eid doc#span#seg), with metric bboxes."""
    recs = []
    for e in elements.itertuples(index=False):
        if e.etype == "way":
            line = e.xz[0]
            for k in range(len(line) - 1):
                (x1, z1), (x2, z2) = line[k], line[k + 1]
                recs.append(
                    (f"{e.eid}#{k}", "segment", e.eid, k, x1, z1, x2, z2, None,
                     min(x1, x2), min(z1, z2), max(x1, x2), max(z1, z2))
                )
        else:
            x1, z1 = e.xz[0][0]
            recs.append(
                (e.eid, e.etype, None, -1, x1, z1, np.nan, np.nan,
                 e.xz if e.etype == "area" else None, e.minx, e.minz, e.maxx, e.maxz)
            )
    return pd.DataFrame(
        recs,
        columns=["eid", "etype", "way", "seg", "x1", "z1", "x2", "z2", "rings",
                 "minx", "minz", "maxx", "maxz"],
    )


def vertices(elements: pd.DataFrame) -> pd.DataFrame:
    """Every element vertex (q_id doc#span#k over all rings in order)."""
    q, xs, zs = [], [], []
    for e in elements.itertuples(index=False):
        pts = np.concatenate(e.xz)
        q.extend(f"{e.eid}#{k}" for k in range(len(pts)))
        xs.append(pts[:, 0])
        zs.append(pts[:, 1])
    return pd.DataFrame({"q_id": q, "x": np.concatenate(xs), "z": np.concatenate(zs)})


def raster_site_table(raster: pd.DataFrame, pixels: int = 1201, blank: int = -32768) -> pd.DataFrame:
    """Raster pixel rows -> (s_id, x, z, y) sites at pixel centres, no-data
    pixels dropped."""
    r = raster[raster["elev"] != blank]
    lat = r["cell_lat"].to_numpy() + (r["py"].to_numpy() + 0.5) / pixels
    lon = r["cell_lon"].to_numpy() + (r["px"].to_numpy() + 0.5) / pixels
    x, z = project(lat, lon)
    s_id = [f"{a}_{b}_{c}_{d}" for a, b, c, d in zip(r["cell_lon"], r["cell_lat"], r["px"], r["py"])]
    return pd.DataFrame({"s_id": s_id, "x": x, "z": z, "y": r["elev"].to_numpy(np.float64)})
