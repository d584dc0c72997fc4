"""kNN join (grid ring expansion) and fixed-radius IDW join.

Reference semantics (/root/reference/core/src/main/java/org/osm2world/
map_elevation/creation/):

- LeastSquaresInterpolator.findNearestSites (:147-216): exact kNN via an
  expanding square ring walk over a 50-unit grid (CELL_SIZE :24), bounded
  max-heap of size k, terminating when k sites are found AND the ring
  radius covers the kth distance (:202-203); results ascending by distance.
- InverseDistanceWeightingInterpolator (:49-83): 3x3 cell probe over a
  CUTOFF-sized grid, strict d < 300 cutoff (:15,69), weight d^-exp
  (exp = 2 default), weighted mean of site heights.
- LeastSquaresInterpolator.interpolateEle (:113-135): 29-NN (:26) weighted
  mean with linear falloff weight max(1 - d/120, 0).

Spark shape: an *iterative DataFrame algorithm*. Each round joins the
still-unsettled queries against sites on a k-disk of grid cells (explode of
cell offsets -> hash equi-join on the packed cell key), ranks with a window
(row_number <= k), and settles every query whose kth distance is provably
inside the processed disk. The disk radius doubles each round, so rounds =
O(log(max ring)). Termination bound: after processing disk radius R, any
unvisited site is at distance >= R*cell_size from the query (the query may
sit on its own cell's edge) — one ring more conservative than the
reference's cellRange*CELL_SIZE bound, which can miss sites in the
[(R-1)*s, R*s) band; we keep exact-kNN semantics (golden = brute force).

All joins are plain hash shuffles on bigint cell keys; ties broken by
site id so results are deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import grid

KNN_CELL_SIZE = 50.0  # LeastSquaresInterpolator.java:24
IDW_CUTOFF = 300.0    # InverseDistanceWeightingInterpolator.java:15


def knn_join(
    queries: DataFrame,
    sites: DataFrame,
    k: int,
    cell_size: float = KNN_CELL_SIZE,
    max_rounds: int = 12,
) -> DataFrame:
    """Exact kNN: (q_id, x, z) x (s_id, x, z [, y]) -> one row per
    (query, rank<=k) with ascending dist; ties broken by s_id.

    Output: q_id, rank, s_id, dist [, y if present on sites].
    """
    has_y = "y" in sites.columns
    s_cols = ["s_id", "s_x", "s_z"] + (["y"] if has_y else [])
    sites_p = sites.select(
        F.col("s_id"),
        F.col("x").alias("s_x"),
        F.col("z").alias("s_z"),
        *(["y"] if has_y else []),
    )
    sites_p = sites_p.withColumn("s_cell", grid.point_key(F.col("s_x"), F.col("s_z"), cell_size))

    remaining = queries.select(
        F.col("q_id"), F.col("x").alias("q_x"), F.col("z").alias("q_z")
    )
    # once the disk covers the sites' full extent there is nothing further
    # out: settle every remaining query (the reference leaves this as
    # "TODO error handling (not enough sites)", :205). Both sides' extents
    # and counts come from ONE job — a union with conditional aggregates —
    # instead of two separate .first() scans.
    ext = (
        sites_p.select(
            F.col("s_x").alias("px"), F.col("s_z").alias("pz"), F.lit(True).alias("site")
        )
        .unionByName(
            remaining.select(
                F.col("q_x").alias("px"), F.col("q_z").alias("pz"), F.lit(False).alias("site")
            )
        )
        .agg(
            F.min(F.when(F.col("site"), F.col("px"))).alias("s_minx"),
            F.max(F.when(F.col("site"), F.col("px"))).alias("s_maxx"),
            F.min(F.when(F.col("site"), F.col("pz"))).alias("s_minz"),
            F.max(F.when(F.col("site"), F.col("pz"))).alias("s_maxz"),
            F.count(F.when(F.col("site"), F.lit(1))).alias("n_sites"),
            F.count(F.when(~F.col("site"), F.lit(1))).alias("n_queries"),
            F.min("px").alias("minx"),
            F.max("px").alias("maxx"),
            F.min("pz").alias("minz"),
            F.max("pz").alias("maxz"),
        )
        .first()
    )
    if ext["n_sites"] == 0 or ext["n_queries"] == 0:
        return queries.sparkSession.createDataFrame(
            [], "q_id string, rank int, s_id string, dist double" + (", y double" if has_y else "")
        )
    import math

    span = max(ext["maxx"] - ext["minx"], ext["maxz"] - ext["minz"])
    r_cover = int(math.ceil(span / cell_size)) + 2

    # density-seeded initial radius: the expected kth-neighbor distance is
    # ~sqrt(k / (pi * density)); starting there skips rounds that cannot
    # settle anything (each round costs a join + window + barrier). The
    # settlement proof is unchanged, so results stay exact.
    n_sites = ext["n_sites"]
    area = max(
        (ext["s_maxx"] - ext["s_minx"]) * (ext["s_maxz"] - ext["s_minz"]), 1e-9
    )
    density = max(n_sites / area, 1e-12)
    r_seed = int(math.ceil(math.sqrt(k / (math.pi * density)) / cell_size))
    dist_expr = F.sqrt(
        (F.col("s_x") - F.col("q_x")) ** 2 + (F.col("s_z") - F.col("q_z")) ** 2
    )
    out_cols = ["q_id", "rank", "s_id", "dist"] + (["y"] if has_y else [])
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("s_id").asc())

    results = None
    r = min(max(1, r_seed), max(1, r_cover))
    rounds = 0
    settled_all = False
    n_rem = None
    while rounds < max_rounds and r < r_cover:
        rounds += 1
        q_cells = remaining.select(
            "q_id", "q_x", "q_z",
            F.explode(grid.ring_cells(F.col("q_x"), F.col("q_z"), cell_size, r)).alias("s_cell"),
        )
        cand = q_cells.join(sites_p, "s_cell").select(
            "q_id", "q_x", "q_z", *s_cols
        )
        # ONE action per round: the join+window is lazily checkpointed and
        # materialized by the remainder count below (the anti-join needs
        # all of `ranked`), which also materializes the new remainder.
        # done/settled are then cheap re-derivations from the checkpointed
        # ranked rows — no per-round eager serialization of the full
        # remainder, no separate isEmpty job.
        ranked = (
            cand.withColumn("dist", dist_expr)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        ).localCheckpoint(eager=False)
        # settle queries whose kth distance is covered by the processed disk
        stats = ranked.groupBy("q_id").agg(
            F.count("*").alias("n"), F.max("dist").alias("kth")
        )
        settled = stats.where(
            (F.col("n") >= k) & (F.col("kth") <= r * cell_size)
        ).select("q_id")
        new_remaining = (
            remaining.join(settled, "q_id", "left_anti")
            .select("q_id", "q_x", "q_z")
            .localCheckpoint(eager=False)
        )
        n_rem = new_remaining.count()
        done = ranked.join(settled, "q_id", "left_semi").select(*out_cols)
        results = done if results is None else results.unionByName(done)
        remaining = new_remaining
        if n_rem == 0:
            settled_all = True
            break
        r = min(r * 2, r_cover)

    if not settled_all:
        # Exhaustive tail: the ring walk either hit max_rounds or its disk
        # would cover the full extent. Never drop queries (the reference
        # leaves under-supplied grids as a TODO, :205; we settle them
        # exactly). Instead of exploding (2r+1)^2 cells per straggler —
        # quadratic in extent — cross-join the remainder against sites,
        # broadcasting the smaller side: stragglers are few by
        # construction, or sites are few (sparse grid), so one side is
        # always broadcastable.
        if n_rem is None:  # loop never ran (tiny extent): count once here
            n_rem = remaining.count()
        if n_rem > 0:
            if n_sites <= n_rem:
                tail_cand = remaining.crossJoin(F.broadcast(sites_p.drop("s_cell")))
            else:
                tail_cand = F.broadcast(remaining).crossJoin(sites_p.drop("s_cell"))
            tail = (
                tail_cand.withColumn("dist", dist_expr)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(*out_cols)
            )
            results = tail if results is None else results.unionByName(tail)
    return results


def idw_join(
    queries: DataFrame,
    sites: DataFrame,
    cutoff: float = IDW_CUTOFF,
    exponent: float = 2.0,
) -> DataFrame:
    """Fixed-radius IDW weighted-mean join
    (InverseDistanceWeightingInterpolator.java:49-83): 3x3 cell probe on a
    cutoff-sized grid, strict d < cutoff, weight d^-exponent.

    queries (q_id, x, z) x sites (s_id, x, z, y) -> (q_id, ele).
    Map-side partial aggregation applies (plain sum/sum), so the shuffle
    carries one partial row per (query, partition)."""
    sites_p = sites.select(
        F.col("x").alias("s_x"), F.col("z").alias("s_z"), F.col("y").alias("s_y")
    )
    sites_p = sites_p.withColumn("cell", grid.point_key(F.col("s_x"), F.col("s_z"), cutoff))
    q_cells = queries.select(
        "q_id", "x", "z",
        F.explode(grid.ring_cells(F.col("x"), F.col("z"), cutoff, 1)).alias("cell"),
    )
    dist = F.sqrt((F.col("s_x") - F.col("x")) ** 2 + (F.col("s_z") - F.col("z")) ** 2)
    weight = F.pow(F.col("dist"), -exponent)
    return (
        q_cells.join(sites_p, "cell")
        .withColumn("dist", dist)
        .where(F.col("dist") < cutoff)
        .withColumn("w", weight)
        .groupBy("q_id")
        .agg((F.sum(F.col("w") * F.col("s_y")) / F.sum("w")).alias("ele"))
    )


def interpolate(
    queries: DataFrame, sites: DataFrame, method: str = "leastsquares", **kw
) -> DataFrame:
    """Config-selected terrain interpolation (the reference picks its
    TerrainInterpolator implementation from config,
    O2WConfig.java:510-518): queries (q_id, x, z) x sites (s_id, x, z, y)
    -> (q_id, ele).

    methods: 'leastsquares' (LeastSquaresInterpolator, the default),
    'inversedistanceweighting' (IDW), 'linear' (29-NN linear falloff),
    'naturalneighbor' (Sibson stolen-area weights over a per-group
    Bowyer-Watson Delaunay — operators/natural.py; pass cell_size/halo
    through kw for the grid-partitioned scale path).
    """
    from ..registry import resolve

    return resolve("interpolator", method)(queries, sites, **kw)


def lsq_interpolate(queries: DataFrame, sites: DataFrame) -> DataFrame:
    """Full LeastSquaresInterpolator pipeline
    (LeastSquaresInterpolator.java:59-135):

    1. per-SITE quadratic fit: each site's 9 nearest sites (itself
       included — the site sits in its own grid) populate a 9x6 design
       matrix over the basis [1, x, z, x^2, x*z, z^2]
       (DefaultPolynomial.populateMatrix :245-255) solved least-squares
       (:91-92; QR there, batched normal equations here);
       any coefficient > 10e3 disqualifies the site's polynomial (:96-100)
    2. per-QUERY interpolation: 29-NN over the sites that HAVE a
       polynomial (requirePolynomial=true, :115-116), weight
       max(1 - d/120, 0), ele = sum(w * poly(q)) / sum(w) (:118-133).

    The fit is Arrow-batched: all sites' normal equations are solved as
    one stacked (N,6,6) `np.linalg.solve` per partition — no per-row
    Python. queries (q_id, x, z) x sites (s_id, x, z, y) -> (q_id, ele).
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

    s_as_q = sites.select(F.col("s_id").alias("q_id"), "x", "z")
    nn9 = knn_join(s_as_q, sites, k=9)
    neigh = nn9.join(
        sites.select(F.col("s_id"), F.col("x").alias("n_x"), F.col("z").alias("n_z"), F.col("y").alias("n_y")),
        "s_id",
    )
    grouped = neigh.groupBy("q_id").agg(
        F.array_sort(F.collect_list(F.struct("rank", "n_x", "n_z", "n_y"))).alias("nn")
    )

    id_type = dict(zip(sites.schema.names, sites.schema.fields))["s_id"].dataType
    fit_schema = StructType(
        [
            StructField("s_id", id_type),
            StructField("coeffs", ArrayType(DoubleType())),
        ]
    )

    def fit(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep_ids, mats, ys = [], [], []
            for sid, nn in zip(pdf["q_id"], pdf["nn"]):
                if len(nn) < 9:
                    continue
                xs = np.array([r["n_x"] for r in nn])
                zs = np.array([r["n_z"] for r in nn])
                yv = np.array([r["n_y"] for r in nn])
                A = np.stack([np.ones(9), xs, zs, xs * xs, xs * zs, zs * zs], axis=1)
                keep_ids.append(sid)
                mats.append(A)
                ys.append(yv)
            if not keep_ids:
                continue
            A = np.stack(mats)                      # (N, 9, 6)
            yv = np.stack(ys)                       # (N, 9)
            AtA = np.einsum("nij,nik->njk", A, A)   # (N, 6, 6)
            Aty = np.einsum("nij,ni->nj", A, yv)    # (N, 6)
            try:
                coef = np.linalg.solve(AtA, Aty)
            except np.linalg.LinAlgError:
                coef = np.stack([np.linalg.lstsq(a, b, rcond=None)[0] for a, b in zip(A, yv)])
            ok = ~(coef > 10e3).any(axis=1)         # :96-100
            yield pd.DataFrame(
                {
                    "s_id": np.array(keep_ids, dtype=object)[ok],
                    "coeffs": [c.tolist() for c in coef[ok]],
                }
            )

    polys = grouped.mapInPandas(fit, schema=fit_schema)
    sites_poly = sites.join(polys, "s_id")  # requirePolynomial=true

    nn29 = knn_join(queries, sites_poly.select("s_id", "x", "z"), k=29)
    cand = nn29.join(polys, "s_id").join(
        queries.select("q_id", F.col("x").alias("q_x"), F.col("z").alias("q_z")), "q_id"
    )
    c = F.col("coeffs")
    poly_at_q = (
        c[0]
        + c[1] * F.col("q_x")
        + c[2] * F.col("q_z")
        + c[3] * F.col("q_x") * F.col("q_x")
        + c[4] * F.col("q_x") * F.col("q_z")
        + c[5] * F.col("q_z") * F.col("q_z")
    )
    w = F.greatest(F.lit(0.0), 1.0 - F.col("dist") / 120.0)
    # all 29 NN beyond the 120 m falloff => sum(w) == 0; the reference's
    # Java double 0/0 yields NaN (interpolateEle :133), not an error
    return (
        cand.withColumn("w", w)
        .withColumn("pv", poly_at_q)
        .groupBy("q_id")
        .agg(
            F.coalesce(
                F.try_divide(F.sum(F.col("w") * F.col("pv")), F.sum("w")),
                F.lit(float("nan")),
            ).alias("ele")
        )
    )


def interpolate_29nn(queries: DataFrame, sites: DataFrame) -> DataFrame:
    """29-NN linear-falloff interpolation
    (LeastSquaresInterpolator.interpolateEle :113-135): weight
    max(1 - d/120, 0) over the 29 nearest sites; weighted mean of y.
    (The reference evaluates a fitted polynomial per site; the analytic
    surface of the operator — the kNN + weighting — is what we reproduce;
    y stands in for the polynomial value at the site.)"""
    nn = knn_join(queries, sites, k=29)
    w = F.greatest(F.lit(0.0), 1.0 - F.col("dist") / 120.0)
    return (
        nn.withColumn("w", w)
        .groupBy("q_id")
        .agg(
            F.coalesce(
                F.try_divide(F.sum(F.col("w") * F.col("y")), F.sum("w")),
                F.lit(float("nan")),
            ).alias("ele")
        )
    )
