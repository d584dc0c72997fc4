"""Spatial self-join tests: a hand-built scene with known golden overlaps
(the OSMToMapDataConverterTest style: structural counts + membership truth
tables, core-jvm/.../OSMToMapDataConverterTest.java) plus a synthetic-scale
smoke run."""

import pytest
from pyspark.sql import functions as F

from osm2world_spark.sources.documents import DOCS_SCHEMA, extract_elements, synthetic_documents
from osm2world_spark.operators.spatial_join import spatial_self_join


def _doc(doc_id, kind, text):
    return (doc_id, [{"kind": kind, "text": text, "media_ref": "", "offset": 0}])


@pytest.fixture(scope="module")
def scene_overlaps(spark):
    area1 = (
        "48.5660,13.4500 48.5660,13.4520 48.5680,13.4520 48.5680,13.4500 48.5660,13.4500"
        " hole:48.5668,13.4508 48.5668,13.4512 48.5672,13.4512 48.5672,13.4508 48.5668,13.4508"
    )
    area2 = "48.5674,13.4502 48.5674,13.4506 48.5678,13.4506 48.5678,13.4502 48.5674,13.4502"
    area3 = "48.5675,13.4515 48.5675,13.4525 48.5685,13.4525 48.5685,13.4515 48.5675,13.4515"
    docs = spark.createDataFrame(
        [
            _doc("A1", "geo_area", area1),
            _doc("A2", "geo_area", area2),
            _doc("A3", "geo_area", area3),
            _doc("N1", "geo_point", "48.5664,13.4505"),   # inside A1
            _doc("N2", "geo_point", "48.5670,13.4510"),   # in A1's hole
            _doc("N3", "geo_point", "48.5700,13.4700"),   # far outside
            _doc("W1", "geo_way", "48.5665,13.4490 48.5665,13.4530"),  # crosses A1
            _doc("W2", "geo_way", "48.5662,13.4502 48.5663,13.4504"),  # inside A1
            _doc("W3", "geo_way", "48.5660,13.4500 48.5660,13.4520"),  # = A1 south edge
            _doc("W4", "geo_way", "48.5690,13.4600 48.5696,13.4606"),
            _doc("W5", "geo_way", "48.5696,13.4600 48.5690,13.4606"),  # crosses W4
        ],
        DOCS_SCHEMA,
    )
    elements = extract_elements(docs)
    overlaps = spatial_self_join(elements).collect()
    return {((r.a_id, r.b_id)): r for r in overlaps}, overlaps


def test_na_contain(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("N1#0", "A1#0"))
    assert r is not None and r.overlap_kind == "CONTAIN" and r.a_type == "node"


def test_hole_excludes_node(scene_overlaps):
    by_pair, rows = scene_overlaps
    assert not any("N2#0" in (r.a_id, r.b_id) for r in rows)
    assert not any("N3#0" in (r.a_id, r.b_id) for r in rows)


def test_wa_intersect_ordered_positions(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("W1#0#0", "A1#0"))
    assert r is not None and r.overlap_kind == "INTERSECT"
    xs = [p.x for p in r.positions]
    assert len(xs) == 2
    assert xs == sorted(xs)  # ordered by distance from the way's west start


def test_wa_contain(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("W2#0#0", "A1#0"))
    assert r is not None and r.overlap_kind == "CONTAIN"


def test_wa_share_segment(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("W3#0#0", "A1#0"))
    assert r is not None and r.overlap_kind == "SHARE_SEGMENT"
    assert r.positions == []


def test_ww_intersect(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("W4#0#0", "W5#0#0")) or by_pair.get(("W5#0#0", "W4#0#0"))
    assert r is not None and r.overlap_kind == "INTERSECT"
    assert len(r.positions) == 1


def test_aa_contain_order(scene_overlaps):
    by_pair, _ = scene_overlaps
    # A1 contains A2 -> emitted as (contained, container)
    r = by_pair.get(("A2#0", "A1#0"))
    assert r is not None and r.overlap_kind == "CONTAIN"


def test_aa_intersect(scene_overlaps):
    by_pair, _ = scene_overlaps
    r = by_pair.get(("A1#0", "A3#0")) or by_pair.get(("A3#0", "A1#0"))
    assert r is not None and r.overlap_kind == "INTERSECT"


def test_no_spurious_overlaps(scene_overlaps):
    _, rows = scene_overlaps
    # exactly the 7 golden overlaps and nothing else
    assert len(rows) == 7, sorted((r.a_id, r.b_id, r.overlap_kind) for r in rows)


def test_synthetic_smoke(spark):
    docs = synthetic_documents(spark, 400, seed=42)
    elements = extract_elements(docs)
    overlaps = spatial_self_join(elements)
    agg = overlaps.groupBy("overlap_kind").count().collect()
    kinds = {r.overlap_kind: r["count"] for r in agg}
    assert set(kinds) <= {"INTERSECT", "CONTAIN", "SHARE_SEGMENT"}
    assert sum(kinds.values()) > 0
    # pair uniqueness: no duplicate (a,b)
    total = overlaps.count()
    distinct = overlaps.dropDuplicates(["a_id", "b_id"]).count()
    assert total == distinct


def test_salting_preserves_results(spark):
    """Triangle-split salting of dense cells must not change the overlaps:
    the production join with salting forced on every cell vs effectively
    off."""
    docs = synthetic_documents(spark, 300, seed=11)
    elements = extract_elements(docs).cache()

    def rows(dense_threshold):
        out = spatial_self_join(elements, dense_threshold=dense_threshold)
        return sorted(
            (r.a_id, r.b_id, r.overlap_kind, tuple((p.x, p.z) for p in r.positions))
            for r in out.collect()
        )

    salted = rows(1)
    plain = rows(10**9)
    assert plain and salted == plain
    elements.unpersist()


def test_aa_contain_wins_over_intersect():
    """Reference precedence (OSMToMapDataConverter.java:688-711):
    containment is computed regardless of a true outline intersection and
    CONTAIN wins — reachable with a concave (U-shaped) container whose
    notch walls cross the contained polygon while every contained vertex
    passes the vertex rule."""
    import pandas as pd

    from osm2world_spark.operators.spatial_join import _aa_rows

    u_shape = [[0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 6.0, 10.0, 6.0, 2.0,
                4.0, 2.0, 4.0, 10.0, 0.0, 10.0, 0.0, 0.0]]
    bar = [[1.0, 4.0, 9.0, 4.0, 9.0, 6.0, 1.0, 6.0, 1.0, 4.0]]
    pdf = pd.DataFrame(
        {"a_eid": ["U"], "b_eid": ["BAR"], "a_geom": [u_shape], "b_geom": [bar]}
    )
    out = _aa_rows(pdf)
    assert out is not None and len(out) == 1
    r = out.iloc[0]
    assert r["overlap_kind"] == "CONTAIN"
    # (contained, container) emission order
    assert r["a_id"] == "BAR" and r["b_id"] == "U"


def test_aa_hole_vertex_is_not_container_vertex():
    """vertices() in the reference is the OUTER ring only
    (PolygonWithHolesXZ): a query vertex that matches a HOLE vertex must
    fall through to the PIP test (which places it inside the hole =
    outside), so this pair has NO overlap."""
    import pandas as pd

    from osm2world_spark.operators.spatial_join import _aa_rows

    outer_with_hole = [
        [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0],
        [4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0],
    ]
    # triangle touching the hole's (4,4) corner, otherwise inside the
    # container's filled region, crossing nothing
    tri = [[4.0, 4.0, 3.0, 1.0, 1.0, 3.0, 4.0, 4.0]]
    pdf = pd.DataFrame(
        {"a_eid": ["A"], "b_eid": ["T"], "a_geom": [outer_with_hole], "b_geom": [tri]}
    )
    assert _aa_rows(pdf) is None


def test_pair_block_chunking_preserves_results(spark):
    """Bounded-memory pair expansion: a pathologically tiny combo budget
    (forcing one block per group or finer) must produce the identical
    overlap set as the default block size."""
    docs = synthetic_documents(spark, 300, seed=13)
    elements = extract_elements(docs).cache()
    full = spatial_self_join(elements)
    tiny = spatial_self_join(elements, pair_block=8)

    def canon(df):
        return sorted(
            (r.a_id, r.b_id, r.overlap_kind)
            for r in df.select("a_id", "b_id", "overlap_kind").collect()
        )

    assert canon(full) == canon(tiny)
    elements.unpersist()


def test_dense_cell_salting_bounds_group_pairs(spark):
    """A >20k-element single-cell hotspot must plan into salted groups
    whose pair-combo counts stay under the documented bound
    ((2 * _TARGET_SIDE)^2), with the salt count density-derived (not
    capped at a fixed small constant)."""
    import pyspark.sql.functions as F

    from osm2world_spark.operators.spatial_join import (
        _MAX_SALT,
        _TARGET_SIDE,
        _grouped_surface,
    )

    n = 21_000
    # tiny elements jittered inside ONE 150 m cell
    base = spark.range(n).select(
        F.concat(F.lit("e"), F.col("id")).alias("eid"),
        F.lit("node").alias("etype"),
        F.lit(None).cast("bigint").alias("way_key"),
        F.lit(0).alias("seg_idx"),
        (10.0 + F.pmod(F.col("id") * 13, 100) / 1.0).alias("x1"),
        (10.0 + F.pmod(F.col("id") * 7, 100) / 1.0).alias("z1"),
        F.lit(0.0).alias("x2"),
        F.lit(0.0).alias("z2"),
        F.array(F.array(F.lit(0.0), F.lit(0.0))).alias("geom"),
    ).withColumns(
        {
            "minx": F.col("x1"), "minz": F.col("z1"),
            "maxx": F.col("x1") + 0.5, "maxz": F.col("z1") + 0.5,
        }
    )
    grouped = _grouped_surface(base, cell_size=150.0, dense_threshold=4000)
    stats = (
        grouped.groupBy("gkey", "gi", "gj")
        .agg(
            F.sum((F.col("salt") == F.col("gi")).cast("int")).alias("n_left"),
            F.sum((F.col("salt") == F.col("gj")).cast("int")).alias("n_right"),
        )
        .collect()
    )
    import math

    expected_s = math.ceil(n / _TARGET_SIDE)
    assert expected_s > 32, "test must exceed the old fixed cap"
    assert expected_s <= _MAX_SALT
    salts = {r.gi for r in stats} | {r.gj for r in stats}
    assert len(salts) == expected_s
    bound = (2 * _TARGET_SIDE) ** 2
    worst = 0
    for r in stats:
        if r.gi == r.gj:
            combos = r.n_left * (r.n_left - 1) // 2
        else:
            combos = r.n_left * r.n_right
        worst = max(worst, combos)
    assert worst <= bound, (worst, bound)
    # group keys stay unique per (cell, gi, gj) — int64 packing holds
    assert len({r.gkey for r in stats}) == len(stats)
