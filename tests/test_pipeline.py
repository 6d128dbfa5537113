"""End-to-end ingestion pipeline test (SURVEY.md §3.2): task grid ->
fetch (fake transport) -> parse -> history dedup -> sector enrichment
(J1 explode + broadcast join, A1/A2 vote) -> insert-if-absent MERGE
into the tx-log table ->
flagship-style query over the store. One Spark job graph, no network,
no driver-side loops."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.operators.dedup import history_filter
from dss_nlp_ingestion_spark.operators.relational import majority_vote
from dss_nlp_ingestion_spark.sources.fetch import fetch_stage
from dss_nlp_ingestion_spark.sources.parsers import parse_newsfilter
from dss_nlp_ingestion_spark.sources import txlog

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _fake_transport():
    with open(os.path.join(FIXTURES, "raw_newsfilter.json"), encoding="utf-8") as f:
        body = f.read()

    def fetcher(url: str) -> tuple[int, str]:
        if "newsfilter" in url:
            return 200, body
        return 404, ""

    return fetcher


def test_ingestion_end_to_end(spark, tmp_path):
    # 1. Task grid (J5 cross product: source x page) — the reference's
    #    work queue as a DataFrame.
    tasks = spark.createDataFrame(
        [("https://api.example.com/newsfilter?page=0",),
         ("https://api.example.com/newsfilter?page=1",)],
        ["url"],
    )

    # 2. Fetch stage (rate-limited mapInPandas, fake transport).
    fetched = fetch_stage(tasks, _fake_transport(), rate_per_slot=1000.0)
    ok = fetched.filter(F.col("status") == 200).select("payload")
    assert fetched.filter(F.col("error").isNotNull()).count() == 0

    # 3. Parse into the unified schema (both pages carry the same
    #    3 articles -> 4 rows after the F5 '4 Form' exclusion).
    docs = parse_newsfilter(ok)
    assert docs.count() == 4

    # 4. D1 history dedup: pretend nf-001 was already ingested.
    seen = docs.filter(F.col("source_id") == "nf-001").select(
        F.col("unique_identifier").alias("id_hash")
    )
    fresh = history_filter(docs, seen, "unique_identifier")
    assert fresh.filter(F.col("source_id") == "nf-001").count() == 0

    # 5. J1 sector enrichment: explode tickers -> broadcast join dim
    #    -> A1 majority vote per doc.
    universe = F.broadcast(
        spark.createDataFrame(
            [("AAPL", 4510), ("MSFT", 4510), ("TSLA", 2510)],
            ["ticker_symbol", "icb_code"],
        )
    )
    exploded = fresh.select(
        "unique_identifier", F.explode("tickers").alias("ticker_symbol")
    ).join(universe, "ticker_symbol")
    sector = majority_vote(
        exploded, ["unique_identifier"], "icb_code", threshold=0.666, out_col="sector_code"
    )
    enriched = fresh.join(sector, "unique_identifier", "left")

    # 6. K2 insert-if-absent load + replay (exactly-once effect); the
    #    merge reports the rows its commit wrote.
    store = str(tmp_path / "docstore")
    txlog.create_table(enriched.limit(0), store)

    def load():
        res = txlog.merge_into_table(
            spark, store, enriched, ["unique_identifier"], insert_only=True
        )
        return res["rows_written"]

    n1 = load()
    n2 = load()  # replay: no-op
    assert n1 == 2 and n2 == 0  # nf-001 deduped, dup page deduped

    # 7. Query the store (flagship shape: filter window + group).
    stored = txlog.read(spark, store)
    out = (
        stored.filter(F.col("time") >= F.lit("2024-01-01").cast("timestamp"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    assert out == [("newsfilter", 2)] or [(r.source, r.n_docs) for r in out] == [
        ("newsfilter", 2)
    ]
    # nf-001's majority sector came through the broadcast join path.
    row = {r.source_id: r for r in stored.collect()}
    assert row["nf-003"].sector_code is None  # no tickers -> no vote
