"""Sink (K2/K4) and streaming (§2.12) semantics tests: insert-if-absent
MERGE into the tx-log table, tumbling-window parity with batch,
watermarked TTL dedup, availableNow drain. The exactly-once streaming
sink's replay test is tests/test_txlog.py::
test_stream_merge_to_txlog_replay_lands_nothing."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.sources import txlog
from dss_nlp_ingestion_spark.streaming.pipeline import (
    hourly_window_counts,
    read_events_stream,
    run_complete_available_now,
    watermark_dedup,
)
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["unique_identifier", "source", "text"])


def test_idempotent_append_is_insert_if_absent(spark, tmp_path):
    store = str(tmp_path / "store")
    first = _docs(spark, [("a", "s1", "t1"), ("b", "s1", "t2")])
    txlog.create_table(first.limit(0), store)

    def load(df):
        res = txlog.merge_into_table(
            spark, store, df, ["unique_identifier"], insert_only=True
        )
        return res["rows_written"]

    assert load(first) == 2
    assert load(first) == 0  # replay: no-op
    # Replay the same batch + one novel row: only the novel row lands.
    assert load(_docs(spark, [("a", "s1", "t1"), ("c", "s2", "t3")])) == 1
    stored = txlog.read(spark, store)
    assert stored.count() == 3
    assert stored.select("unique_identifier").distinct().count() == 3
    assert {r.source for r in stored.select("source").distinct().collect()} == {"s1", "s2"}


def test_streaming_hourly_windows_match_batch(spark, tmp_path):
    # Copy the sf0.001 events through the nanos-safe catalog into a
    # stream-source dir, then drain with availableNow.
    from dss_nlp_ingestion_spark.catalog import table

    events = table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = read_events_stream(spark, src, schema=events.schema)
    agg = hourly_window_counts(stream, watermark="2 hours")
    run_complete_available_now(agg, "hourly_stream")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("hourly_stream").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n_events
        for r in events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .collect()
    }
    assert got == want


def test_watermark_dedup_drops_in_stream_duplicates(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, "click", base),
        (1, "click", base + datetime.timedelta(minutes=5)),   # dup within TTL
        (1, "click", base + datetime.timedelta(days=8)),      # past watermark gap
        (2, "view", base),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    src = str(tmp_path / "dedup_src")
    df.write.parquet(src)
    stream = read_events_stream(spark, src, schema=df.schema)
    deduped = watermark_dedup(stream, ("user_id", "event_type"), "ts", ttl="7 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_stream").collect()
    # Within one availableNow pass all three (1, click) sightings hit
    # live state -> exactly one survives; (2, view) survives.
    keys = sorted((r.user_id, r.event_type) for r in out)
    assert keys == [(1, "click"), (2, "view")]


def test_streaming_session_windows_match_batch(spark, tmp_path):
    from dss_nlp_ingestion_spark.catalog import table
    from dss_nlp_ingestion_spark.plans import QUERIES
    from dss_nlp_ingestion_spark.streaming.pipeline import (
        session_window_counts_stream,
    )

    events = table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_session_src")
    events.write.parquet(src)

    stream = read_events_stream(spark, src, schema=events.schema)
    agg = session_window_counts_stream(stream, gap="30 minutes")
    run_complete_available_now(agg, "session_stream")
    got = sorted(map(tuple, spark.table("session_stream").collect()))
    want = sorted(map(tuple, QUERIES["session_window_counts"](spark, SF_DIR).collect()))
    assert got == want


def test_streaming_split_and_sample_match_batch(spark, tmp_path):
    # Sampling/split are stateless projections of the key, so the SAME
    # operator runs unchanged under Structured Streaming: membership
    # and split labels on the stream equal the batch answer exactly.
    from dss_nlp_ingestion_spark.catalog import table
    from dss_nlp_ingestion_spark.operators.sampling import (
        assign_split,
        deterministic_sample,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    src = str(tmp_path / "docs_split_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    labeled = assign_split(
        deterministic_sample(stream, "doc_id", 0.5), "doc_id",
        {"train": 0.75, "valid": 0.125, "test": 0.125},
    )
    q = (
        labeled.writeStream.format("memory")
        .queryName("split_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r["split"]) for r in spark.table("split_stream").collect()}
    want = {
        (r.doc_id, r["split"])
        for r in assign_split(
            deterministic_sample(docs, "doc_id", 0.5), "doc_id",
            {"train": 0.75, "valid": 0.125, "test": 0.125},
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_neardup_dedup_with_persistent_index(spark, tmp_path):
    from dss_nlp_ingestion_spark.streaming.pipeline import run_neardup_stream

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "dedup_store")
    index = str(tmp_path / "band_index")
    schema = "doc_id long, text string"

    batch1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "red green blue yellow purple"),
            (4, "north south east west center"),
            (5, "apple banana cherry date elderberry"),
        ],
        schema,
    )
    batch1.write.mode("append").parquet(src)
    stream = spark.readStream.schema(batch1.schema).parquet(src)
    run_neardup_stream(stream, store, index)
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 3, 4, 5}

    # Batch 2: 11 duplicates doc 1 (cross-batch near-dup -> dropped by
    # the index probe), 12/13 duplicate each other (within-batch
    # canonicalization keeps 12), 14 is fresh.
    batch2 = spark.createDataFrame(
        [
            (11, "alpha beta gamma delta epsilon"),
            (12, "lorem ipsum dolor sit amet consectetur"),
            (13, "lorem ipsum dolor sit amet consectetur"),
            (14, "quick brown fox jumps over lazy dog"),
        ],
        schema,
    )
    batch2.write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(batch1.schema).parquet(src)
    run_neardup_stream(stream2, store, index)

    final = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert final == {1, 2, 3, 4, 5, 12, 14}
