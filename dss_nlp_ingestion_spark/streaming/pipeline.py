"""Streaming operators (SURVEY.md §2.12).

| reference mechanism                   | here                         |
|---------------------------------------|------------------------------|
| 1-hour task buckets (reddit.py:100)   | window(ts, '1 hour') agg     |
| re-scrape overlap + Redis dedup       | watermark + dropDuplicates-  |
| (redislease.py:60-79, 7-day SETEX)    | WithinWatermark (7-day)      |
| workers drain & exit (rediswq.py:76)  | trigger(availableNow=True)   |
| ES create-if-absent sink              | foreachBatch MERGE into the  |
| (datamodels.py:32)                    | tx-log table, replays        |
|                                       | skipped by (app, batch id)   |
|                                       | (stream_merge_to_txlog_table)|

Batch/stream parity: each streaming transform is the thin wrapper
over the same expression its batch twin uses, so the batch oracle
results certify the streaming plan too (the tests assert stream
output == batch output under availableNow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.functions.dates import epoch_ms


def read_events_stream(
    spark: SparkSession, events_dir: str, schema=None
) -> DataFrame:
    """File-source stream over a directory of event parquet files —
    the stand-in for Kafka/queue ingestion; same downstream plan."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("parquet").load(events_dir)


def hourly_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """T7 tumbling 1-hour windows with late-data tolerance: watermark
    bounds state; output matches the batch date_trunc form."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def watermark_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    ttl: str = "7 days",
) -> DataFrame:
    """D1 streaming form: state-store dedup with TTL — the Redis
    SETEX 7-day key-space as ``dropDuplicatesWithinWatermark`` (state
    is evicted by the watermark instead of Redis TTL)."""
    return stream.withWatermark(ts_col, ttl).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def run_available_now(
    stream_df: DataFrame, query_name: str = "drain"
) -> list:
    """Graceful-drain execution (workers exit when the queue empties,
    rediswq.py:76-83): process everything available, then stop;
    results land in an in-memory table named ``query_name``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append" if not stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def run_complete_available_now(stream_df: DataFrame, query_name: str) -> None:
    """As above for aggregation streams (complete output mode)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_window_counts_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """§2.12 session windows in Structured Streaming: the engine
    merges an event into the open session while it lands before
    last_ts + gap; the watermark closes sessions and evicts their
    state.  Same expression as the batch ``session_window_counts``
    query — stream==batch parity is the test."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col(key_col),
            epoch_ms(F.col("session_window.start")).alias("session_start_ms"),
            epoch_ms(F.col("session_window.end")).alias("session_end_ms"),
            "n_events",
        )
    )


def stream_neardup_dedup(
    stream: DataFrame,
    store_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 8,
    band_rows: int = 2,
    k: int = 3,
):
    """Streaming NEAR-duplicate dedup with a persistent LSH band
    index — the operational form of `incremental_lsh_dedup` for a
    live crawl: each micro-batch

    1. canonicalizes within itself (connected components over the
       batch's LSH candidate pairs, keep the min id per cluster),
    2. drops survivors whose bands hit the PERSISTED index (near-dups
       of anything accepted in any earlier batch),
    3. appends the remaining documents to ``store_path`` and their
       bands to ``index_path``.

    Scale shape: per batch, band generation is scan-side; the only
    joins are batch-bands×batch-bands (bounded by the batch) and
    batch-bands semi-join the index (shuffle on the band key; at
    100 TB the index is bucketed by band_key so the probe co-locates).
    The index grows with ACCEPTED documents only. foreachBatch is
    at-least-once: a batch replayed after its index append finds its
    own bands and lands nothing, but one replayed after a crash
    between the two appends lands its documents twice (the store is
    raw parquet with no log; the exactly-once sink is
    :func:`stream_merge_to_txlog_table`).

    Returns the foreachBatch callback (exposed for direct unit
    testing) alongside the started-query helper pattern used by the
    other streaming ops."""
    from dss_nlp_ingestion_spark.operators.dedup import lsh_bands, lsh_candidate_pairs
    from dss_nlp_ingestion_spark.operators.graph import canonical_filter, connected_components

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        batch_df = batch_df.persist()
        # 1. within-batch canonicalization
        pairs = lsh_candidate_pairs(batch_df, id_col, text_col, num_perm, band_rows, k)
        comps = connected_components(pairs, "id_a", "id_b")
        canon = canonical_filter(batch_df, comps, id_col).persist()
        # 2. probe the persisted index. The only legitimate "no index"
        # state is the FIRST batch (path not created yet) — checked
        # explicitly via the Hadoop FS, so a corrupt index or a
        # transient read failure PROPAGATES (Spark retries the batch)
        # instead of silently admitting near-duplicates to the store.
        hadoop_path = spark._jvm.org.apache.hadoop.fs.Path(index_path)
        fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
        bands = lsh_bands(canon, id_col, text_col, num_perm, band_rows, k)
        if fs.exists(hadoop_path):
            idx = spark.read.parquet(index_path).select("band", "band_key").distinct()
            hit = (
                bands.join(idx, ["band", "band_key"], "left_semi")
                .select(F.col("id").alias(id_col))
                .distinct()
            )
            survivors = canon.join(hit, id_col, "left_anti").persist()
        else:  # first batch: no index yet
            survivors = canon
        # 3. append documents + their bands
        survivors.write.mode("append").parquet(store_path)
        lsh_bands(survivors, id_col, text_col, num_perm, band_rows, k).write.mode(
            "append"
        ).parquet(index_path)
        batch_df.unpersist()
        canon.unpersist()

    return _process


def run_neardup_stream(
    stream: DataFrame, store_path: str, index_path: str, **kwargs
) -> None:
    """Drain the stream through :func:`stream_neardup_dedup` with
    availableNow (the reference's work-until-queue-empty loop)."""
    process = stream_neardup_dedup(stream, store_path, index_path, **kwargs)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", store_path + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sliding_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) windows: every event lands in
    duration/slide overlapping windows (4 here). Output keys on the
    window-start epoch millis — the exact value the batch twin
    reproduces with integer slot arithmetic."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration, slide), F.col("event_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            epoch_ms(F.col("window.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
        )
    )


def _create_if_missing(df: DataFrame, path: str) -> None:
    """Create an empty tx table with ``df``'s schema at ``path`` unless
    one exists: the first step of every tx-log sink's micro-batch."""
    from dss_nlp_ingestion_spark.sources import txlog

    if not txlog._versions(path):
        try:
            txlog.create_table(df.limit(0), path)
        except FileExistsError:
            pass  # concurrent batch-0 retry created it


def stream_to_txlog_table(
    stream: DataFrame, path: str, checkpoint: str, query_name: str = "tx_sink"
) -> None:
    """foreachBatch sink committing every micro-batch through the
    transaction log (sources/txlog.py): the first batch creates the
    table empty, and every batch appends through ``append_txn``
    stamped (query_name, batch_id). foreachBatch alone is
    at-least-once: a batch replayed after a crash between the commit
    and the checkpoint write, or a re-drain from a fresh checkpoint,
    runs again, and the stamp skips it before any data is staged, so
    each batch lands exactly once. The log makes each commit atomic —
    a crash between data staging and log commit leaves only orphan
    files (vacuumed), never partial rows. Contract (as for
    :func:`stream_merge_to_txlog_table`): one live writer per
    ``query_name`` and monotone batch ids. This is the reference's
    create-if-absent ES sink (datamodels.py:32) upgraded to a table
    format with time travel."""
    from dss_nlp_ingestion_spark.sources import txlog

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        _create_if_missing(batch_df, path)
        txlog.append_txn(batch_df, path, query_name, batch_id)
        # long-running sinks accrete commits; keep log replay O(tail)
        txlog.maybe_checkpoint(path)

    q = (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_merge_to_txlog_table(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint: str,
    app_id: str = "tx_merge_sink",
    query_name: str = "tx_merge_sink",
) -> None:
    """Streaming UPSERT into the transaction-log table — the Delta
    streaming-MERGE sink pattern: foreachBatch runs the file-pruned
    ACID merge per micro-batch, and every commit is stamped
    (app_id, batch_id) so a REPLAYED batch (crash after commit but
    before the checkpoint write, or a re-drain from a fresh
    checkpoint) is detected via ``last_committed_txn`` and skipped
    before any data is staged — exactly-once even though foreachBatch
    alone is at-least-once. Contract (same as Delta txnAppId): one
    live writer per app_id, monotone batch ids, and source keys
    unique within a batch."""
    from dss_nlp_ingestion_spark.sources import txlog

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        _create_if_missing(batch_df, path)
        txlog.merge_into_table(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols,
            txn=(app_id, batch_id),
        )
        # long-running sinks accrete commits; keep log replay O(tail)
        txlog.maybe_checkpoint(path)

    q = (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def click_purchase_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition:
    each purchase pairs with every click by the same user in the
    preceding ``gap``. Both sides carry watermarks and the join
    condition bounds event time in BOTH directions, so the state
    store can evict rows once the other side's watermark passes —
    the requirement for an unbounded-input join to run with bounded
    state. Output is append-mode (matches emitted as soon as both
    watermarks allow), the streaming twin of the batch range join."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {gap}"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms

    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (epoch_ms(F.col("p_ts")) - epoch_ms(F.col("c_ts"))).alias("gap_ms"),
    )


def stream_to_multitxn_tables(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    query_name: str = "multitxn_sink",
    app_id: str = "multitxn_sink",
) -> None:
    """foreachBatch sink with CROSS-TABLE atomicity: each micro-batch
    (1) commits its raw rows to <root>/events_raw, (2) commits its
    hourly partial counts to <root>/hourly_delta, then (3) publishes
    the multi-table version vector (sources/multitxn.py).  A crash
    after (1) or (2) but before (3) leaves tables ahead of the last
    published vector — readers of the vector still see a matched
    (raw, rollup) pair.  Replays are guarded PER TABLE with the
    (app_id, batch_id) stamp (txlog.append_txn, the same
    last_committed_txn protocol stream_merge_to_txlog_table uses):
    a redelivered micro-batch skips whichever appends already
    committed and only re-publishes the vector, so a crash between
    the two appends can never double-land rows in one table — the
    exactly-once contract holds across BOTH tables, not just within
    each."""
    import os

    from dss_nlp_ingestion_spark.sources import multitxn, txlog

    raw = os.path.join(root, "events_raw")
    agg = os.path.join(root, "hourly_delta")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        hourly = (
            batch_df.select(
                F.floor(epoch_ms("ts") / 3600000).cast("long").alias("hb")
            )
            .groupBy("hb")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        for path, df in ((raw, batch_df), (agg, hourly)):
            _create_if_missing(df, path)
            txlog.append_txn(df, path, app_id, batch_id)
            # keep log replay O(tail) for long-running sinks (same
            # guard as stream_merge_to_txlog_table)
            txlog.maybe_checkpoint(path)
        multitxn.commit_txn(
            root,
            {
                "events_raw": txlog._versions(raw)[-1],
                "hourly_delta": txlog._versions(agg)[-1],
            },
        )

    q = (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
