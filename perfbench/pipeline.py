"""The paper's pipeline composed from the engine's public functions:
parse -> dedup (history, exact, MinHash-LSH + pair verification) ->
connected components -> NLP enrichment -> txlog load, plus the query
side over the store. Every call into an engine layer runs inside a
tracer span; with tracing off the spans are no-ops and Spark keeps the
fused plan.

Two steps are DataFrame code of the benchmark's own, because the engine
has no function for them that takes a DataFrame: the keyword step is a
copy of ``plans.nlp_queries.keyword_model_topk`` (timed under
``functions.nlp``, so a change to the engine's keyword plan does not
move it), and the per-source daily profile is timed under ``bench``."""

from __future__ import annotations

import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.functions import nlp as N
from dss_nlp_ingestion_spark.functions.text import ws_tokens
from dss_nlp_ingestion_spark.operators import dedup, fulltext, graph, relational, similarity
from dss_nlp_ingestion_spark.sources import parsers, txlog

DOC_COLS = (
    "unique_identifier", "source", "source_id", "source_link", "tickers",
    "title", "description", "text", "text_hash", "time",
)
PARSERS = (
    ("newsfilter", parsers.parse_newsfilter),
    ("eastmoney", parsers.parse_eastmoney),
    ("aastocks", parsers.parse_aastocks),
)
KEY = "unique_identifier"
#: MinHash-LSH shape: 8 one-permutation minhashes in 4 bands of 2 rows
#: over word 3-gram shingles (the engine's registered near-dup shape).
SHINGLE_K, NUM_PERM, BAND_ROWS = 3, 8, 2
#: a candidate pair is a near-dup if the Jaccard similarity of its
#: distinct shingle sets reaches this
MIN_JACCARD = 0.5
N_KEYWORDS = 5
TOP_K = 5
IVF_CENTROID_MOD, IVF_PROBES = 31, 4
SECTOR_THRESHOLD = 0.5


def vec_id(key: F.Column) -> F.Column:
    """Numeric vector id from the hex key (48 bits): the similarity
    operators pick IVF centroids by ``id % centroid_mod``."""
    return F.conv(F.substring(key, 1, 12), 16, 10).cast("long")


def verified_pairs(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """The candidate pairs whose shingle-set Jaccard reaches
    ``MIN_JACCARD``, scored by the engine's n-gram Jaccard operator over
    the candidate documents only."""
    ids = cand.select(F.col("id_a").alias(KEY)).union(cand.select(F.col("id_b").alias(KEY)))
    near = dedup.ngram_jaccard_pairs(docs.join(ids, KEY, "left_semi"), KEY, "text", k=SHINGLE_K, threshold=MIN_JACCARD)
    return near.join(cand, ["id_a", "id_b"], "left_semi").select("id_a", "id_b")


def _file_rows_bytes(files: list[str]) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files)


def added_files(path: str, version: int) -> list[str]:
    now = set(txlog.snapshot_files(path, version))
    if version == 0:
        return sorted(now)
    return sorted(now - set(txlog.snapshot_files(path, version - 1)))


def store_bytes(path: str) -> int:
    """Bytes of live data files at the head version."""
    return sum(os.path.getsize(f) for f in txlog.snapshot_files(path))


class Pipeline:
    """Engine calls bound to one session and one tracer. The NLP
    artifacts and the sector dimension load once, at set-up."""

    def __init__(self, spark: SparkSession, tracer, universe: list[tuple[str, int]], worker_cpu_s=None):
        self.spark = spark
        self.tr = tracer
        self.worker_cpu_s = worker_cpu_s
        self.sentiment = N.quantized_sentiment_udf(N.load_sentiment_artifact(N.DEFAULT_SENTIMENT_ARTIFACT))
        kw = N.load_keyword_artifact(N.DEFAULT_KEYWORD_ARTIFACT)
        self.idf = spark.createDataFrame(list(zip(kw["vocab"], kw["idf_q"])), "tok string, idf long")
        self.idf_default = kw["default_q"]
        self.universe = spark.createDataFrame(universe, "ticker_symbol string, icb_code int")

    # --- ingest side ---------------------------------------------------------

    def parse(self, payloads: dict[str, list[str]]) -> tuple[DataFrame, int | None]:
        frames, rows = [], 0
        for form, parse_fn in PARSERS:
            if not payloads.get(form):
                continue
            raw = self.spark.createDataFrame([(p,) for p in payloads[form]], "payload string")
            with self.tr.span("sources.parsers", parse_fn.__name__) as h:
                frames.append(h.done(parse_fn(raw).select(*DOC_COLS)))
            rows = None if h.rows is None else rows + h.rows
        return reduce(DataFrame.unionByName, frames), rows

    def dedup(self, docs: DataFrame, n_in: int | None, history: DataFrame, key_col: str, hist_col: str) -> tuple[DataFrame, int | None]:
        """History anti-join, exact dedup, then near-dup removal: LSH
        candidates -> verified pairs -> connected components -> keep
        each cluster's minimum key."""
        with self.tr.span("operators.dedup", "history_filter") as h:
            fresh = h.done(dedup.history_filter(docs, history, key_col, hist_col))
            h.count("history_dropped", lambda: n_in - h.rows)
        n_fresh = h.rows
        with self.tr.span("operators.dedup", "exact_dedup") as h:
            exact = h.done(dedup.exact_dedup(fresh, ["text_hash"], KEY))
            h.count("exact_dropped", lambda: n_fresh - h.rows)
        n_exact = h.rows
        with self.tr.span("operators.dedup", "lsh_candidate_pairs") as h:
            cand = h.done(dedup.lsh_candidate_pairs(exact, KEY, "text", NUM_PERM, BAND_ROWS, SHINGLE_K))
            h.count("lsh_candidate_pairs", lambda: h.rows)
        with self.tr.span("operators.dedup", "verify_pairs") as h:
            pairs = h.done(verified_pairs(cand, exact))
            h.count("verified_pairs", lambda: h.rows)
        with self.tr.span("operators.graph", "connected_components") as h:
            comps = h.done(graph.connected_components(pairs, "id_a", "id_b"))
            h.count("components", lambda: comps.select("label").distinct().count())
        with self.tr.span("operators.graph", "canonical_filter") as h:
            kept = h.done(graph.canonical_filter(exact, comps, KEY))
        return kept, n_exact

    def enrich(self, docs: DataFrame) -> tuple[DataFrame, int | None]:
        """Sentiment (Arrow UDF over the committed model), hashed
        embedding vector, and top-k keywords from the committed
        term-weight artifact."""
        with self.tr.span("functions.nlp", "sentiment") as h:
            cpu0 = self.worker_cpu_s() if h.span and self.worker_cpu_s else None
            out = h.done(docs.withColumn("sentiment", self.sentiment(F.col("text"))))
            if cpu0 is not None:
                h.count("pyworker_cpu_ms", (self.worker_cpu_s() - cpu0) * 1000.0)
        with self.tr.span("functions.nlp", "embed_tokens") as h:
            out = h.done(
                out.withColumn("embedding", F.array(*N.embed_tokens(F.col("text")))).withColumn("vec_id", vec_id(F.col(KEY)))
            )
        with self.tr.span("functions.nlp", "keywords") as h:
            out = h.done(out.join(self._keywords(out), KEY, "left"))
        return out, h.rows

    def _keywords(self, docs: DataFrame) -> DataFrame:
        """``plans.nlp_queries.keyword_model_topk`` over a DataFrame."""
        toks = docs.select(KEY, F.posexplode(ws_tokens(F.lower(F.col("text")))).alias("pos", "tok")).filter(F.col("tok") != "")
        tf = toks.groupBy(KEY, "tok").agg(F.count(F.lit(1)).alias("tf"), F.min("pos").alias("first_pos"))
        scored = tf.join(F.broadcast(self.idf), "tok", "left").select(
            KEY, "tok", "first_pos", (F.col("tf") * F.coalesce(F.col("idf"), F.lit(self.idf_default))).alias("score")
        )
        w = Window.partitionBy(KEY).orderBy(F.col("score").desc(), F.col("first_pos").asc(), F.col("tok").asc())
        top = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= N_KEYWORDS)
        return top.groupBy(KEY).agg(
            F.transform(F.sort_array(F.collect_list(F.struct("r", "tok"))), lambda s: s["tok"]).alias("keywords")
        )

    def _write_counters(self, h, path: str, version: int, rows_in: int | None) -> None:
        h.count("commits", 1)
        if h.span is None:
            return
        rows, nbytes = _file_rows_bytes(added_files(path, version))
        h.count("bytes_written", nbytes)
        h.count("rows_written", rows)
        h.count("rows_submitted", rows_in)

    def load_store(self, groups: list[dict[str, list[str]]], path: str, compact: bool = False) -> None:
        """Fixture load: parse -> enrich -> one commit per payload group
        (fixture payloads carry no duplicates, so dedup is skipped),
        then an optional compaction and a log checkpoint."""
        for i, payloads in enumerate(groups):
            docs, _ = self.parse(payloads)
            enriched, _ = self.enrich(docs)
            if i == 0:
                txlog.create_table(enriched, path, stats_cols=[KEY])
            else:
                txlog.append(enriched, path, stats_cols=[KEY])
        if compact:
            txlog.compact(self.spark, path)
        txlog.checkpoint_log(path)

    def upsert(self, payloads: dict[str, list[str]], path: str) -> dict:
        """Micro-batch: unchanged re-sends are dropped against the
        store's content hashes; the rest MERGEs on the article key."""
        docs, n = self.parse(payloads)
        with self.tr.span("sources.txlog", "read") as h:
            hist = h.done(txlog.read(self.spark, path).select(F.col("text_hash").alias("seen_hash")))
        kept, _ = self.dedup(docs, n, hist, "text_hash", "seen_hash")
        enriched, n_out = self.enrich(kept)
        with self.tr.span("sources.txlog", "merge_into_table") as h:
            res = txlog.merge_into_table(self.spark, path, enriched, [KEY], stats_cols=[KEY])
            self._write_counters(h, path, res["version"], n_out)
            h.count("merge_files_touched", res["files_touched"])
            h.count("merge_files_total", res["files_total"])
            h.count("merge_files_skipped", res["files_skipped_by_stats"])
        return res

    def retention(self, path: str, keep_versions: int) -> None:
        with self.tr.span("sources.txlog", "checkpoint_log"):
            head = txlog.checkpoint_log(path)
        with self.tr.span("sources.txlog", "vacuum_retain") as h:
            out = txlog.vacuum_retain(path, max(0, head - keep_versions))
            h.count("vacuum_files_removed", len(out["removed"]))

    # --- query side ----------------------------------------------------------

    def _snapshot(self, path: str, version: int | None = None) -> DataFrame:
        with self.tr.span("sources.txlog", "read") as h:
            if h.span is not None:
                t0 = time.perf_counter()
                txlog.snapshot_files(path, version)
                h.count("snapshot_ms", (time.perf_counter() - t0) * 1000.0)
                h.count("snapshots", 1)
            return txlog.read(self.spark, path, version=version)

    def read_keys(self, path: str, version: int, keys: list[str]) -> list[tuple[str, str]]:
        """Read-after-commit: the batch's rows at the committed version."""
        store = self._snapshot(path, version)
        with self.tr.span("sources.txlog", "read_keys") as h:
            rows = _collect(h, store.filter(F.col(KEY).isin(keys)).select(KEY, "text_hash"))
        return [tuple(r) for r in rows]

    def bm25(self, path: str, queries: list[tuple[int, str]]) -> list[tuple]:
        store = self._snapshot(path)
        with self.tr.span("operators.fulltext", "bm25_topk") as h:
            return [tuple(r) for r in _collect(h, fulltext.bm25_topk(store, queries, KEY, "text", k=TOP_K))]

    def brute_force(self, path: str, query_ids: list[int]) -> list[tuple]:
        store = self._snapshot(path).select("vec_id", "embedding")
        with self.tr.span("operators.similarity", "brute_force_topk") as h:
            out = similarity.brute_force_topk(store, store.filter(F.col("vec_id").isin(query_ids)), k=TOP_K)
            return [tuple(r) for r in _collect(h, out)]

    def ivf(self, path: str, query_ids: list[int]) -> list[tuple]:
        store = self._snapshot(path).select("vec_id", "embedding")
        with self.tr.span("operators.similarity", "ivf_topk") as h:
            out = similarity.ivf_topk(
                store, store.filter(F.col("vec_id").isin(query_ids)),
                centroid_mod=IVF_CENTROID_MOD, n_probe=IVF_PROBES, k=TOP_K,
            )
            return [tuple(r) for r in _collect(h, out)]

    def sector_mix(self, path: str, t0: str, t1: str) -> list[tuple]:
        """Documents per majority sector (ticker -> sector vote) in a
        time window."""
        store = self._snapshot(path)
        with self.tr.span("operators.relational", "majority_vote") as h:
            votes = (
                store.filter((F.col("time") >= F.lit(t0).cast("timestamp")) & (F.col("time") < F.lit(t1).cast("timestamp")))
                .select(KEY, F.explode("tickers").alias("ticker_symbol"))
                .join(F.broadcast(self.universe), "ticker_symbol")
            )
            sector = relational.majority_vote(votes, [KEY], "icb_code", threshold=SECTOR_THRESHOLD, out_col="sector")
            out = sector.groupBy("sector").agg(F.count(F.lit(1)).alias("n_docs"))
            return [tuple(r) for r in _collect(h, out)]

    def daily_profile(self, path: str, t0: str, t1: str) -> list[tuple]:
        """Per-source daily document count and mean sentiment."""
        store = self._snapshot(path)
        with self.tr.span("bench", "daily_profile") as h:
            out = (
                store.filter((F.col("time") >= F.lit(t0).cast("timestamp")) & (F.col("time") < F.lit(t1).cast("timestamp")))
                .groupBy("source", F.to_date("time").alias("day"))
                .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("sentiment").alias("sentiment_sum"))
            )
            return [(r[0], r[1].isoformat(), r[2], r[3]) for r in _collect(h, out)]

    def time_travel(self, path: str, version: int) -> int:
        store = self._snapshot(path, version)
        with self.tr.span("sources.txlog", "count_as_of") as h:
            h.built()
            return store.count()


def _collect(h, df: DataFrame) -> list:
    h.built()
    rows = df.collect()
    if h.span is not None:
        h.span.rows_out = len(rows)
    return rows
