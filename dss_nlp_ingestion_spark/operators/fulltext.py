"""Relevance-ranked full-text search (BM25).

Reference parity: the reference's entire query consumer is an
Elasticsearch index whose ``text`` fields are analyzed ``text`` +
``keyword`` multifields (src/utils/elasticsearch_settings.md:78-116);
the one ES query shape downstream consumers run daily is a tokenized
``match`` with relevance ranking.  This module re-expresses that as a
Spark posting-list pipeline: tokenize -> filter to query vocabulary ->
per-(doc, term) tf -> BM25 score -> top-k per query.

Scale design (the 100 TB story):
- The query set is tiny and known up front, so the token stream is
  filtered to the query vocabulary AT THE SCAN (an ``isin`` on the
  exploded token), before any shuffle — the corpus-sized stream never
  carries non-matching terms.
- Document length (dl) is computed scan-side per row and travels with
  the exploded tokens; no extra join against a doc-stats table.
- Per-term document frequencies are one row per query term — they are
  broadcast back onto the tf stream (never a shuffle of the big side).
- Corpus-level scalars (N, avgdl) are a one-row aggregate, broadcast.
- Shuffles: one on (doc_id, tok) for tf, one on (query_id, doc_id)
  for the score sum, one tiny one for the per-query top-k window.

Cross-engine determinism: Spark's ``Math.log`` and DuckDB's ``ln``
disagree in the last ulp for ~8% of arguments (measured), so each
term's BM25 contribution is floor-rounded to 6 decimals and summed as
DECIMAL(18,6) — the total is exact and independent of both the
addition order and the engines' libm.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import ensure_parallelism

BM25_K1 = 1.2
BM25_B = 0.75

#: ASCII word tokens of the lowercased text — the analyzer.  Kept to
#: ``[a-z0-9]+`` so Spark's and DuckDB's lower()/regex agree byte-wise.
TOKEN_PATTERN = "[a-z0-9]+"

#: Maximal runs of CJK ideographs (basic block — matches
#: functions.text.CJK_CHAR_RE); runs are bigrammed by the CJK
#: analyzer the way the ES ``cjk_bigram`` token filter does.
CJK_RUN_PATTERN = "[一-鿿]+"


def text_tokens(col: F.Column) -> F.Column:
    """Analyzer: lowercase, keep ASCII word characters."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def text_token_count(col: F.Column) -> F.Column:
    """Token COUNT of :func:`text_tokens`, one integer column. The
    optimizer rewrites ``regexp_count`` to
    ``size(regexp_extract_all(...))``, so each row still builds the
    token array before sizing it. Used by the corpus-stats pass (the
    stats aggregate needs only dl, not the tokens)."""
    return F.regexp_count(F.lower(col), F.lit(TOKEN_PATTERN))


def text_tokens_cjk(col: F.Column) -> F.Column:
    """CJK-aware analyzer: ASCII word tokens PLUS character bigrams
    within each CJK run — the ES ``cjk_bigram`` shape the reference's
    analyzed zh ``text`` fields rely on
    (src/utils/elasticsearch_settings.md:78-116; three of its five
    sources are Chinese, src/lurkers/etnet.py:183-289).  Unsegmented
    text has no word boundaries, so ``[a-z0-9]+`` alone returns ZERO
    terms for a CJK query; adjacent-character bigrams restore
    sub-sentence match granularity.  An isolated single-ideograph run
    emits its unigram so no run is silently dropped.  All regex work
    is scan-side and stays in whole-stage codegen."""
    ascii_toks = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)
    runs = F.regexp_extract_all(col, F.lit(CJK_RUN_PATTERN), 0)
    grams = F.flatten(
        F.transform(
            runs,
            lambda r: F.when(F.length(r) == 1, F.array(r)).otherwise(
                # lookahead-capture: one regex pass emits every
                # overlapping bigram (same trick as char_shingles).
                F.regexp_extract_all(r, F.lit("(?=(..))."), 1)
            ),
        )
    )
    return F.concat(ascii_toks, grams)


def text_token_count_cjk(col: F.Column) -> F.Column:
    """Token COUNT of :func:`text_tokens_cjk` without the bigram
    arrays: ascii tokens via ``regexp_count``, and each CJK run
    of length L contributes L-1 bigrams (1 for an isolated
    ideograph) — summed over the runs array. The runs themselves are
    still extracted (cheap: few per row), but the per-run BIGRAM
    arrays — the bulk of the CJK token volume — never exist. The
    ``aggregate`` HOF is interpreted, but it folds over ~tens of runs
    per row, not thousands of tokens."""
    ascii_n = F.regexp_count(F.lower(col), F.lit(TOKEN_PATTERN))
    runs = F.regexp_extract_all(col, F.lit(CJK_RUN_PATTERN), 0)
    grams_n = F.aggregate(
        runs,
        F.lit(0),
        lambda acc, r: acc
        + F.when(F.length(r) == 1, F.lit(1)).otherwise(F.length(r) - 1),
    )
    return ascii_n + grams_n


def analyze_query_cjk(qtext: str) -> list[str]:
    """Driver-side twin of :func:`text_tokens_cjk` for literal query
    strings (query sets are tiny and known up front, so their terms
    are computed once here and pushed into the scan as literals)."""
    import re

    toks = re.findall(TOKEN_PATTERN, qtext.lower())
    for run in re.findall(CJK_RUN_PATTERN, qtext):
        if len(run) == 1:
            toks.append(run)
        else:
            toks.extend(run[i : i + 2] for i in range(len(run) - 1))
    return toks


def bm25_topk(
    docs: DataFrame,
    queries: Sequence[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    tokenizer=None,
    query_tokenizer=None,
    token_counter=None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a small literal set of (query_id, query_text); its
    terms are pushed into the scan as an ``isin`` filter so the
    exploded token stream is pruned before the first shuffle.
    ``tokenizer`` (Column -> array Column, default :func:`text_tokens`)
    and ``query_tokenizer`` (str -> list[str], default lowercase
    whitespace split) select the analyzer — pass
    :func:`text_tokens_cjk` / :func:`analyze_query_cjk` for CJK
    corpora, with ``token_counter`` its array-free count twin
    (:func:`text_token_count_cjk`). Returns
    (query_id, rank, doc_id, score).

    Pass structure (r11, guide §2.3/§2.4 — the corpus text is the
    heavy payload, so touch it as few times as possible):
    - ONE full tokenize pass feeds the tf pipeline. The previous
      shape evaluated the tokenizer THREE times per query — once for
      corpus stats, once under the tf aggregate, and once more under
      the df-per-term aggregate (Catalyst cannot share the unpersisted
      ``base`` subtree across the stats branch, the tf branch and the
      dfreq branch).
    - Per-term document frequency is a ``count(*) over (partition by
      tok)`` WINDOW on the tf table (vocab-filtered, tiny) instead of
      a separate aggregation branch of the same corpus-sized
      pipeline — one small exchange replaces a full re-tokenize.
    - The corpus-stats pass (n_docs, avgdl) needs only the token
      COUNT per document, so it runs ``token_counter``
      (``regexp_count``, which Spark runs as
      ``size(regexp_extract_all(...))``) — the same integer per row as
      ``size(tokenizer(...))``.
    """
    tokenizer_given = tokenizer is not None
    tokenizer = tokenizer or text_tokens
    query_tokenizer = query_tokenizer or (lambda qtext: qtext.lower().split())
    if token_counter is None:
        if tokenizer_given:
            # Unknown analyzer: fall back to counting the actual array.
            token_counter = lambda c: F.size(tokenizer(c))  # noqa: E731
        else:
            token_counter = text_token_count
    # Duplicates are KEPT: a query that repeats a term counts that
    # term's contribution once per occurrence, matching the oracle's
    # plain unnest of the split query text (ES multiplies the same
    # way for repeated match-clause terms).
    qterms = sorted(
        (qid, t) for qid, qtext in queries for t in query_tokenizer(qtext)
    )
    vocab = sorted({t for _, t in qterms})

    src = ensure_parallelism(docs)
    # Corpus scalars: one row, broadcast onto every later stage.
    # avg over the INT count — identical doubles to avg(size(toks)).
    stats = src.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(token_counter(F.col(text_col))).alias("avgdl"),
    )

    base = src.select(
        F.col(id_col).alias("doc_id"), tokenizer(F.col(text_col)).alias("_toks")
    )
    toks = base.select(
        "doc_id",
        F.size("_toks").cast("double").alias("dl"),
        F.explode("_toks").alias("tok"),
    ).filter(F.col("tok").isin(vocab))

    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    # df per query term: a window over the vocab-filtered tf table —
    # one tok-keyed exchange of <= |matching docs| x |vocab| rows,
    # never a second pass over the corpus. Every tf row has df >= 1
    # (its own doc), so row membership matches the old inner join.
    tf = tf.withColumn(
        "df",
        F.count(F.lit(1)).over(Window.partitionBy("tok")).cast("double"),
    )

    qdf = tf.sparkSession.createDataFrame(qterms, "query_id int, tok string")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    # floor-round to 6 decimals (identical IEEE ops in DuckDB), then
    # exact decimal sum: order- and libm-independent total.
    raw = idf * tf_part
    contrib = (F.floor(raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).cast(
        "decimal(18,6)"
    )

    scored = (
        tf.join(F.broadcast(qdf), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.col("_score").cast("double").alias("score"),
        )
    )


# --- positional phrase query ----------------------------------------------

def phrase_occurrences(
    df: DataFrame, id_col: str, text_col: str, phrase: Sequence[str]
) -> DataFrame:
    """Exact phrase occurrence counts through a POSITIONAL inverted
    index: whitespace tokens with positions (posexplode), postings
    filtered to the phrase's terms BEFORE any join (term-selective —
    only index-entry-sized streams move), then chained equi-joins
    (term_i at pos == term_0 at pos+i) reassemble occurrences.
    Overlapping occurrences count. Returns (id_col, n_occurrences)
    for docs with >= 1 match.

    The ES ``match_phrase`` shape of the reference's consumer queries
    (elasticsearch_settings.md); at scale each join shuffles on
    (doc, position) for two term posting lists — bounded by the
    rarest term's document frequency, never the corpus."""
    if len(phrase) < 2:
        raise ValueError("phrase needs >= 2 terms")
    postings = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    )
    matched = postings.filter(F.col("tok") == phrase[0]).select(id_col, "pos")
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("tok") == term).select(
            id_col, (F.col("pos") - i).alias("pos")
        )
        matched = matched.join(nxt, [id_col, "pos"])
    return matched.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
