"""Dedup operator queries (SURVEY.md §2.4 + LLM-pipeline dedup
family), oracle-checked. Exact dedup is exercised on a corpus with
*planted* duplicates (documents UNION a 10% slice) so the operator is
non-trivial at every scale factor; the near-dup operators run on the
raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import table
from dss_nlp_ingestion_spark.operators.dedup import (
    SIMHASH_BITS,
    SIMHASH_WIDE_BITS,
    dup_groups,
    history_filter,
    lsh_bands,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    prefix_filter_jaccard_pairs,
    simhash16,
    simhash_banded_pairs,
    simhash_near_pairs,
)
from dss_nlp_ingestion_spark.functions.text import shingles_auto
from dss_nlp_ingestion_spark.plans.registry import fround, fround_sql, register, register_split

# DuckDB CTE fragments shared by the shingle-based oracles.
_WS_CTE = r"""
w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
  FROM w WHERE len(ws) >= 3
)"""


# ---------------------------------------------------------------------------
# D2 exact dedup on planted duplicates
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT sha256(text) AS digest,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_id
FROM planted
GROUP BY sha256(text)
HAVING count(*) > 1
"""


@register("exact_dup_groups", _EXACT_ORACLE)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 exact content dedup (text_hash, newsfilter.py:167) as a
    hash-groupBy over a corpus with planted 10% duplicates: emits each
    duplicate group with its survivor id."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(docs.filter(F.col("doc_id") % 10 == 0))
    return dup_groups(planted, ["text"], "doc_id")


# ---------------------------------------------------------------------------
# D1 TTL history anti-join (batch form)
# ---------------------------------------------------------------------------

_HISTORY_ORACLE = """
WITH history AS (
  SELECT sha256(CAST(doc_id AS VARCHAR)) AS id_hash,
         doc_id % 14 AS age_days
  FROM documents WHERE doc_id % 7 = 0
)
SELECT d.doc_id FROM documents d
LEFT JOIN history h ON sha256(CAST(d.doc_id AS VARCHAR)) = h.id_hash
WHERE h.id_hash IS NULL OR h.age_days >= 7
"""


@register("history_ttl_filter", _HISTORY_ORACLE)
def history_ttl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 dedup against a TTL'd history table (redislease.py:60-79:
    absent -> ingest; present-but-expired -> re-ingest). History is
    synthesized from every 7th doc with a deterministic age."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "id_hash", F.sha2(F.col("doc_id").cast("string"), 256)
    )
    history = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            F.sha2(F.col("doc_id").cast("string"), 256).alias("id_hash"),
            (F.col("doc_id") % 14).alias("age_days"),
        )
    )
    return history_filter(
        docs, history, "id_hash", "id_hash", "age_days", ttl_periods=7
    ).select("doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------

_NUM_PERM, _BAND_ROWS = 8, 2
# One-permutation hashing: one sha256 per shingle, sliced into 8
# disjoint 8-hex-char windows (matches operators.dedup.minhash_signature_df).
_minhash_cols = ",\n    ".join(
    f"list_min(list_transform(hsh, h -> substr(h, {p * 8 + 1}, 8))) AS m{p}"
    for p in range(_NUM_PERM)
)
_band_selects = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band, m{b * _BAND_ROWS} || '|' || m{b * _BAND_ROWS + 1} AS band_key FROM sig"
    for b in range(_NUM_PERM // _BAND_ROWS)
)

_LSH_ORACLE = f"""
WITH {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@register("minhash_lsh_candidates", _LSH_ORACLE)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 perms over word-3-gram shingles) + LSH(4 bands x 2
    rows) candidate pairs — the scalable near-dup discovery pipeline
    (shuffle on band key only; never all-pairs)."""
    docs = table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity pairs
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH {_WS_CTE},
dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM sh
), sizes AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM dsh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM dsh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, shared,
       sa.sz + sb.sz - shared AS union_sz,
       {fround_sql('CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)', 6)} AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.15
"""


@register("ngram_jaccard_dups", _JACCARD_ORACLE)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (threshold 0.15): the
    posting-list self-join form (shuffle on shingle; bucket-local pair
    counts) — the verifier for the MinHash/LSH approximation."""
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.15)
    return pairs.select(
        "id_a",
        "id_b",
        "shared",
        "union_sz",
        fround(F.col("shared").cast("double") / F.col("union_sz"), 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash signatures + near pairs
# ---------------------------------------------------------------------------

def _simhash_cte(bits: int) -> str:
    """DuckDB twin of ``operators.dedup.simhash_sig`` at ``bits``."""
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(sha256(tok), 1, {bits // 4}))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id,
    {sums}
  FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id AS id, CAST({assemble} AS BIGINT) AS simhash FROM bits
)"""


_SIMHASH_CTE = _simhash_cte(SIMHASH_BITS)

_SIMHASH_ORACLE = f"WITH {_SIMHASH_CTE}\nSELECT id, simhash FROM sig"


@register("simhash_signatures", _SIMHASH_ORACLE)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (token-nibble contributions) — the
    per-row near-dup signature; computed scan-side, one shuffle to
    aggregate bit votes."""
    docs = table(spark, sf_dir, "documents")
    return simhash16(docs, "doc_id", "text")


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("simhash_near_dups", _SIMHASH_PAIRS_ORACLE)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over 16 bits) via
    xor+bit_count self-join — the small-sf all-pairs VERIFIER for
    :func:`simhash_near_dups_banded`; never run this form at scale."""
    docs = table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


_SIMHASH_WIDE_PAIRS_ORACLE = f"""
WITH {_simhash_cte(SIMHASH_WIDE_BITS)}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("simhash_near_dups_banded", _SIMHASH_WIDE_PAIRS_ORACLE)
def simhash_near_dups_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding over the WIDE
    60-bit signature (4 bands of 15 bits; hamming <= 3 guarantees a
    shared band) — equi-join on the band key, hamming-verify
    candidates, dedupe multi-band matches.  The 100 TB headline form:
    band keys have 2^15 values, so candidate volume is band-bucket-
    bounded, never n^2.  Oracle is the all-pairs SQL — same result
    set from a different algorithm."""
    docs = table(spark, sf_dir, "documents")
    return simhash_banded_pairs(
        docs, "doc_id", "text", max_hamming=3, n_bands=4, bits=SIMHASH_WIDE_BITS
    )


# ---------------------------------------------------------------------------
# Capped-posting-list Jaccard: the at-scale variant of the exact form
# ---------------------------------------------------------------------------

_CAP = 100

_JACCARD_CAPPED_ORACLE = f"""
WITH {_WS_CTE},
dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM sh
), sizes AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM dsh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM dsh
), rare AS (
  SELECT s FROM ex GROUP BY s HAVING count(*) <= {_CAP}
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM (SELECT * FROM ex WHERE s IN (SELECT s FROM rare)) a
  JOIN (SELECT * FROM ex WHERE s IN (SELECT s FROM rare)) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, shared,
       sa.sz + sb.sz - shared AS union_sz,
       {fround_sql('CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)', 6)} AS jaccard_lb
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.15
"""


@register("ngram_jaccard_dups_capped", _JACCARD_CAPPED_ORACLE)
def ngram_jaccard_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the Jaccard join: shingles with document
    frequency > {cap} are dropped before pair generation (a shingle in
    d docs contributes d^2 pair rows — the cap bounds the quadratic
    blowup; near-dup pairs still share plenty of rare shingles).
    Scores are therefore a LOWER BOUND (aliased ``jaccard_lb``);
    ``ngram_jaccard_dups`` is the exact verifier.""".replace("{cap}", str(_CAP))
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.15, max_df=_CAP
    )
    return pairs.select(
        "id_a",
        "id_b",
        "shared",
        "union_sz",
        fround(F.col("shared").cast("double") / F.col("union_sz"), 6).alias("jaccard_lb"),
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over LSH candidate pairs
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk AS (
  SELECT u AS node, v AS reach FROM edges
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
)
SELECT node, least(node, min(reach)) AS label
FROM walk GROUP BY node
"""


@register("dup_clusters", _CLUSTER_ORACLE)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components (iterative
    min-label propagation, operators/graph.py) over the MinHash-LSH
    candidate pairs — the step that turns pair discovery into
    keep-one-canonical dedup.  Oracle: DuckDB recursive transitive
    closure grouped to the min reachable id — same labels from a
    different algorithm."""
    from dss_nlp_ingestion_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    )
    return connected_components(pairs, "id_a", "id_b")


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH {_WS_CTE},
bench AS (
  SELECT DISTINCT s FROM (
    SELECT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0
  )
), probe AS (
  SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0
), bad AS (
  SELECT DISTINCT p.doc_id FROM probe p JOIN bench b USING (s)
)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
"""


@register("decontaminated_docs", _DECON_ORACLE)
def decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: every 97th document plays the
    held-out benchmark; corpus documents sharing ANY word 3-gram with
    it are dropped (the published n-gram overlap criterion for
    training-data hygiene). Benchmark shingles broadcast; corpus is
    filtered, never expanded."""
    from dss_nlp_ingestion_spark.operators.dedup import decontaminate

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(corpus, benchmark, "doc_id", "text", k=3).select(
        "doc_id", "lang"
    )


@register("dup_clusters_pj", _CLUSTER_ORACLE)
def dup_clusters_pj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin of :func:`dup_clusters`, kept because the query
    registry is frozen: the same connected-components kernel (hop +
    pointer-jump rounds) and the same rows."""
    return dup_clusters(spark, sf_dir)


# ---------------------------------------------------------------------------
# Incremental near-dup dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

_INCR_ORACLE = f"""
WITH {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), cands AS (
  SELECT DISTINCT n.doc_id
  FROM bands n JOIN bands o
    ON n.band = o.band AND n.band_key = o.band_key
   AND n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id % 5 = 0
  AND d.doc_id NOT IN (SELECT doc_id FROM cands)
"""


@register("incremental_lsh_dedup", _INCR_ORACLE)
def incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATIONAL dedup mode at scale: an incoming batch
    (doc_id % 5 = 0 plays the new crawl) is near-dup-checked against
    the existing corpus only — new-batch bands equi-join the stored
    corpus bands (no new-vs-new or corpus-vs-corpus pair work), and
    matched newcomers are dropped. At 100 TB the corpus band table is
    a persisted index; per-batch cost is proportional to the BATCH,
    not the corpus. Survivors returned with their language."""
    docs = table(spark, sf_dir, "documents")
    bands = lsh_bands(docs, "doc_id", "text", _NUM_PERM, _BAND_ROWS, k=3)
    # ONE pass over the band table (r11, guide §2.4): the former
    # new-vs-old filter pair pushed `id % 5` below the signature
    # aggregation's Exchange(id), making the two branches'
    # exchanges differ — so the whole shingle+sha256 minhash pipeline
    # ran TWICE (no ReusedExchange). Grouping each band bucket once
    # and splitting new/old inside the aggregate computes the
    # signature once and replaces the semi-join's two band-key
    # exchanges with one. collect_set drops the NULLs that old rows
    # produce, so `_new` holds exactly the batch ids in the bucket;
    # a bucket survives iff it also saw a corpus doc — identical
    # candidate set to the old semi-join shape.
    grouped = bands.groupBy("band", "band_key").agg(
        F.collect_set(F.when(F.col("id") % 5 == 0, F.col("id"))).alias("_new"),
        F.max(F.when(F.col("id") % 5 != 0, F.lit(1)).otherwise(F.lit(0))).alias(
            "_has_old"
        ),
    )
    cands = (
        grouped.filter(F.col("_has_old") == 1)
        .select(F.explode("_new").alias("doc_id"))
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 5 == 0)
        .join(cands, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Corpus funnel: retention counts through the dedup/decontamination chain
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), exact_kept AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn
    FROM documents
  ) WHERE rn = 1
), near_drop AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), near_kept AS (
  SELECT doc_id FROM exact_kept
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
), bench AS (
  SELECT DISTINCT s FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0)
), probe AS (
  SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0
), bad AS (
  SELECT DISTINCT p.doc_id FROM probe p JOIN bench b USING (s)
), clean_kept AS (
  SELECT doc_id FROM near_kept
  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
)
SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL
SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM exact_kept
UNION ALL
SELECT 'near_dedup', CAST(count(*) AS BIGINT) FROM near_kept
UNION ALL
SELECT 'decontaminated', CAST(count(*) AS BIGINT) FROM clean_kept
"""


@register("corpus_funnel_counts", _FUNNEL_ORACLE)
def corpus_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: how many documents survive each stage
    of the cleaning chain — raw -> exact dedup (min id per digest) ->
    near-dedup (drop docs with a smaller-id LSH candidate) ->
    decontamination.

    r11 shape (guide §2.4/§1.2): the old four-branch union recomputed
    the shared frames per branch — column pruning made each branch's
    exchanges canonically different, so ReusedExchange never fired and
    the plan scanned documents 12x / exchanged 27x (the minhash
    pipeline alone ran twice).  Now ONE spine pass computes per-doc
    stage flags (exact-kept via the digest window; near/contaminated
    via two id-set joins, each id set built once), a single
    aggregation folds the four counts, and ``stack`` unpivots them to
    the same four (stage, n_docs) rows.  Plan: 27 -> 10 exchanges,
    12 -> 5 document scans, identical output."""
    from pyspark.sql import Window

    from dss_nlp_ingestion_spark.functions.text import content_hash
    from dss_nlp_ingestion_spark.operators.dedup import contaminated_ids

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(content_hash(F.col("text"))).orderBy(
        F.col("doc_id").asc()
    )
    flagged = docs.select("doc_id", "text").select(
        "doc_id", (F.row_number().over(w) == 1).alias("_exact")
    )
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", _NUM_PERM, _BAND_ROWS, k=3)
    near_drop = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(True))
    )
    # Contamination flag over ALL probe-slice docs (a superset of the
    # near-kept probe the old anti-join shape scanned): the flag is
    # only counted where _near holds, so the 'decontaminated' count is
    # unchanged while the shared `near` frame no longer needs a second
    # evaluation.
    bad = contaminated_ids(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        k=3,
    ).withColumn("_bad", F.lit(True))
    staged = (
        flagged.join(near_drop, "doc_id", "left")
        .join(bad, "doc_id", "left")
        .select(
            "_exact",
            (F.col("_exact") & F.col("_nd").isNull()).alias("_near"),
            (
                F.col("_exact")
                & F.col("_nd").isNull()
                & (F.col("doc_id") % 97 != 0)
                & F.col("_bad").isNull()
            ).alias("_clean"),
        )
    )
    counts = staged.agg(
        F.count(F.lit(1)).cast("long").alias("_raw"),
        F.sum(F.when(F.col("_exact"), 1).otherwise(0)).cast("long").alias("_ex"),
        F.sum(F.when(F.col("_near"), 1).otherwise(0)).cast("long").alias("_nr"),
        F.sum(F.when(F.col("_clean"), 1).otherwise(0)).cast("long").alias("_cl"),
    )
    return counts.select(
        F.expr(
            "stack(4, 'raw', _raw, 'exact_dedup', _ex, "
            "'near_dedup', _nr, 'decontaminated', _cl) AS (stage, n_docs)"
        )
    )


# ---------------------------------------------------------------------------
# Normalization-aware exact dedup (C4-style canonical-form hashing)
# ---------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[.,!?;:]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_NORM_EXACT_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || ' !!' FROM documents WHERE doc_id % 10 = 0
)
SELECT sha256({_NORM_SQL.format(t='text')}) AS digest,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_id
FROM planted
GROUP BY sha256({_NORM_SQL.format(t='text')})
HAVING count(*) > 1
"""


@register("normalized_exact_dups", _NORM_EXACT_ORACLE)
def normalized_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the CANONICAL form (lowercase, punctuation
    stripped, whitespace squeezed) — catches the trivially-mutated
    copies raw hashing misses (planted here as uppercased+punctuated
    twins). Same hash-groupBy shuffle as exact dedup; normalization
    is scan-side."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[.,!?;:]", ""), r"\s+", " "
        )
    )
    hashed = planted.withColumn("_digest", F.sha2(norm, 256))
    return (
        hashed.groupBy(F.col("_digest").alias("digest"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram containment (asymmetric partial-copy detection)
# ---------------------------------------------------------------------------

_CONTAIN_ORACLE = f"""
WITH {_WS_CTE},
dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM sh
), sizes AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM dsh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM dsh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, shared, sa.sz AS sz_a, sb.sz AS sz_b,
       {fround_sql('CAST(shared AS DOUBLE) / sa.sz', 6)} AS contain_a,
       {fround_sql('CAST(shared AS DOUBLE) / sb.sz', 6)} AS contain_b
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest(CAST(shared AS DOUBLE) / sa.sz, CAST(shared AS DOUBLE) / sb.sz) >= 0.5
"""


# ---------------------------------------------------------------------------
# CJK near-dup family: character shingles over unsegmented text
# ---------------------------------------------------------------------------

# The synthetic corpus is ASCII, so the zh-labelled slice is mapped to
# REAL unsegmented CJK text deterministically in BOTH engines:
# letter->ideograph via translate() (identical delete-when-unmapped
# semantics in Spark and DuckDB; the 27th 'from' char — space — has no
# mapping and is removed, yielding boundary-free text, the shape of
# the reference's aastocks/etnet/eastmoney corpora).
_CJK26 = "的一是不了人我在有他这中大来上国个到说们为子和你地出"
assert len(_CJK26) == 26 and len(set(_CJK26)) == 26
_K_CHARS = 5

_CJK_DSH_CTE = f"""
zh AS (
  SELECT doc_id,
         translate(lower(text), 'abcdefghijklmnopqrstuvwxyz ', '{_CJK26}') AS ct
  FROM documents WHERE lang = 'zh'
), idx AS (
  SELECT doc_id, ct, unnest(generate_series(1, length(ct) - {_K_CHARS - 1})) AS i
  FROM zh WHERE length(ct) >= {_K_CHARS}
), dsh AS (
  SELECT DISTINCT doc_id, substr(ct, i, {_K_CHARS}) AS s FROM idx
)"""

_CJK_JACCARD_ORACLE = f"""
WITH {_CJK_DSH_CTE},
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, shared,
       sa.sz + sb.sz - shared AS union_sz,
       {fround_sql('CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)', 6)} AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.15
"""


def _cjk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zh slice as real unsegmented CJK text (see CTE comment)."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "zh")
        .select(
            "doc_id",
            F.translate(
                F.lower(F.col("text")), "abcdefghijklmnopqrstuvwxyz ", _CJK26
            ).alias("ct"),
        )
    )


@register("cjk_near_dups", _CJK_JACCARD_ORACLE)
def cjk_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over UNSEGMENTED CJK text via character 5-gram
    Jaccard — whitespace word shingles see one giant "word" per
    document here and silently degrade to near-exact matching; the
    CJK-aware shingler (`shingles_auto`: per-row routing on CJK char
    ratio) restores sub-sentence granularity.  Same one-shuffle
    posting pipeline as the word form."""
    pairs = ngram_jaccard_pairs(
        _cjk_corpus(spark, sf_dir),
        "doc_id",
        "ct",
        threshold=0.15,
        shingler=lambda c: shingles_auto(c, k_chars=_K_CHARS),
    )
    return pairs.select(
        "id_a",
        "id_b",
        "shared",
        "union_sz",
        fround(F.col("shared").cast("double") / F.col("union_sz"), 6).alias("jaccard"),
    )


_cjk_minhash_cols = ",\n    ".join(
    f"min(substr(h, {p * 8 + 1}, 8)) AS m{p}" for p in range(_NUM_PERM)
)

_CJK_LSH_ORACLE = f"""
WITH {_CJK_DSH_CTE},
sig AS (
  SELECT doc_id,
    {_cjk_minhash_cols}
  FROM (SELECT doc_id, sha256(s) AS h FROM dsh)
  GROUP BY doc_id
), bands AS (
{_band_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@register("cjk_lsh_candidates", _CJK_LSH_ORACLE)
def cjk_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of CJK near-dup discovery: MinHash+LSH over
    character 5-gram shingles (band-key equi-join, never all-pairs) —
    :func:`cjk_near_dups` is its exact small-sf verifier.  One
    ``shingler`` argument is the entire difference from the word-gram
    pipeline; everything downstream (one-permutation hashing, banding,
    bucket join) is shared."""
    return lsh_candidate_pairs(
        _cjk_corpus(spark, sf_dir),
        "doc_id",
        "ct",
        num_perm=_NUM_PERM,
        band_rows=_BAND_ROWS,
        shingler=lambda c: shingles_auto(c, k_chars=_K_CHARS),
    )


@register("ngram_containment_pairs", _CONTAIN_ORACLE)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment shared/|A| catches a
    short document living inside a long one (quotes, partial copies),
    which symmetric Jaccard dilutes below threshold. Same
    one-shuffle posting pipeline with per-side sizes kept."""
    from dss_nlp_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.0, keep_sizes=True
    )
    ca = F.col("shared").cast("double") / F.col("sz_a")
    cb = F.col("shared").cast("double") / F.col("sz_b")
    return (
        pairs.filter(F.greatest(ca, cb) >= 0.5)
        .select(
            "id_a", "id_b", "shared", "sz_a", "sz_b",
            fround(ca, 6).alias("contain_a"),
            fround(cb, 6).alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical selection by QUALITY: keep the best member of each
# near-dup cluster (not the min id) — the policy real training-data
# dedup wants: among near-duplicates, retain the longest/highest-
# quality copy and drop truncated or boilerplate-padded twins.
# ---------------------------------------------------------------------------

_CANON_BEST_ORACLE = f"""
WITH RECURSIVE {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk AS (
  SELECT u AS node, v AS reach FROM edges
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
), labels AS (
  SELECT node, least(node, min(reach)) AS label FROM walk GROUP BY node
)
SELECT cluster_id, canonical_id, n_chars FROM (
  SELECT COALESCE(l.label, d.doc_id) AS cluster_id,
         d.doc_id AS canonical_id,
         CAST(length(d.text) AS BIGINT) AS n_chars,
         row_number() OVER (
           PARTITION BY COALESCE(l.label, d.doc_id)
           ORDER BY length(d.text) DESC, d.doc_id ASC) AS rn
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
) WHERE rn = 1
"""


@register("dup_canonical_best", _CANON_BEST_ORACLE)
def dup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection: connected components over
    the LSH candidate pairs assign every document a cluster
    (singletons cluster with themselves), then each cluster keeps its
    LONGEST member (tie-break min id) — `canonical_filter`'s min-id
    policy upgraded to the keep-best policy training-data dedup
    actually wants. One window over the cluster key after the
    components join; the corpus is never expanded."""
    from pyspark.sql import Window

    from dss_nlp_ingestion_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    )
    comps = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("_label")
    )
    clustered = (
        docs.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(comps, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("_label"), F.col("doc_id")))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        clustered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"), "n_chars")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (blocked candidate pairs + exact Levenshtein)
# ---------------------------------------------------------------------------

#: Largest Levenshtein distance that counts as an edit-distance
#: near-dup; the oracle, the length-band join predicate and the banded
#: DP all read it.
_EDIT_MAX = 20

_EDIT_DIST_ORACLE = f"""
WITH blocked AS (
  SELECT doc_id, text, substr(text, 1, 12) AS blk FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {_EDIT_MAX}
"""


@register("edit_distance_dups", _EDIT_DIST_ORACLE)
def edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection: prefix blocking bounds the
    candidate set (one shuffle on the block key — the O(n^2) all-
    pairs never materializes), then EXACT Levenshtein inside each
    block. Both engines implement classic Levenshtein as pure
    integer DP, so unlike similarity scores this near-dup measure
    hash-matches exactly. Complements the MinHash/SimHash family
    with a character-level metric (catches small edits long-shingle
    methods can miss)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 12).alias("blk")
    )
    # The DP cost lives in the join-output stage; a small corpus scan
    # arrives as ONE split, and a broadcast join inherits the probe
    # side's partitioning — so without this the entire O(pairs x
    # len^2) Levenshtein work runs on a single core (observed: 14 s
    # single-task at sf0.1, ~0.6 s spread). At real scale the scan
    # has plenty of splits and this no-ops.
    n = spark.sparkContext.defaultParallelism
    a = (docs.repartition(n, "blk") if docs.rdd.getNumPartitions() < n else docs).alias("a")
    b = docs.alias("b")
    # |len(a) - len(b)| is a LOWER BOUND on edit distance, so pairs
    # whose lengths differ by more than _EDIT_MAX are dropped in the
    # join condition, before any DP runs. Survivors use the threshold
    # form of levenshtein: a banded O(len x _EDIT_MAX) DP returning the
    # exact distance when it is <= _EDIT_MAX and -1 otherwise.
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.length(F.col("a.text")) - F.length(F.col("b.text")))
            <= F.lit(_EDIT_MAX)
        ),
    )
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"), _EDIT_MAX)
    return pairs.filter(dist >= 0).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        dist.cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Triangle support on the near-dup graph (truss primitive)
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH edges AS ({_LSH_ORACLE}),
und AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM edges
), wedge AS (
  SELECT e.id_a, e.id_b, x.v AS c
  FROM edges e JOIN und x ON x.u = e.id_a
  JOIN und y ON y.u = e.id_b AND y.v = x.v
  WHERE x.v <> e.id_a AND x.v <> e.id_b
)
SELECT e.id_a, e.id_b,
       CAST(coalesce(w.support, 0) AS BIGINT) AS support
FROM edges e
LEFT JOIN (
  SELECT id_a, id_b, count(*) AS support FROM wedge GROUP BY id_a, id_b
) w ON w.id_a = e.id_a AND w.id_b = e.id_b
"""


@register("triangle_edge_support", _TRIANGLE_ORACLE)
def triangle_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle support per edge of the MinHash-LSH near-dup graph —
    the k-truss primitive (an edge inside a real duplicate CLUSTER
    has many common neighbors; a chance LSH collision has none), the
    standard quality signal before trusting transitive dup clusters.
    Plan: edges -> symmetrized adjacency -> two joins counting common
    neighbors, grouped per edge; at scale the joins shuffle on node
    id, and the degree-ordered orientation (id_a < id_b from the LSH
    pair builder) keeps wedge counts off the hub nodes."""
    docs = table(spark, sf_dir, "documents")
    edges = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    ).select("id_a", "id_b")
    und = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    e = edges.alias("e")
    x = und.alias("x")
    y = und.alias("y")
    wedge = (
        e.join(x, F.col("x.u") == F.col("e.id_a"))
        .join(
            y,
            (F.col("y.u") == F.col("e.id_b")) & (F.col("y.v") == F.col("x.v")),
        )
        .filter(
            (F.col("x.v") != F.col("e.id_a")) & (F.col("x.v") != F.col("e.id_b"))
        )
        .groupBy(F.col("e.id_a").alias("id_a"), F.col("e.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return edges.join(wedge, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
    )


_SUBSTR_K = 5  # span length in tokens (short synthetic docs; see operator doc)

_SUBSTRING_DUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest([{{'pos': i,
                  'h': sha256(array_to_string(t[i:i+{_SUBSTR_K - 1}], ' '))}}
                 for i in generate_series(1, greatest(len(t) - {_SUBSTR_K - 1}, 0))],
                recursive := true)
  FROM toks
),
dup AS (
  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT doc_id, count(DISTINCT p) AS dup_tokens
  FROM (
    SELECT s.doc_id, unnest(generate_series(s.pos, s.pos + {_SUBSTR_K - 1})) AS p
    FROM sh s JOIN dup USING (h)
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       {fround_sql("CASE WHEN len(t.t) > 0 THEN coalesce(c.dup_tokens, 0) / len(t.t) ELSE 0.0 END", 4)} AS dup_fraction
FROM toks t LEFT JOIN cov c USING (doc_id)
"""


@register("substring_dup_fractions", _SUBSTRING_DUP_ORACLE)
def substring_dup_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (suffix-array dedup re-expressed as
    a posting-list shuffle — operators/substring.py module doc): per
    document, the fraction of tokens covered by some k-token span
    that appears verbatim in >= 2 documents. Extends the reference's
    whole-document hash dedup (src/base.py:210-218) to within-doc
    granularity. The oracle replays the identical pipeline in SQL —
    same tokenizer, same sha256 shingle keys, same interval union via
    DISTINCT covered positions."""
    from dss_nlp_ingestion_spark.operators.substring import (
        duplicated_span_fractions,
    )

    docs = table(spark, sf_dir, "documents")
    rep = duplicated_span_fractions(docs, k=_SUBSTR_K)
    return rep.select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        fround(F.col("_frac"), 4).alias("dup_fraction"),
    )


_LSH_EVAL_ORACLE = f"""
WITH {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), lsh AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM sh
), sizes AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM dsh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM dsh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), exact AS (
  SELECT id_a, id_b FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.15
), flags AS (
  SELECT coalesce(l.in_lsh, 0) AS in_lsh, coalesce(e.in_ex, 0) AS in_ex
  FROM (SELECT id_a, id_b, 1 AS in_lsh FROM lsh) l
  FULL OUTER JOIN (SELECT id_a, id_b, 1 AS in_ex FROM exact) e
    ON l.id_a = e.id_a AND l.id_b = e.id_b
)
SELECT CAST(sum(in_lsh) AS BIGINT) AS n_candidates,
       CAST(sum(in_ex) AS BIGINT) AS n_exact,
       CAST(sum(in_lsh * in_ex) AS BIGINT) AS n_hit,
       {fround_sql('CAST(sum(in_lsh * in_ex) AS DOUBLE) / sum(in_lsh)', 6)} AS precision,
       {fround_sql('CAST(sum(in_lsh * in_ex) AS DOUBLE) / sum(in_ex)', 6)} AS recall
FROM flags
"""


@register("lsh_quality_eval", _LSH_EVAL_ORACLE)
def lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality measured IN the engine: precision/recall of the
    MinHash-LSH candidate set against exact n-gram-Jaccard >= 0.15 —
    the evaluation every production near-dup deployment runs before
    trusting band/row parameters (the ANN twin is ann_recall_eval).
    Composes the two registered pipelines and reduces the full-outer
    pair compare to one summary row; the exact side is the small-sf
    verifier (at 100 TB you run it on a sampled stratum, same
    plan)."""
    docs = table(spark, sf_dir, "documents")
    lsh = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    ).select("id_a", "id_b").withColumn("in_lsh", F.lit(1))
    exact = (
        ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.15)
        .select("id_a", "id_b")
        .withColumn("in_ex", F.lit(1))
    )
    flags = lsh.join(exact, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_lsh", F.lit(0)).alias("in_lsh"),
        F.coalesce("in_ex", F.lit(0)).alias("in_ex"),
    )
    hit = F.sum(F.col("in_lsh") * F.col("in_ex"))
    return flags.agg(
        F.sum("in_lsh").cast("long").alias("n_candidates"),
        F.sum("in_ex").cast("long").alias("n_exact"),
        hit.cast("long").alias("n_hit"),
        fround(hit.cast("double") / F.sum("in_lsh"), 6).alias("precision"),
        fround(hit.cast("double") / F.sum("in_ex"), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Incremental LSH dedup against a PERSISTED signature index
# ---------------------------------------------------------------------------

def _lsh_band_cte(p: str, src: str) -> str:
    """The shingle->one-perm-minhash->band CTE chain (same arithmetic
    as _LSH_ORACLE), name-prefixed so two sources can coexist in one
    oracle query."""
    cols = ",\n    ".join(
        f"list_min(list_transform(hsh, h -> substr(h, {q * 8 + 1}, 8))) AS m{q}"
        for q in range(_NUM_PERM)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, m{b * _BAND_ROWS} || '|' ||"
        f" m{b * _BAND_ROWS + 1} AS band_key FROM {p}sig"
        for b in range(_NUM_PERM // _BAND_ROWS)
    )
    return f"""{p}w AS ({src}),
{p}sh AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
  FROM {p}w WHERE len(ws) >= 3
),
{p}hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM {p}sh
),
{p}sig AS (
  SELECT doc_id, {cols} FROM {p}hashed
),
{p}bands AS (
{bands}
)"""


_INCR_TAIL = " qq17 qq18 qq19"

_INCR_CORPUS_SRC = (
    r"SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents"
)
_INCR_BATCH_SRC = (
    "SELECT doc_id + 10000000 AS doc_id, "
    r"string_split_regex(trim(text || '" + _INCR_TAIL + r"'), '\s+') AS ws "
    "FROM documents WHERE doc_id % 9 = 0"
)

_INCR_LSH_ORACLE = f"""
WITH {_lsh_band_cte('c', _INCR_CORPUS_SRC)},
{_lsh_band_cte('i', _INCR_BATCH_SRC)}
SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS dup_of
FROM ibands i JOIN cbands c
  ON i.band = c.band AND i.band_key = c.band_key
"""


def _lshidx_setup(spark: SparkSession, sf_dir: str):
    """SETUP: sign the corpus once and persist the LSH band index as
    a tx-log table — built once, maintained forever."""
    import tempfile

    from dss_nlp_ingestion_spark.sources import txlog

    docs = table(spark, sf_dir, "documents")
    index = lsh_bands(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    )
    path = tempfile.mkdtemp(prefix="dss_lshidx_") + "/index"
    txlog.create_table(index, path)
    return sf_dir, path


def _lshidx_probe(spark: SparkSession, ctx) -> DataFrame:
    """PROBE — incremental near-dup dedup, the daily-crawl-increment
    shape: an incoming batch (mutated copies of every 9th document,
    tail-perturbed so most shingles survive) computes ONLY ITS OWN
    signatures and joins the PERSISTED index on the band key. At
    100 TB this replaces re-signing the whole corpus per batch with
    O(batch) signature work + a band-key-bucketed join against the
    index; the non-duplicate newcomers' signatures are then APPENDED
    to the index through the same O_EXCL commit protocol, keeping it
    current without a rewrite. The oracle replays both signature
    chains from scratch — the hash match proves the persisted-index
    path equals the recompute-everything semantics."""
    from dss_nlp_ingestion_spark.sources import txlog

    sf_dir, path = ctx
    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_INCR_TAIL)).alias("text"),
    )
    # Both frames feed two consumers (the dup verdicts AND the index
    # maintenance append) — persist so the signature chain runs once.
    inc_bands = lsh_bands(
        incoming, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    ).persist()
    idx = txlog.read(spark, path)
    dups = (
        inc_bands.withColumnRenamed("id", "new_id")
        .join(
            idx.withColumnRenamed("id", "dup_of"), ["band", "band_key"]
        )
        .select("new_id", "dup_of")
        .distinct()
        .persist()
    )
    # Index maintenance: newcomers with no near-dup enter the index.
    fresh = inc_bands.join(
        dups.select(F.col("new_id").alias("id")).distinct(), "id", "left_anti"
    )
    txlog.append(fresh, path)
    return dups


register_split(
    "lsh_index_incremental_dedup", _lshidx_setup, _lshidx_probe, _INCR_LSH_ORACLE
)


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test splits (split by DUP CLUSTER, not doc)
# ---------------------------------------------------------------------------

_LSPLIT_SALT = "lsplit"

_LSPLIT_FRAC = (
    f"(('0x' || substr(sha256('{_LSPLIT_SALT}:' || CAST(cluster_id AS VARCHAR)), 1, 13))::BIGINT"
    f" / {float(1 << 52)!r})"
)

_LSPLIT_ORACLE = f"""
WITH RECURSIVE {_WS_CTE},
hashed AS (
  SELECT doc_id, list_transform(sh, s -> sha256(s)) AS hsh FROM sh
), sig AS (
  SELECT doc_id,
    {_minhash_cols}
  FROM hashed
), bands AS (
{_band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk AS (
  SELECT u AS node, v AS reach FROM edges
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON w.reach = e.u
), labels AS (
  SELECT node, least(node, min(reach)) AS label FROM walk GROUP BY node
), assigned AS (
  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN {_LSPLIT_FRAC} < 0.8 THEN 'train'
            WHEN {_LSPLIT_FRAC} < 0.9 THEN 'valid'
            ELSE 'test' END AS split
FROM assigned
"""


@register("leakage_safe_splits", _LSPLIT_ORACLE)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid/test assignment keyed on the NEAR-DUP CLUSTER id,
    not the document id — the split-hygiene rule that stops a
    near-duplicate of a training document from landing in the eval
    split (hash splits on doc_id leak precisely through duplicates;
    clustering first makes leakage structurally impossible, every
    cluster member shares one split by construction). Pipeline: LSH
    candidate pairs -> connected components -> canonical cluster id
    (singletons = own id) -> salted-hash fraction on the CLUSTER.
    Adds one broadcast-ish left join over the label table on top of
    the dedup machinery the corpus already runs."""
    from dss_nlp_ingestion_spark.operators.graph import connected_components
    from dss_nlp_ingestion_spark.operators.sampling import hash_fraction

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=_NUM_PERM, band_rows=_BAND_ROWS, k=3
    )
    labels = connected_components(pairs, "id_a", "id_b")
    assigned = docs.join(
        labels, docs["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    frac = hash_fraction(F.col("cluster_id"), _LSPLIT_SALT)
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(frac < 0.8, F.lit("train"))
        .when(frac < 0.9, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# AllPairs prefix-filter exact Jaccard join (threshold 3/5)
# ---------------------------------------------------------------------------

_PREFIX_JACCARD_ORACLE = f"""
WITH {_WS_CTE},
dsh AS (
  SELECT doc_id, list_distinct(sh) AS sh FROM sh
), sizes AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM dsh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM dsh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, shared,
       sa.sz + sb.sz - shared AS union_sz,
       {fround_sql('CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)', 6)} AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE shared * 5 >= (sa.sz + sb.sz - shared) * 3
"""


@register("prefix_filter_jaccard_pairs", _PREFIX_JACCARD_ORACLE)
def prefix_filter_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 3/5 pairs via AllPairs prefix filtering
    (candidates only from each doc's rarest-shingle prefix; integer
    threshold arithmetic end-to-end). The oracle is the brute
    posting-join at the same threshold — prefix filtering is lossless
    by the AllPairs bound, so the outputs must be identical
    (operators/dedup.py:prefix_filter_jaccard_pairs)."""
    docs = table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, "doc_id", "text", k=3)
    return pairs.select(
        "id_a",
        "id_b",
        "shared",
        "union_sz",
        fround(F.col("shared").cast("double") / F.col("union_sz"), 6).alias("jaccard"),
    )


# Small-sf exact verifier twins: pair-emitting forms whose OUTPUT (and
# so runtime) grows quadratically when corpus scale-up multiplies
# near-dup cluster sizes (replica-based sf1 data decuples every
# cluster -> ~45x pairs per cluster). Their scale-shaped defaults are
# measured instead; these exist to prove those defaults exact.
from dss_nlp_ingestion_spark.plans.registry import TAGS

TAGS["ngram_jaccard_dups"] = (
    "small-sf verifier: unbounded posting-list Jaccard; scale path = "
    "ngram_jaccard_dups_capped (df-capped)"
)
TAGS["cjk_near_dups"] = (
    "small-sf verifier: exact CJK 5-gram Jaccard pairs; scale path = "
    "cjk_lsh_candidates (banded MinHash; 102x output at sf1 for 1.8x time)"
)
TAGS["edit_distance_dups"] = (
    "small-sf verifier: exact Levenshtein inside prefix blocks; block "
    "pair count is quadratic in replica-inflated block width"
)
TAGS["simhash_near_dups"] = (
    "small-sf verifier: all-pairs hamming join; scale path = "
    "simhash_near_dups_banded (pigeonhole banding)"
)
TAGS["ngram_containment_pairs"] = (
    "output-bound pair emitter: containment at threshold 0.0 cannot "
    "prefix-prune, and make_sf cluster replication grows qualifying "
    "pairs ~quadratically - time-per-output-pair FALLS at sf1"
)
TAGS["prefix_filter_jaccard_pairs"] = (
    "exact AllPairs join - the lossless verifier of the banded/capped "
    "scale paths; pair output (and so runtime) grows with replica-"
    "inflated cluster sizes"
)
TAGS["lsh_quality_eval"] = (
    "the EXACT leg of the precision/recall compare is the small-sf "
    "verifier (at 100 TB it runs on a sampled stratum, per docstring); "
    "sf1 cost tracks the exact side's pair growth, not the LSH side"
)
