"""Similarity-search queries over the embeddings table (LLM-pipeline
north star), oracle-checked: exact-decimal cosine keeps scores
bit-identical between Spark and DuckDB (see operators.similarity).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import table
from dss_nlp_ingestion_spark.operators.similarity import (
    brute_force_topk,
    bucketed_near_pairs,
    hyperplane_bucket,
    l2_norm,
    plane_weight_sql,
)
from dss_nlp_ingestion_spark.plans.registry import (
    TAGS,
    fround,
    fround_sql,
    register,
    register_split,
)

_DIM = 64


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of operators.similarity.dot_exact."""
    return (
        f"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


# ---------------------------------------------------------------------------

_NORM_ORACLE = f"""
SELECT vec_id, label,
       {fround_sql(f"sqrt({_dot_sql('embedding', 'embedding')})", 6)} AS l2_norm
FROM embeddings
"""


@register("embedding_norms", _NORM_ORACLE)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — the normalization pass every similarity
    pipeline runs first; exercises exact array folding."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", fround(l2_norm(F.col("embedding")), 6).alias("l2_norm")
    )


# ---------------------------------------------------------------------------

_COS_SCORE = (
    f"{_dot_sql('qv', 'cv')} / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))"
)

_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id, {_COS_SCORE} AS score
  FROM c CROSS JOIN q
  WHERE neighbor_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= 5
"""


@register("cosine_topk_bruteforce", _TOPK_ORACLE)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors
    (N9 text-similarity generalized, tencent_api.py:111-123):
    broadcast query set x corpus scan + per-query rank window — the
    ANN correctness baseline."""
    emb = table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank"
    )


# ---------------------------------------------------------------------------

_N_PLANES = 8
_plane_projs = []
for p in range(_N_PLANES):
    prods = (
        f"[CAST(0.0 AS DOUBLE)] || list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {plane_weight_sql(p)})"
    )
    _plane_projs.append(
        f"(CASE WHEN list_reduce({prods}, (x, y) -> x + y) > 0 THEN {2**p} ELSE 0 END)"
    )
_BUCKET_SQL = "CAST(" + " + ".join(_plane_projs) + " AS BIGINT)"

_BUCKET_ORACLE = f"""
WITH b AS (
  SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_vectors,
       min(vec_id) AS min_vec_id
FROM b GROUP BY bucket
"""


@register("lsh_bucket_stats", _BUCKET_ORACLE)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (8 deterministic planes
    -> 256 buckets): the IVF-style partitioning whose bucket sizes
    bound all downstream candidate work."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), _N_PLANES, _DIM).alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


TAGS["lsh_bucket_stats"] = (
    "FIXED 8-plane layout BY DESIGN (operators.similarity"
    ".PLANE_COUNT_POLICY): the histogram describes one concrete index "
    "layout; the pair-emitting near-dup rows are the ones that adapt "
    "the plane count to the corpus."
)


# ---------------------------------------------------------------------------

_PAIR_SCORE = (
    f"{_dot_sql('a.embedding', 'b.embedding')} / "
    f"(sqrt({_dot_sql('a.embedding', 'a.embedding')}) * sqrt({_dot_sql('b.embedding', 'b.embedding')}))"
)

_NEAR_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
       {fround_sql(_PAIR_SCORE.replace('b.embedding', 'b.embedding'), 6)} AS score
FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_PAIR_SCORE} >= 0.3
"""


#: Default skew-guard block width for the near-dup DEFAULT path (r6
#: verdict #2: embedding_near_dups was the worst measured sf1 scaler,
#: 9.3x for 10x data, from in-bucket pair growth).  The guard
#: auto-engages at runtime: blocked_self_pairs computes g =
#: ceil(n_bucket / cap) per bucket, so any bucket within the cap
#: (every bucket at sf<=0.1 — max observed 83) runs as ONE block,
#: bit-identical to the unguarded join, while a sf1-scale hot bucket
#: (~830 rows) spreads its pair space over ~28 bounded blocks.
_NEAR_DUP_CAP = 128


def _adaptive_planes(n_rows: int) -> int:
    """Corpus-adaptive hyperplane count for the near-dup DEFAULT path
    (r10 sf10 finding): with a FIXED plane count the bucket COUNT is
    fixed, so expected bucket size — and therefore the bucket-local
    pair space, which is quadratic IN BUCKET SIZE — grows linearly
    with the corpus: the 8-plane layout that gives ~23-row buckets at
    sf0.1 gives ~2,350-row buckets at sf10, ~680M in-bucket pair
    evaluations, a measured 11+-minute cliff. The standard LSH answer
    is to scale the bucket count with the corpus: smallest p >=
    _N_PLANES such that expected bucket size n/2^p <= _NEAR_DUP_CAP,
    i.e. p ~ log2(n/cap). Total pair work is then ~n*cap/2 — LINEAR
    in n at a fixed per-bucket budget. At the driver's oracle SF
    (and sf<=0.1) the rule returns exactly _N_PLANES, so the hash
    gate and all committed small-SF records are byte-identical; the
    recall/precision trade of a finer layout only engages where the
    fixed layout would drown first."""
    p = _N_PLANES
    while (n_rows >> p) > _NEAR_DUP_CAP:
        p += 1
    return p


@register("embedding_near_dups", _NEAR_ORACLE)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs restricted to equal LSH
    buckets (threshold 0.3) — bucket-local joins are the 100 TB path:
    shuffle on bucket id, quadratic work bounded per bucket.  The
    skew guard is the DEFAULT here (``_NEAR_DUP_CAP``); the unguarded
    join survives as the oracle twin ``embedding_near_dups_exact``.
    The plane count adapts to the corpus (:func:`_adaptive_planes` —
    one parquet metadata count() decides the layout) so expected
    bucket size stays bounded at any scale."""
    emb = table(spark, sf_dir, "embeddings")
    planes = _adaptive_planes(emb.count())
    return bucketed_near_pairs(
        emb,
        "vec_id",
        "embedding",
        n_planes=planes,
        dim=_DIM,
        threshold=0.3,
        max_bucket=_NEAR_DUP_CAP,
    ).select("id_a", "id_b", "bucket", fround(F.col("score"), 6).alias("score"))


TAGS["embedding_near_dups"] = (
    "skew guard (_NEAR_DUP_CAP=128, blocked self-pairs) is the DEFAULT "
    "since r7: ~+1.4s at sf0.1 vs the unguarded twin "
    "(embedding_near_dups_exact) - the price of the bounded per-task "
    "pair budget that holds at sf1 hot buckets and beyond. Since r10 "
    "the plane count is corpus-adaptive (p ~ log2(n/128), still 8 at "
    "sf<=0.1 so small-SF records/oracles are unchanged): a fixed "
    "layout's in-bucket pair space grows quadratically with corpus "
    "size — the measured sf10 cliff"
)


@register("embedding_near_dups_exact", _NEAR_ORACLE)
def embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNGUARDED bucket self-join — small-sf verifier twin of
    ``embedding_near_dups`` (same oracle) kept so the guard's
    result-identity stays independently provable every round."""
    emb = table(spark, sf_dir, "embeddings")
    return bucketed_near_pairs(
        emb, "vec_id", "embedding", n_planes=_N_PLANES, dim=_DIM, threshold=0.3
    ).select("id_a", "id_b", "bucket", fround(F.col("score"), 6).alias("score"))


# (TAG for this twin is set near the end of the module, merged with
# the fixed-plane-layout rationale.)


@register("embedding_near_dups_guarded", _NEAR_ORACLE)
def embedding_near_dups_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same bucket-local near-dup join under the SKEW GUARD
    (operators.skew.blocked_self_pairs): buckets larger than
    ``max_bucket`` are hash-split and their pair space covered in
    bounded blocks, so one degenerate hyperplane bucket cannot
    re-create the quadratic join in a single reducer.  Result set is
    identical to ``embedding_near_dups`` — same oracle — only the
    per-task bound changes (max_bucket=4 is deliberately tiny so the
    split path is exercised even at sf0.01). Same corpus-adaptive
    plane rule as the default path."""
    emb = table(spark, sf_dir, "embeddings")
    planes = _adaptive_planes(emb.count())
    return bucketed_near_pairs(
        emb,
        "vec_id",
        "embedding",
        n_planes=planes,
        dim=_DIM,
        threshold=0.3,
        max_bucket=4,
    ).select("id_a", "id_b", "bucket", fround(F.col("score"), 6).alias("score"))


# ---------------------------------------------------------------------------

_CENT_MOD, _N_PROBE, _IVF_K = 71, 2, 5
#: Fixed centroid-count bound (FAISS nlist analogue): centroids are
#: the multiples of _CENT_MOD BELOW this id, so the index has <= 32
#: lists at ANY corpus size — without the cap, assignment work is
#: N x (N/71), the one super-linear headline query in the r6 sf1
#: bench (16x time for 10x data; capped, the plan is linear).
_CENT_MAX = _CENT_MOD * 32

_CENT_SCORE = (
    f"{_dot_sql('v', 'cvec')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('cvec', 'cvec')}))"
)
_QC_SCORE = (
    f"{_dot_sql('qv', 'cvec')} / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cvec', 'cvec')}))"
)
_QV_SCORE = (
    f"{_dot_sql('qv', 'v')} / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('v', 'v')}))"
)

_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {_CENT_MOD} = 0 AND vec_id < {_CENT_MAX}
), assigned AS (
  SELECT neighbor_id, v, cent_id FROM (
    SELECT c.vec_id AS neighbor_id, c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, cents.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_QC_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents
    WHERE q.vec_id < 10
  ) WHERE rn <= {_N_PROBE}
), scored AS (
  SELECT p.query_id, a.neighbor_id, {_QV_SCORE} AS score
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE a.neighbor_id != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= {_IVF_K}
"""


@register("ivf_topk", _IVF_ORACLE)
def ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors for the first 10 query
    vectors: inverted lists by nearest deterministic centroid (every
    31st vector), 2-probe search, exact re-scoring of candidates —
    the centroid-partitioned scale path next to the LSH-bucketed one
    (`ann_bucket_topk`).  Corpus assignment is a broadcast
    centroid scan; the corpus itself never shuffles."""
    from dss_nlp_ingestion_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        "vec_id",
        "embedding",
        centroid_mod=_CENT_MOD,
        n_probe=_N_PROBE,
        k=_IVF_K,
        centroid_max=_CENT_MAX,
    )
    return out.select(
        "query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank"
    )


# ---------------------------------------------------------------------------
# Trained-centroid IVF: the committed spherical-k-means artifact
# ---------------------------------------------------------------------------

_TRAINED_N_PROBE = 4


def _trained_cents_sql() -> str:
    """cents-CTE body from the committed centroid artifact — the
    32x64 trained centers as VALUES literals, so both engines score
    against byte-identical model parameters."""
    from dss_nlp_ingestion_spark.operators.similarity import load_ivf_centroids

    rows = ", ".join(
        f"({cid}, [{', '.join(repr(float(x)) for x in vec)}])"
        for cid, vec in load_ivf_centroids()
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(cent_id, cvec)"


_IVF_TRAINED_ORACLE = f"""
WITH cents AS (
  {_trained_cents_sql()}
), assigned AS (
  SELECT neighbor_id, v, cent_id FROM (
    SELECT c.vec_id AS neighbor_id, c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, cents.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_QC_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings q CROSS JOIN cents
    WHERE q.vec_id < 10
  ) WHERE rn <= {_TRAINED_N_PROBE}
), scored AS (
  SELECT p.query_id, a.neighbor_id, {_QV_SCORE} AS score
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE a.neighbor_id != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= {_IVF_K}
"""


@register("ivf_topk_trained", _IVF_TRAINED_ORACLE)
def ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED centers — the committed spherical
    k-means artifact (operators/similarity.py ivf_centroids_v1.npz)
    supplied as model parameters: NO corpus action at plan time (the
    %71 rule's collect disappears), same scan-side assignment kernel.
    Proves the operator's documented 'swap in k-means centroids
    without touching the plan shape' claim, and fixes the recall the
    r7 eval exposed: 0.36 (training-free, n_probe=2) -> 0.84 here."""
    from dss_nlp_ingestion_spark.operators.similarity import (
        ivf_topk,
        load_ivf_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        "vec_id",
        "embedding",
        n_probe=_TRAINED_N_PROBE,
        k=_IVF_K,
        centroids=load_ivf_centroids(),
    )
    return out.select(
        "query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank"
    )


_TRAINED_RECALL_ORACLE = f"""
WITH bf AS ({_TOPK_ORACLE}),
approx AS ({_IVF_TRAINED_ORACLE})
SELECT bf.query_id,
       CAST(count(approx.neighbor_id) AS BIGINT) AS n_hit,
       {fround_sql('CAST(count(approx.neighbor_id) AS DOUBLE) / 5.0', 4)} AS recall_at_5
FROM bf LEFT JOIN approx
  ON approx.query_id = bf.query_id AND approx.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@register("ann_recall_trained_eval", _TRAINED_RECALL_ORACLE)
def ann_recall_trained_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the trained-centroid IVF vs exact brute force —
    the eval that justified committing the centroid artifact (mean
    0.84 at sf0.1 vs 0.36 training-free; 1.0 at sf1). Same composed
    hash-checked-metric shape as ann_recall_eval."""
    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ap = ivf_topk_trained(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = bf.join(
        ap,
        (F.col("aq") == F.col("query_id")) & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").cast("long").alias("n_hit"),
        fround(F.count("an").cast("double") / F.lit(5.0), 4).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Incremental IVF index on the ACID table format: assignments persisted
# once, probed and maintained in O(batch) — the ANN twin of
# lsh_index_incremental_dedup (daily-embedding-increment shape).
# ---------------------------------------------------------------------------

_IVF_INC_SHIFT = 5_000_000

#: Bounded "daily increment" (r10 sf10 finding): the incoming batch
#: was corpus/7 — proportional to the corpus — while per-query probe
#: work is ~n_probe/nlist of the corpus at the committed fixed-k
#: centroid artifact, so the probe's TOTAL work grew quadratically
#: with data and at sf10 the compressed-domain scoring stage stalled
#: the driver past the executor-heartbeat timeout (a real increment
#: is sized by the day's arrivals, not by the corpus). The cap binds
#: only above sf1 (every committed small-SF record and the sf0.01
#: oracle gate see every id below it): sf10's batch matches sf1's
#: ~2.9k queries, keeping the row a measurement of per-increment
#: cost. The other quadratic leg — candidates/query growing as
#: corpus/nlist — is the fixed-k artifact's (nlist must scale
#: ~sqrt(n) at production; train_spherical_kmeans takes k as a
#: parameter, the committed k=32 artifact is provenance-pinned) —
#: see SCALE.md round 10.
_IVF_INC_BATCH_CAP = 20_000

_IVF_INC_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {_CENT_MOD} = 0 AND vec_id < {_CENT_MAX}
), assigned AS (
  SELECT neighbor_id, v, cent_id FROM (
    SELECT c.vec_id AS neighbor_id, c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
), incoming AS (
  SELECT vec_id + {_IVF_INC_SHIFT} AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < {_IVF_INC_BATCH_CAP}
), probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.query_id, q.qv, cents.cent_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_QC_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM incoming q CROSS JOIN cents
  ) WHERE rn <= {_N_PROBE}
), scored AS (
  SELECT p.query_id, a.neighbor_id, {_QV_SCORE} AS score
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= {_IVF_K}
"""


def _ivf_inc_build(spark: SparkSession, sf_dir: str, cents: list, n_probe: int):
    """Shared index build: assign the corpus to the given centroid set
    ONCE and persist (vec_id, cent_id, vector) as the inverted-list
    index — a transaction-log table, so increments are O_EXCL commits
    and readers get snapshot isolation."""
    import tempfile

    from dss_nlp_ingestion_spark.operators.similarity import assign_nearest_centroid
    from dss_nlp_ingestion_spark.sources import txlog

    emb = table(spark, sf_dir, "embeddings")
    index = assign_nearest_centroid(emb, "vec_id", "embedding", cents).select(
        "id", "v", "cent_id"
    )
    path = tempfile.mkdtemp(prefix="dss_ivfidx_") + "/index"
    txlog.create_table(index, path, stats_cols=["cent_id"])
    return sf_dir, path, cents, n_probe


def _ivf_inc_setup(spark: SparkSession, sf_dir: str):
    """SETUP (training-free form): centroid seed = the capped %-rule
    sample, then the shared index build."""
    from dss_nlp_ingestion_spark.operators.similarity import collect_centroids

    emb = table(spark, sf_dir, "embeddings")
    cents = collect_centroids(
        emb.filter(F.col("vec_id") < _CENT_MAX), "vec_id", "embedding", _CENT_MOD
    )
    return _ivf_inc_build(spark, sf_dir, cents, _N_PROBE)


#: IVFADC probe geometry (r8 verdict #5): 16 of 32 lists pre-scored
#: in the compressed domain (m=16 PQ lookups/candidate), top-100
#: shortlist exact-refined. recall@5 at sf0.1: 0.90 vs 0.68 for the
#: old n_probe=4 full-precision probe, at ~0.93x its per-query cost
#: in full-precision-equivalents (993 candidates / 8x-cheaper ADC +
#: 100 exact ≈ 224 vs 241 exact scores).
_INC_ADC_N_PROBE = 16
_INC_ADC_REFINE = 100


def _adc_index_rows(vecs: DataFrame, model: dict, cents: list) -> DataFrame:
    """The IVFADC inverted-list row (id, codes, cent_id) of each
    (vec_id, embedding): nearest list and PQ codes, both scan-side
    Arrow kernels bit-identical to the oracles' folds."""
    from dss_nlp_ingestion_spark.operators.pq import pq_code_array_udf
    from dss_nlp_ingestion_spark.operators.similarity import assign_nearest_centroid

    return assign_nearest_centroid(vecs, "vec_id", "embedding", cents).select(
        "id", pq_code_array_udf(model)(F.col("v")).alias("codes"), "cent_id"
    )


def _ivf_inc_build_pq(spark: SparkSession, sf_dir: str, cents: list):
    """IVFADC index build (Jégou et al., 2011 §IV): assign the corpus
    to the given centroid set ONCE and persist (id, codes, cent_id) —
    the inverted lists hold PQ CODES, not vectors (16 bytes/row, the
    4x index shrink that makes billion-vector lists RAM-resident);
    exact vectors stay in the base table and are only touched for the
    refine shortlist. Transaction-log table: increments are O_EXCL
    commits, readers get snapshot isolation."""
    import tempfile

    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
    )
    from dss_nlp_ingestion_spark.sources import txlog

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    index = _adc_index_rows(table(spark, sf_dir, "embeddings"), model, cents)
    path = tempfile.mkdtemp(prefix="dss_ivfadc_") + "/index"
    txlog.create_table(index, path, stats_cols=["cent_id"])
    return sf_dir, path, cents, _INC_ADC_N_PROBE, _INC_ADC_REFINE


def _ivf_inc_trained_setup(spark: SparkSession, sf_dir: str):
    """SETUP (trained form — r7 verdict #3, r8 verdict #5): a
    committed spherical k-means centroid artifact seeds the IVFADC
    index build — trained lists + compressed-domain probing, the
    index-maintenance path users would keep. Since r11 the artifact
    TIER is picked at build time by the nlist ~ sqrt(n) policy
    (`select_ivf_centroids`: one metadata count() decides): every
    committed small SF selects the default k=32 artifact (results and
    oracles unchanged), the sf10 fixture selects the k=448 tier so
    average inverted-list length — and with it per-query probe cost
    at fixed n_probe — stays ~flat across the decade instead of
    growing linearly with the corpus (r10 verdict #5)."""
    from dss_nlp_ingestion_spark.operators.similarity import (
        load_ivf_centroids,
        select_ivf_centroids,
    )

    n = table(spark, sf_dir, "embeddings").count()
    cents = [
        {"cent_id": int(c), "_cvec": [float(x) for x in v]}
        for c, v in load_ivf_centroids(select_ivf_centroids(n))
    ]
    return _ivf_inc_build_pq(spark, sf_dir, cents)


def _ivf_inc_probe(spark: SparkSession, ctx) -> DataFrame:
    """PROBE — an incoming embedding batch (every 7th vector,
    id-shifted: the daily increment) assigns ONLY ITSELF against the
    fixed centroid set, probes the PERSISTED inverted lists for its
    top-k neighbors, and appends its own assignments back through the
    same commit protocol — index maintenance is O(batch), never a
    corpus re-index.

    Since r11 the scoring stage is a LIST-GROUPED cogroup
    (`cosine_cogroup_topk_scorer`): the old shape joined (query_id,
    qv) onto every candidate row, shipping the 64-double query vector
    once per (query, candidate) pair — the same Arrow-duplication
    defect the r10 sf10 probe measured on the IVFADC twin. The
    cogroup ships each list once per group and emits per-(query,
    list) top-k only, bit-identically (see the scorer's docstring).
    The oracle replays both assignments from scratch: the hash match
    proves persisted-index search equals the recompute-everything
    semantics. (In-query assert: the index snapshot grew by exactly
    the batch.)"""
    from pyspark.sql import Window

    from dss_nlp_ingestion_spark.operators.similarity import (
        assign_nearest_centroid,
        cosine_cogroup_topk_scorer,
    )
    from dss_nlp_ingestion_spark.sources import txlog

    sf_dir, path, cents, n_probe = ctx
    emb = table(spark, sf_dir, "embeddings")
    incoming = emb.filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") < _IVF_INC_BATCH_CAP)
    ).select((F.col("vec_id") + _IVF_INC_SHIFT).alias("vec_id"), "embedding")
    probes = (
        assign_nearest_centroid(
            incoming, "vec_id", "embedding", cents, n_best=n_probe
        )
        .select(F.col("id").alias("query_id"), F.col("v").alias("_qv"), "cent_id")
    )
    idx = txlog.read(spark, path).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("_cv"), "cent_id"
    )
    scored = (
        probes.groupBy("cent_id")
        .cogroup(idx.groupBy("cent_id"))
        .applyInPandas(
            cosine_cogroup_topk_scorer(_IVF_K),
            "query_id long, neighbor_id long, score double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank")
    )
    # Maintenance: the batch's own assignments enter the index.
    before = txlog.snapshot_row_count(path)
    batch_assigned = assign_nearest_centroid(
        incoming, "vec_id", "embedding", cents
    ).select("id", "v", "cent_id")
    txlog.append(batch_assigned, path, stats_cols=["cent_id"])
    grew = txlog.snapshot_row_count(path) - before
    assert grew == incoming.count(), (grew, "index growth != batch size")
    return out


def _ivf_inc_adc_probe(spark: SparkSession, ctx) -> DataFrame:
    """PROBE (IVFADC form — r8 verdict #5; list-grouped scoring r11):
    the incoming batch (every 7th vector, id-shifted) assigns only
    itself against the fixed centroid set, probes ``n_probe``
    persisted inverted lists in the COMPRESSED domain, keeps a
    per-query top-``refine`` shortlist, exact-rescores only that
    shortlist against the base table, and appends its own (id, codes,
    cent_id) rows back through the same commit protocol: maintenance
    stays O(batch).

    The compressed-domain stage is a COGROUP by list id
    (`pq_adc_cogroup_scorer`): each inverted list's code block and
    each query's 256-double ADC LUT cross the Arrow boundary once per
    (query, list) GROUP, not once per (query, candidate) row — the
    r10 sf10 probe measured the old per-pair join duplicating the LUT
    onto ~286 M candidate rows (~586 GB of Arrow traffic, SparkContext
    death); the cogroup moves O(index + batch x n_probe) bytes and
    emits only per-(query, list) top-``refine`` rows, so the
    shortlist window shuffles n_probe x refine rows per query instead
    of every probed candidate. Scoring is bit-identical to the old
    '+'-chain kernel (see the scorer's docstring), so results and the
    DuckDB oracle are unchanged. The oracle replays assignment,
    encoding, LUTs and both rankings from scratch — the hash match
    proves persisted-compressed-index search equals the
    recompute-everything semantics. (In-query assert: the index grew
    by exactly the batch.)"""
    from pyspark.sql import Window

    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_adc_cogroup_scorer,
        pq_query_lut_udf,
    )
    from dss_nlp_ingestion_spark.operators.similarity import (
        assign_nearest_centroid,
        cosine,
    )
    from dss_nlp_ingestion_spark.sources import txlog

    sf_dir, path, cents, n_probe, refine = ctx
    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    emb = table(spark, sf_dir, "embeddings")
    incoming = emb.filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") < _IVF_INC_BATCH_CAP)
    ).select((F.col("vec_id") + _IVF_INC_SHIFT).alias("vec_id"), "embedding")
    # (query, list) probe rows: the n_probe nearest lists, then the
    # ADC LUT of the query on each (both exact-fold, hash-gate safe);
    # the batch (not the index) broadcasts.
    probes = assign_nearest_centroid(
        incoming, "vec_id", "embedding", cents, n_best=n_probe
    ).select(
        F.col("id").alias("query_id"),
        pq_query_lut_udf(model)(F.col("v")).alias("_lut"),
        "cent_id",
    )
    idx = txlog.read(spark, path).select(
        F.col("id").alias("neighbor_id"), "codes", "cent_id"
    )
    # Compressed-domain pre-scoring: list-grouped cogroup kernel — no
    # vectors move, no per-dimension math, no LUT duplication per
    # candidate; each group call scores one whole inverted list for
    # all the queries probing it and emits their per-list top-refine.
    pre = (
        probes.groupBy("cent_id")
        .cogroup(idx.groupBy("cent_id"))
        .applyInPandas(
            pq_adc_cogroup_scorer(model, refine),
            "query_id long, neighbor_id long, _adc double",
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    shortlist = (
        pre.withColumn("_srn", F.row_number().over(ws))
        .filter(F.col("_srn") <= refine)
        .select("query_id", "neighbor_id")
    )
    # Exact refine: only refine*|batch| rows rejoin full vectors — the
    # small shortlist broadcasts onto the base scan.
    qv = incoming.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    base = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("_bid"), F.col("embedding").alias("_bv")
    )
    refined = (
        base.join(F.broadcast(shortlist), F.col("_bid") == F.col("neighbor_id"))
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_bv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    out = (
        refined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank"
        )
    )
    # Maintenance: the batch's own (id, codes, cent_id) rows enter the
    # compressed index through the same commit protocol.
    before = txlog.snapshot_row_count(path)
    txlog.append(_adc_index_rows(incoming, model, cents), path, stats_cols=["cent_id"])
    grew = txlog.snapshot_row_count(path) - before
    assert grew == incoming.count(), (grew, "index growth != batch size")
    return out


register_split(
    "ivf_index_incremental", _ivf_inc_setup, _ivf_inc_probe, _IVF_INC_ORACLE
)
TAGS["ivf_index_incremental"] = (
    "probe cost is O(batch x avg inverted-list size); since r10 the "
    "fixture batch is BOUNDED (vec_id % 7 below _IVF_INC_BATCH_CAP, "
    "binding only above sf1 - small-SF records and the oracle gate "
    "are unchanged), so the row measures per-increment cost instead "
    "of growing quadratically with the corpus. The remaining "
    "with-corpus growth is avg list size at the fixed-k centroid "
    "set; production scales nlist ~ sqrt(n) (see SCALE.md r10)."
)


def _ivf_inc_trained_oracle() -> str:
    """DuckDB twin of the IVFADC probe: replays corpus->list
    assignment, PQ encoding (`pq_codes_list_sql`), per-query LUTs
    (`pq_query_lut_sql`), the compressed-domain shortlist and the
    exact refine from scratch — every stage the Spark side serves
    from the persisted index."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_adc_from_lut_sql,
        pq_codes_list_sql,
        pq_query_lut_sql,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    return f"""
WITH cents AS (
  {_trained_cents_sql()}
), assigned AS (
  SELECT neighbor_id, cent_id FROM (
    SELECT c.vec_id AS neighbor_id, c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
), codes AS (
  SELECT vec_id AS neighbor_id, {pq_codes_list_sql(model)} AS clist
  FROM embeddings
), incoming AS (
  SELECT vec_id + {_IVF_INC_SHIFT} AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < {_IVF_INC_BATCH_CAP}
), probes AS (
  SELECT query_id, cent_id FROM (
    SELECT q.query_id, q.qv, cents.cent_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_QC_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM incoming q CROSS JOIN cents
  ) WHERE rn <= {_INC_ADC_N_PROBE}
), qlut AS (
  SELECT query_id, {pq_query_lut_sql(model, 'qv')} AS lut FROM incoming
), pre AS (
  SELECT p.query_id, a.neighbor_id,
         {pq_adc_from_lut_sql(model, 'l.lut', 'k.clist')} AS adc
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  JOIN codes k ON k.neighbor_id = a.neighbor_id
  JOIN qlut l ON l.query_id = p.query_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS srn
    FROM pre
  ) WHERE srn <= {_INC_ADC_REFINE}
), refined AS (
  SELECT s.query_id, s.neighbor_id,
         {_dot_sql('q.qv', 'c.embedding')} / (sqrt({_dot_sql('q.qv', 'q.qv')}) * sqrt({_dot_sql('c.embedding', 'c.embedding')})) AS score
  FROM shortlist s
  JOIN incoming q ON q.query_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= {_IVF_K}
"""


_IVF_INC_TRAINED_ORACLE = _ivf_inc_trained_oracle()

#: r7 verdict #3 + r8 verdict #5: the incremental index users would
#: actually keep — TRAINED lists, compressed-domain (IVFADC) probing,
#: same O(batch) maintenance protocol.
_ivf_inc_trained_q = register_split(
    "ivf_index_incremental_trained",
    _ivf_inc_trained_setup,
    _ivf_inc_adc_probe,
    _IVF_INC_TRAINED_ORACLE,
    tag=(
        "setup = corpus assignment to the committed k-means artifact + "
        "PQ encode + index table write (reported in setup_sec); probe "
        "= ADC search + refine + append. Probe-count cost (r8 verdict "
        f"#5): {_INC_ADC_N_PROBE}/32 lists pre-scored at m=16 lookups "
        f"per candidate (~8x cheaper than 64-dim cosine) + "
        f"{_INC_ADC_REFINE} exact rescored ~= 0.93x the old n_probe=4 "
        "full-precision candidate cost for recall@5 0.68 -> 0.90. "
        "Since r11 the ADC stage is a LIST-GROUPED cogroup "
        "(pq_adc_cogroup_scorer): Arrow transfer is O(index + batch x "
        "n_probe) instead of O(batch x corpus) — the r10 sf10 "
        "LUT-duplication scale defect. Same fixture-scaling note as "
        "ivf_index_incremental: the batch is corpus/7 by design, so "
        "sf ratios multiply batch growth by list growth; a production "
        "increment is O(batch)."
    ),
)


_IVF_INC_RECALL_Q = "(vec_id % 7 = 0 AND vec_id < 70)"

_IVF_INC_TRAINED_RECALL_ORACLE = f"""
WITH q AS (
  SELECT vec_id + {_IVF_INC_SHIFT} AS query_id, embedding AS qv
  FROM embeddings WHERE {_IVF_INC_RECALL_Q}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), bf_scored AS (
  SELECT query_id, neighbor_id, {_COS_SCORE} AS score
  FROM c CROSS JOIN q
), bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM bf_scored
  ) WHERE rank <= {_IVF_K}
), approx AS (
  SELECT query_id, neighbor_id FROM ({_IVF_INC_TRAINED_ORACLE})
  WHERE query_id < {_IVF_INC_SHIFT + 70}
)
SELECT bf.query_id,
       CAST(count(approx.neighbor_id) AS BIGINT) AS n_hit,
       {fround_sql('CAST(count(approx.neighbor_id) AS DOUBLE) / 5.0', 4)} AS recall_at_5
FROM bf LEFT JOIN approx
  ON approx.query_id = bf.query_id AND approx.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


def _ivf_inc_recall_probe(spark: SparkSession, ctx) -> DataFrame:
    """PROBE — recall@5 of the TRAINED IVFADC index vs exact brute
    force on a 10-query slice of the incoming batch: the hash-gated
    quality row for ivf_index_incremental_trained (r7 verdict #3;
    IVFADC probing r8 #5). Shares the SETUP artifact with the index
    row (r8 verdict #6) so this row measures search + scoring, not a
    second index build. Incoming ids are shifted past the corpus
    domain, so the brute force keeps every corpus row (the query's
    own source vector included — exactly what the persisted index
    can return)."""
    sf_dir = ctx[0]
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 70)
    ).select((F.col("vec_id") + _IVF_INC_SHIFT).alias("vec_id"), "embedding")
    bf = brute_force_topk(emb, queries, "vec_id", "embedding", k=_IVF_K).select(
        "query_id", "neighbor_id"
    )
    ap = _ivf_inc_adc_probe(spark, ctx).filter(
        F.col("query_id") < _IVF_INC_SHIFT + 70
    ).select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    joined = bf.join(
        ap,
        (F.col("aq") == F.col("query_id")) & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").cast("long").alias("n_hit"),
        fround(F.count("an").cast("double") / F.lit(5.0), 4).alias("recall_at_5"),
    )


register_split(
    "ivf_inc_recall_trained_eval",
    _ivf_inc_trained_setup,
    _ivf_inc_recall_probe,
    _IVF_INC_TRAINED_RECALL_ORACLE,
    tag=(
        "eval composite: shares the index-build SETUP with "
        "ivf_index_incremental_trained (r8 verdict #6 — the recall row "
        "no longer pays a second build); probe = full IVFADC search + "
        "exact brute force on the 10-query slice."
    ),
)


# ---------------------------------------------------------------------------
# Product quantization encode (operators/pq.py) under the hash gate
# ---------------------------------------------------------------------------

def _pq_oracle() -> str:
    """DuckDB twin generated from the committed codebook artifact:
    same left-associated distance expressions, list_position
    first-match argmin, same literal centroids."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_dist_lists_sql,
    )

    dlists = pq_dist_lists_sql(load_pq_artifact(DEFAULT_PQ_ARTIFACT))
    codes = " || ',' || ".join(
        f"CAST(list_position({dl}, list_min({dl})) - 1 AS VARCHAR)" for dl in dlists
    )
    total = " + ".join(f"list_min({dl})" for dl in dlists)
    return f"""
SELECT vec_id,
       {codes} AS pq_codes,
       {fround_sql(total, 8)} AS pq_err
FROM embeddings
"""


@register("pq_encode_embeddings", _pq_oracle())
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al.) — the compressor that
    makes billion-vector ANN serveable (64 floats -> 16 codebook
    bytes): codebooks are committed model parameters (deterministic
    numpy Lloyd on a corpus sample, operators/pq.py — the
    train-driver-side / assign-distributed split production PQ
    uses). Assignment is one Arrow pass: the per-row LUT of the m*k
    squared distances (the numpy fold of ``pq_query_lut_udf``), then
    per subspace block of k entries ``array_min`` is the error term
    and its first position the code (the tie-break of
    ``list_position``), so the encoder hash-matches the SQL twin
    bit-for-bit. pq_err is the left-associated sum of the m errors."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_query_lut_udf,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    m, k = model["m"], model["k"]
    d = table(spark, sf_dir, "embeddings").select(
        "vec_id", pq_query_lut_udf(model)(F.col("embedding")).alias("_d")
    )
    blocks = [F.slice(F.col("_d"), s * k + 1, k) for s in range(m)]
    mins = [F.array_min(blk) for blk in blocks]
    codes = [
        (F.array_position(blk, mn) - 1).cast("string")
        for blk, mn in zip(blocks, mins)
    ]
    return d.select(
        "vec_id",
        F.concat_ws(",", *codes).alias("pq_codes"),
        fround(reduce(operator.add, mins), 8).alias("pq_err"),
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of IVF against brute force
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH bf AS ({_TOPK_ORACLE}),
approx AS ({_IVF_ORACLE})
SELECT bf.query_id,
       CAST(count(approx.neighbor_id) AS BIGINT) AS n_hit,
       {fround_sql('CAST(count(approx.neighbor_id) AS DOUBLE) / 5.0', 4)} AS recall_at_5
FROM bf LEFT JOIN approx
  ON approx.query_id = bf.query_id AND approx.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@register("ann_recall_eval", _RECALL_ORACLE)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measured IN the engine: recall@5 of the IVF
    2-probe search against the exact brute-force baseline, per
    query — the evaluation loop every production ANN deployment
    runs before trusting an index (and the number that decides
    n_probe/centroid-count tuning). Composes the two registered
    pipelines; the oracle composes their SQL twins, so the metric
    itself is hash-checked."""
    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ap = ivf_topk_query(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = bf.join(
        ap,
        (F.col("aq") == F.col("query_id")) & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").cast("long").alias("n_hit"),
        fround(F.count("an").cast("double") / F.lit(5.0), 4).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Distributed k-means update step (IVF centroid training primitive)
# ---------------------------------------------------------------------------

_KM_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {_CENT_MOD} = 0
), assigned AS (
  SELECT v, cent_id FROM (
    SELECT c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
), expl AS (
  SELECT cent_id,
         CAST(generate_subscripts(v, 1) AS INT) AS dim,
         CAST(floor(CAST(unnest(v) AS DOUBLE) * 1000000.0) AS BIGINT) AS micro
  FROM assigned
)
SELECT cent_id, dim,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micro
FROM expl GROUP BY cent_id, dim
"""


@register("kmeans_update_centroids", _KM_ORACLE)
def kmeans_update_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd update over the embedding corpus
    (operators/similarity.py:kmeans_update_step): nearest-centroid
    assignment is the same scan-side exact-fold argmax ivf_topk indexes
    with (no corpus Exchange); the member means come back in exact
    integer micro-units, so the training step — not just the final
    index — is hash-verifiable cross-engine. The oracle replays
    assignment as a cross-join window (fine at oracle SF) and the
    identical integer mean."""
    from dss_nlp_ingestion_spark.operators.similarity import kmeans_update_step

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_update_step(
        emb, "vec_id", "embedding", centroid_mod=_CENT_MOD
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search
# ---------------------------------------------------------------------------

_ADC_K = 20


def _double_sql(v: float) -> str:
    """A Spark SQL double literal that parses to exactly ``v``: the
    string->double cast is Java's correctly rounded parse of Python's
    round-trip repr. Literal-heavy columns are built as one SQL
    expression: every ``F.lit`` is a py4j round trip (~1 ms on a
    4-core host), and 64 literal terms built that way took ~1 s of
    plan construction."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _adc_query_vec() -> list[float]:
    """The committed eval query point of the PQ artifact — the one
    query every ADC row and oracle scores against."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
    )

    return [float(x) for x in load_pq_artifact(DEFAULT_PQ_ARTIFACT)["query_vec"]]


def _adc_query_and_oracle():
    """Build the model, the query's LUT, and the DuckDB twin from the
    committed codebook artifact."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        adc_lookup_table,
        load_pq_artifact,
        pq_adc_sql,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    lut = adc_lookup_table(model, _adc_query_vec())
    adc_sql = pq_adc_sql(model, lut)
    oracle = f"""
WITH scored AS (
  SELECT vec_id, {adc_sql} AS adc_exact FROM embeddings
), top AS (
  SELECT vec_id, adc_exact FROM scored
  ORDER BY adc_exact ASC, vec_id ASC LIMIT {_ADC_K}
)
SELECT vec_id,
       CAST(row_number() OVER (ORDER BY adc_exact ASC, vec_id ASC) AS BIGINT) AS rank,
       {fround_sql('adc_exact', 8)} AS adc
FROM top
"""
    return model, lut, oracle


_ADC_MODEL, _ADC_LUT, _ADC_ORACLE = _adc_query_and_oracle()


def _adc_col():
    """ADC distance of every stored vector to the eval query: codes
    from the Arrow encoder, looked up in the query's LUT shipped as
    one literal array of m*k doubles (built lazily — Column
    construction needs an active SparkContext)."""
    from dss_nlp_ingestion_spark.operators.pq import (
        pq_adc_from_lut_column,
        pq_code_array_udf,
    )

    lits = ", ".join(_double_sql(v) for row in _ADC_LUT for v in row)
    lut = F.expr(f"array({lits})")
    codes = pq_code_array_udf(_ADC_MODEL)(F.col("embedding"))
    return pq_adc_from_lut_column(_ADC_MODEL, lut, codes)


@register("pq_adc_topk", _ADC_ORACLE)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search the way a billion-vector serving tier runs it
    (Jégou et al. §III): the query is preprocessed driver-side into
    m*k lookup tables (model-sized, literal-shipped), and each stored
    vector costs m argmin-code derivations + m table lookups — no
    per-pair O(dim) arithmetic, no shuffle before the global top-k
    (TakeOrderedAndProject ships k rows per task). In a deployed
    index the codes are precomputed (pq_encode_embeddings) and the
    scan reads 16 bytes/vector instead of 256; here codes are derived
    in the same scan (one Arrow pass) so the whole kernel stays under
    the hash gate."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    top = (
        emb.select("vec_id", _adc_col().alias("adc_exact"))
        .orderBy(F.col("adc_exact").asc(), F.col("vec_id").asc())
        .limit(_ADC_K)
    )
    w = Window.orderBy(F.col("adc_exact").asc(), F.col("vec_id").asc())
    return top.select(
        "vec_id",
        F.row_number().over(w).cast("long").alias("rank"),
        fround(F.col("adc_exact"), 8).alias("adc"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup over the embedding corpus
# ---------------------------------------------------------------------------

_SEM_T = 0.4  # synthetic corpus has no planted twins; 0.4 exercises pruning

_SEM_PAIR_COS = (
    f"{_dot_sql('a.v', 'b.v')} / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')}))"
)

_SEM_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {_CENT_MOD} = 0
), assigned AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT c.vec_id, c.embedding AS v, cents.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_CENT_SCORE} DESC, cents.cent_id ASC) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
)
, pruned AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON b.cent_id = a.cent_id AND b.vec_id < a.vec_id
  WHERE {_SEM_PAIR_COS} > {_SEM_T}
)
SELECT s.vec_id, s.cent_id,
       CAST(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS pruned
FROM assigned s LEFT JOIN pruned p ON p.vec_id = s.vec_id
"""


@register("semdedup_prune", _SEM_ORACLE)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end to end: cluster the embedding
    space (scan-side exact-fold centroid argmax — the same no-Exchange
    assignment the IVF index and k-means step use), then prune every
    vector with a lower-id near-twin (cosine > {_SEM_T}) INSIDE its
    cluster — clustering bounds the quadratic pair work, the paper's
    core trick. Only shuffle: the cent_id-keyed self-join. The
    oracle replays assignment as a cross-join window and pruning as
    a correlated EXISTS over the same exact-fold cosine."""
    from dss_nlp_ingestion_spark.operators.similarity import semdedup

    emb = table(spark, sf_dir, "embeddings")
    return semdedup(
        emb, "vec_id", "embedding", centroid_mod=_CENT_MOD, threshold=_SEM_T
    )


# ---------------------------------------------------------------------------
# ADC quality eval: PQ top-k vs exact top-k for the same query
# ---------------------------------------------------------------------------

def _adc_exact_col():
    """Exact squared-L2 distance of every vector to the same literal
    query the ADC search uses: a left-associated '+' chain of the
    per-component squares, plain codegen arithmetic (no interpreted
    lambda). The SQL twin seeds its fold with 0.0, and 0.0 + t == t
    for a square, so the doubles agree bit for bit. Built lazily —
    Column construction needs an active SparkContext."""
    terms = []
    for j, qj in enumerate(_adc_query_vec()):
        d = f"(CAST(element_at(embedding, {j + 1}) AS DOUBLE) - {_double_sql(qj)})"
        terms.append(f"{d} * {d}")
    return F.expr(" + ".join(terms))


def _adc_exact_sql() -> str:
    q = _adc_query_vec()
    terms = ", ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - {q[i]!r})"
        f" * (CAST(embedding[{i + 1}] AS DOUBLE) - {q[i]!r})"
        for i in range(64)
    )
    return f"list_reduce([CAST(0.0 AS DOUBLE), {terms}], (x, y) -> x + y)"


_ADC_EXACT_SQL = _adc_exact_sql()

_ADC_RECALL_ORACLE = f"""
WITH approx AS ({_ADC_ORACLE}),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id, {_ADC_EXACT_SQL} AS d2 FROM embeddings
  ) ORDER BY d2 ASC, vec_id ASC LIMIT {_ADC_K}
)
SELECT CAST(count(approx.vec_id) AS BIGINT) AS n_hit,
       {fround_sql(f'CAST(count(approx.vec_id) AS DOUBLE) / {_ADC_K}', 4)} AS recall_at_k
FROM exact LEFT JOIN approx ON approx.vec_id = exact.vec_id
"""


@register("pq_adc_recall_eval", _ADC_RECALL_ORACLE)
def pq_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search quality measured IN the engine: recall@{_ADC_K} of
    the PQ lookup-table search against the exact squared-L2 top-k for
    the SAME query — the compression-loss eval that decides m/k
    codebook sizing before trusting 8-byte codes at a billion
    vectors. Composes the registered ADC pipeline with an exact leg
    (same literal query, same fold); the oracle composes their SQL
    twins, so the metric itself is hash-checked."""
    emb = table(spark, sf_dir, "embeddings")
    exact = (
        emb.select("vec_id", _adc_exact_col().alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(_ADC_K)
        .select("vec_id")
    )
    approx = pq_adc_topk(spark, sf_dir).select(
        F.col("vec_id").alias("a_vec")
    )
    joined = exact.join(
        F.broadcast(approx), exact["vec_id"] == approx["a_vec"], "left"
    )
    return joined.agg(
        F.count("a_vec").cast("long").alias("n_hit"),
        fround(F.count("a_vec").cast("double") / F.lit(float(_ADC_K)), 4).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# ADC + refine: shortlist by compressed distance, re-rank exactly
# ---------------------------------------------------------------------------

#: Refine shortlist width (FAISS IndexRefineFlat's k_factor * k):
#: the serving tier scans 8-byte codes for the whole corpus, keeps
#: the best _ADC_SHORTLIST by compressed distance, and pays full
#: O(dim) arithmetic for only those — at a billion vectors the exact
#: stage touches 256 rows, not 10^9. r7 measurement: raw ADC
#: recall@20 = 0.45 on this corpus/codebook; refine@512 = 1.0.
#: The shortlist is a FIXED width — 26%% of the sf0.1 toy corpus but
#: 2.6%% at sf1 and vanishing at production scale.
_ADC_SHORTLIST = 512

_ADC_REFINE_ORACLE = f"""
WITH scored AS (
  SELECT vec_id, {{adc_sql}} AS adc FROM embeddings
), short AS (
  SELECT vec_id FROM scored ORDER BY adc ASC, vec_id ASC LIMIT {_ADC_SHORTLIST}
), ref AS (
  SELECT e.vec_id, {{exact_sql}} AS d2
  FROM embeddings e JOIN short ON short.vec_id = e.vec_id
), top AS (
  SELECT vec_id, d2 FROM ref ORDER BY d2 ASC, vec_id ASC LIMIT {_ADC_K}
)
SELECT vec_id,
       CAST(row_number() OVER (ORDER BY d2 ASC, vec_id ASC) AS BIGINT) AS rank,
       {fround_sql('d2', 8)} AS d2
FROM top
"""


def _adc_refine_oracle() -> str:
    from dss_nlp_ingestion_spark.operators.pq import pq_adc_sql

    return _ADC_REFINE_ORACLE.format(
        adc_sql=pq_adc_sql(_ADC_MODEL, _ADC_LUT), exact_sql=_ADC_EXACT_SQL
    )


@register("pq_adc_refine_topk", _adc_refine_oracle())
def pq_adc_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ serving shape (Jégou et al. §V, FAISS
    IndexRefineFlat): compressed-domain ADC scan selects a shortlist
    of {_ADC_SHORTLIST}, then exact squared-L2 re-ranks ONLY the
    shortlist to the final top-{_ADC_K}. The corpus pass stays
    8-bytes-per-vector; the exact pass is shortlist-sized (a
    broadcast semi-join, never a second corpus scan) — recall goes
    0.45 -> 1.0 on this corpus for two bounded stages."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    short = (
        emb.select("vec_id", _adc_col().alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(_ADC_SHORTLIST)
        .select("vec_id")
    )
    ref = (
        emb.join(F.broadcast(short), "vec_id")
        .select("vec_id", _adc_exact_col().alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(_ADC_K)
    )
    w = Window.orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return ref.select(
        "vec_id",
        F.row_number().over(w).cast("long").alias("rank"),
        fround(F.col("d2"), 8).alias("d2"),
    )


_ADC_REFINE_RECALL_ORACLE = f"""
WITH approx AS ({{refine_oracle}}),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id, {{exact_sql}} AS d2 FROM embeddings
  ) ORDER BY d2 ASC, vec_id ASC LIMIT {_ADC_K}
)
SELECT CAST(count(approx.vec_id) AS BIGINT) AS n_hit,
       {fround_sql(f'CAST(count(approx.vec_id) AS DOUBLE) / {_ADC_K}', 4)} AS recall_at_k
FROM exact LEFT JOIN approx ON approx.vec_id = exact.vec_id
"""


@register(
    "pq_adc_refine_recall_eval",
    _ADC_REFINE_RECALL_ORACLE.format(
        refine_oracle=_adc_refine_oracle(), exact_sql=_ADC_EXACT_SQL
    ),
)
def pq_adc_refine_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{_ADC_K} of the refine pipeline against the exact
    top-{_ADC_K} — the number that justifies shipping 8-byte codes:
    compression does the corpus scan, the shortlist re-rank restores
    exactness (1.0 here; raw ADC alone is 0.45, see
    pq_adc_recall_eval)."""
    emb = table(spark, sf_dir, "embeddings")
    exact = (
        emb.select("vec_id", _adc_exact_col().alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(_ADC_K)
        .select("vec_id")
    )
    approx = pq_adc_refine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("a_vec")
    )
    joined = exact.join(
        F.broadcast(approx), exact["vec_id"] == approx["a_vec"], "left"
    )
    return joined.agg(
        F.count("a_vec").cast("long").alias("n_hit"),
        fround(F.count("a_vec").cast("double") / F.lit(float(_ADC_K)), 4).alias(
            "recall_at_k"
        ),
    )


TAGS["embedding_near_dups_exact"] = (
    "small-sf verifier: unguarded bucket self-join kept to prove the "
    "skew-guarded default (embedding_near_dups) result-identical; "
    "FIXED 8 planes BY DESIGN (operators.similarity.PLANE_COUNT_POLICY"
    " — the adaptive rule returns exactly 8 at every SF this twin is "
    "run at, keeping the two rows byte-comparable)"
)

TAGS["embedding_near_dups_guarded"] = (
    "split-path demo: cap=4 deliberately tiny so the block-split "
    "machinery is exercised at oracle SF; the production guard is "
    "embedding_near_dups (cap=128)"
)
