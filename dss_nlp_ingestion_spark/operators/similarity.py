"""Similarity search over embedding columns (SURVEY.md §2.11 N7–N10
generalized; LLM-pipeline north star).

The reference's similarity surface is API-backed 1-N text similarity
(src/utils/tencent_api.py:111-123) and word/sentence embeddings
(:98-109, :125-136). Here embeddings are first-class ``array<float>``
columns and similarity is a distributed operator:

- ``cosine`` — dot products/norms as explicit *sequential* double
  folds: identical IEEE ops in identical order are bit-identical
  across engines, whereas engine-native sums are free to reorder
  (and double→high-scale-decimal casts differ between Spark's
  shortest-repr rounding and DuckDB's exact-binary rounding).
- brute-force top-k: broadcast the (small) query set against the
  corpus — the correctness baseline; one scan, no shuffle of the
  corpus.
- random-hyperplane LSH bucketing: deterministic integer plane
  weights :func:`plane_weight` (no RNG -> reproducible in SQL);
  bucket-local joins are the scale path (IVF-style pruning: the
  pair/candidate work is bounded per bucket, not quadratic in the
  corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def dot_exact(a: Column, b: Column) -> Column:
    """Sequential-fold dot product -> DOUBLE (deterministic: the
    DuckDB oracle folds the same products in the same order via
    list_reduce, yielding bit-identical doubles)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_exact(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """Expression-form cosine — the exact fold the DuckDB oracles
    mirror (dot_exact / list_reduce '+' chains). Spark evaluates the
    higher-order functions inside INTERPRETED (never codegen), so
    this form costs ~0.2 ms per pair; it is kept as executable
    documentation and for contexts where a pandas UDF cannot appear
    (inside HOF lambdas)."""
    return dot_exact(a, b) / (l2_norm(a) * l2_norm(b))


_COSINE_ARROW_UDF = None


def cosine(a: Column, b: Column) -> Column:
    """Pair cosine — Arrow exact-fold kernel, bit-identical to
    :func:`cosine_expr` (component-sequential numpy folds; ufuncs
    neither fuse nor reassociate — pinned per element by
    tests/test_pq_adc_kernels.py) at 10-100x the throughput. This is
    the hot kernel of every candidate-scoring join (bucketed near-dup
    pairs, LSH/IVF probes, brute-force baselines).

    The column is marked ``asNondeterministic()`` although it is pure:
    the marker pins ONE evaluation per row, because the optimizer
    otherwise copies the UDF under a filter or join key pushed below
    the projection. Callers must therefore project it into a column
    first and filter, group or join on that column (Spark refuses a
    non-deterministic expression inside a join condition), and get no
    filter pushdown through it; two calls are two evaluations."""
    global _COSINE_ARROW_UDF
    if _COSINE_ARROW_UDF is None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _cos_fn(va, vb):
            n = len(va)
            if n == 0:
                return pd.Series([], dtype="float64")
            out = np.empty(n, dtype=np.float64)
            # Vectorized batch assembly (r12, guide §4.2): the former
            # per-row ``va.iloc[i]`` loop was interpreted Python per
            # PAIR — the dominant cost of every candidate-scoring
            # join at sf1+. isna() + one np.stack over the object
            # array is C-speed; float32 -> float64 widening via
            # astype is exact, so every fold input is bit-identical
            # to the old np.asarray(x, dtype=float64) path.
            null = va.isna().to_numpy() | vb.isna().to_numpy()
            if null.all():
                return pd.Series([None] * n)
            idx = np.where(~null)[0]
            Am = np.stack(va.to_numpy()[idx]).astype(np.float64, copy=False)
            Bm = np.stack(vb.to_numpy()[idx]).astype(np.float64, copy=False)
            dim = Am.shape[1]
            dots = aa = bb = None  # component-sequential folds
            for j in range(dim):
                pj = Am[:, j] * Bm[:, j]
                dots = pj if dots is None else dots + pj
                sa = Am[:, j] * Am[:, j]
                aa = sa if aa is None else aa + sa
                sb = Bm[:, j] * Bm[:, j]
                bb = sb if bb is None else bb + sb
            with np.errstate(all="ignore"):
                vals = dots / (np.sqrt(aa) * np.sqrt(bb))
            out[idx] = vals
            if null.any():
                res = out.astype(object)
                res[null] = None
                return pd.Series(res)
            return pd.Series(out)

        # asNondeterministic (r12, guide §4.4): every scoring join
        # filters on the score column (``score >= threshold``), and
        # the optimizer's filter pushdown duplicated the UDF — one
        # ArrowEvalPython below the pushed filter, one above for the
        # projection — so EVERY candidate pair paid the cosine twice
        # (tests/test_explain_plans.py::
        # test_scoring_udfs_evaluate_once_per_branch pins one). The
        # function is pure; the marker only pins a single evaluation,
        # exactly the r11 simhash fix.
        _COSINE_ARROW_UDF = pandas_udf(_cos_fn, "double").asNondeterministic()
    return _COSINE_ARROW_UDF(a, b)


def cosine_cogroup_topk_scorer(k: int, query_block: int = 256):
    """Cogrouped full-precision list scorer (r11 — the same join-shape
    fix as ``operators.pq.pq_adc_cogroup_scorer``, for the
    FULL-PRECISION inverted-list probe): one call scores all queries
    probing one inverted list against all of that list's vectors and
    emits each query's per-list top-``k`` by (cosine DESC,
    neighbor_id ASC).

    Why: joining probe rows (query_id, qv) onto every candidate row
    ships the 64-double query vector once per (query, candidate) pair
    (~146 GB at the sf10 fixture). Cogrouping by list id ships each
    list's vectors ONCE per group and each query vector once per
    probed list; per-(query, list) top-``k`` output is lossless for
    the global per-query top-``k`` (the global survivors from one
    list form a prefix of that list's own ordering).

    Bit-exactness: cosine is accumulated with the same
    component-sequential unseeded folds as the :func:`cosine` Arrow
    kernel (dot, |a|^2, |b|^2 chains in index order; one multiply of
    the two sqrt's, one divide), so every emitted double matches the
    per-pair kernel and the DuckDB oracle.

    ``query_block`` bounds the (queries x list) score matrix so task
    memory stays flat as the probing batch grows."""
    import numpy as np
    import pandas as pd

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )

    def score(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0 or len(right) == 0:
            return _empty()
        # One stack + exact float64 widening per side (r12, §4.2) —
        # same values as the former per-row asarray loop.
        Q = np.stack(left["_qv"].to_numpy()).astype(np.float64, copy=False)
        C = np.stack(right["_cv"].to_numpy()).astype(np.float64, copy=False)
        qids = left["query_id"].to_numpy(dtype=np.int64)
        nbr = right["neighbor_id"].to_numpy(dtype=np.int64)
        dim = C.shape[1]
        # |c|^2 per candidate: shared across query blocks, same
        # component-sequential chain as the cosine kernel.
        bb = None
        for j in range(dim):
            sb = C[:, j] * C[:, j]
            bb = sb if bb is None else bb + sb
        sqrt_bb = np.sqrt(bb)
        n_keep = min(k, len(nbr))
        out_q, out_n, out_s = [], [], []
        for lo in range(0, len(qids), query_block):
            Qb = Q[lo : lo + query_block]
            dots = aa = None
            for j in range(dim):
                pj = Qb[:, j][:, None] * C[:, j][None, :]
                dots = pj if dots is None else dots + pj
                sa = Qb[:, j] * Qb[:, j]
                aa = sa if aa is None else aa + sa
            with np.errstate(all="ignore"):
                vals = dots / (np.sqrt(aa)[:, None] * sqrt_bb[None, :])
            for i in range(vals.shape[0]):
                order = np.lexsort((nbr, -vals[i]))[:n_keep]
                out_q.append(np.full(n_keep, qids[lo + i], dtype=np.int64))
                out_n.append(nbr[order])
                out_s.append(vals[i][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    return score


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """For every query vector, the k nearest corpus vectors by cosine
    (self-matches excluded): broadcast the query set, scan the corpus
    once, rank per query. Returns (query_id, neighbor_id, score,
    rank)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


_HYPERPLANE_UDFS: dict = {}


def plane_weight(p: int, i: int) -> int:
    """Deterministic hyperplane component w(p, i) for plane p at
    0-based vector index i: a Knuth multiplicative hash of (p, i)
    folded into the small-integer range [-5, 5] (exact in DOUBLE and
    replicated verbatim by the DuckDB oracles via
    :func:`plane_weight_sql`). The r10 sf10 probe killed the previous
    family ``((p*31 + i*17) % 7) - 3``: both congruences have period
    7, so plane p and plane p+7 were IDENTICAL — only 7 distinct
    hyperplanes existed, at most ~2^7 usable buckets at ANY requested
    plane count, and heavily skewed ones on structured vectors (sf10:
    126 buckets, max 6,950 of 200k rows, ~378M in-bucket pair
    evaluations). The hash mix gives distinct, sign-balanced planes
    for every p, so the corpus-adaptive plane rule actually buys
    buckets. Intermediate products stay < 2^47 — exact in BIGINT on
    both engines."""
    return (((p * 1009 + i) * 2654435761) % 2147483647) % 11 - 5


def plane_weight_sql(p: int) -> str:
    """DuckDB expression computing ``plane_weight(p, i-1)`` for the
    1-based ``list_transform`` index ``i`` — the single source the
    oracle generators interpolate, so engine and oracle can never
    drift apart on the plane family."""
    return f"(((({p * 1009} + (i-1)) * 2654435761) % 2147483647) % 11 - 5)"


#: Plane-COUNT policy (r10 verdict #7 — ONE documented rule, two
#: intentional regimes; unit-pinned in tests/test_operators_unit.py):
#:
#: 1. PAIR-EMITTING near-dup paths (embedding_near_dups, _guarded,
#:    semdedup candidate generation) ADAPT the plane count to the
#:    corpus (plans.similarity_queries._adaptive_planes: smallest
#:    p >= 8 with n/2^p <= 128) because their in-bucket work is
#:    QUADRATIC in bucket size — a fixed layout's pair space grows
#:    linearly-in-n PER BUCKET and was the measured sf10 cliff.
#:
#: 2. BUCKET-INDEX paths keep a FIXED 8-plane layout BY DESIGN:
#:    - lsh_bucket_stats: the histogram DESCRIBES a concrete fixed
#:      index layout; adapting would make the row describe a moving
#:      target.
#:    - ann_bucket_topk / ann_multiprobe_topk: the layout is the
#:      PERSISTED index definition a query-time probe must match —
#:      multiprobe's neighbor set (bucket XOR (1 << p)) is defined
#:      over the fixed bit width, and per-query candidate work is
#:      LINEAR in bucket size, so a big corpus degrades latency
#:      gracefully instead of quadratically. Production re-picks p at
#:      index BUILD time with the same n/2^p <= cap rule, then keeps
#:      it fixed for the index's lifetime.
#:    - embedding_near_dups_exact: small-sf verifier twin; fixed 8
#:      equals the adaptive rule at every SF the twin is run at
#:      (sf <= 0.1), keeping it byte-comparable with the default row.
PLANE_COUNT_POLICY = "adaptive-for-pair-emitters, fixed-for-bucket-indexes"


def hyperplane_bucket(vec_col: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id in [0, 2^n_planes): bit p is
    the sign of the projection onto deterministic integer plane
    :func:`plane_weight` — Arrow exact-fold kernel,
    bit-identical to :func:`hyperplane_bucket_expr` (the projections
    are the same component-sequential IEEE folds, so every sign bit
    agrees; pinned by tests/test_pq_adc_kernels.py).

    The column is marked ``asNondeterministic()`` although it is pure:
    the marker pins ONE evaluation per row, because the optimizer
    otherwise copies the UDF under a filter or join key pushed below
    the projection. Callers must therefore project it into a column
    first and filter, group or join on that column (Spark refuses a
    non-deterministic expression inside a join condition), and get no
    filter pushdown through it; two calls are two evaluations."""
    key = (n_planes, dim)
    if key not in _HYPERPLANE_UDFS:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        w = np.array(
            [
                [float(plane_weight(p, i)) for i in range(dim)]
                for p in range(n_planes)
            ]
        )

        def _bucket_fn(vs):
            n = len(vs)
            if n == 0:
                return pd.Series([], dtype="int64")
            # Vectorized batch assembly (r12, guide §4.2): the former
            # ``[[float(x) for x in v] for v in vs]`` double loop was
            # n*dim interpreted float() calls per evaluation — at the
            # sf10 fixture (~500k vectors, evaluated once per plan
            # branch) that was the bulk of the embedding_near_dups
            # decade-row cost. np.stack + astype(float64) widens
            # float32 exactly, so the per-plane component-sequential
            # folds below see bit-identical inputs.
            mat = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
            bucket = np.zeros(n, dtype=np.int64)
            for p in range(n_planes):
                proj = None  # component-sequential fold
                for j in range(dim):
                    t = mat[:, j] * w[p, j]
                    proj = t if proj is None else proj + t
                bucket += (proj > 0).astype(np.int64) << p
            return pd.Series(bucket)

        # asNondeterministic (r12, guide §4.4): the bucket column is
        # a join/group key downstream, and the join-inferred
        # isnotnull(bucket) filter was pushed below the projection,
        # duplicating the UDF — TWO ArrowEvalPython nodes per scan
        # branch of embedding_near_dups before r12 (the plan-facts
        # test in tests/test_explain_plans.py pins one). The function
        # is pure; the marker pins one evaluation per branch.
        _HYPERPLANE_UDFS[key] = pandas_udf(_bucket_fn, "long").asNondeterministic()
    return _HYPERPLANE_UDFS[key](vec_col)


def hyperplane_bucket_expr(vec_col: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Expression form of :func:`hyperplane_bucket` — the exact fold
    the oracles mirror, kept as executable documentation (interpreted
    HOF evaluation, the slow path)."""
    # NB: the per-plane lambda must stay single-argument — a
    # ``lambda i, p=p`` default-arg closure is seen by F.transform as
    # a binary (element, index) lambda and the index silently replaces
    # the captured constant.
    def _plane_term(p: int):
        return lambda i: (
            F.element_at(vec_col, i).cast("double")
            * F.lit(1.0)
            * (
                ((F.lit(p * 1009) + (i - 1)) * F.lit(2654435761))
                % F.lit(2147483647)
                % F.lit(11)
                - F.lit(5)
            )
        )

    bucket = None
    for p in range(n_planes):
        prods = F.transform(F.sequence(F.lit(1), F.lit(dim)), _plane_term(p))
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def bucketed_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.35,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs restricted to equal LSH buckets — the
    scale path: the join shuffles on the bucket id and pair generation
    is bucket-local. Returns (id_a, id_b, bucket, score).

    ``max_bucket`` is the skew guard: a degenerate hyperplane (e.g. a
    bucket holding 10% of all vectors) would re-create the quadratic
    join inside one reducer.  When set, oversized buckets are
    hash-split into ceil(n/max_bucket) subgroups and the pair space is
    covered block-by-block (``operators.skew.blocked_self_pairs``) —
    the result set is IDENTICAL (no pair lost, none duplicated), only
    the per-task bound changes."""
    bucketed = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    if max_bucket is not None:
        from dss_nlp_ingestion_spark.operators.skew import blocked_self_pairs

        pairs = blocked_self_pairs(bucketed, "bucket", "vid", cap=max_bucket)
        # Cosine is symmetric, so normalize the id order after scoring
        # (off-diagonal blocks fix roles by subgroup hash, not id).
        scored = pairs.select(
            F.least(F.col("vid_a"), F.col("vid_b")).alias("id_a"),
            F.greatest(F.col("vid_a"), F.col("vid_b")).alias("id_b"),
            "bucket",
            cosine(F.col("vec_a"), F.col("vec_b")).alias("score"),
        )
        return scored.filter(F.col("score") >= F.lit(threshold))
    # Self-join with columns renamed per side — DataFrame aliases on a
    # shared lineage can silently resolve both `a.x` and `b.x` to the
    # same column, turning the bucket equality into a tautology.
    a = bucketed.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("v_a"), "bucket"
    )
    b = bucketed.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("v_b"), "bucket"
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "bucket",
            cosine(F.col("v_a"), F.col("v_b")).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
    )


#: The one exact-vs-matmul rule of nearest-centroid ranking
#: (:func:`centroid_topk_udf`): at or below this many centroid cells
#: (centroids x dims) scores are the component-sequential exact fold,
#: bit-identical to :func:`centroid_topk_expr` and the oracles'
#: list_reduce chains; above it they are one float64 matmul per
#: batch. Per 10k-row batch at dim 64 and 282 centroids the fold
#: measured 1.06-1.40 s and the matmul 0.05-0.07 s (4-core x86-64).
_EXACT_CELL_CAP = 64 * 64
#: Driver-memory guard on the centroid set (model parameters,
#: k-means-center sized — never corpus sized).
_CENTROID_HARD_CAP = 65536


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    n_probe: int = 2,
    k: int = 5,
    centroid_max: int | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe only the ``n_probe`` lists
    closest to each query, score candidates exactly.

    Training-free deterministic centroids (every ``centroid_mod``-th
    corpus vector, :func:`collect_centroids`) keep the operator
    reproducible in any engine — on a cluster, swap in k-means
    centroids without touching the plan shape.  Scale story:
    centroids are MODEL PARAMETERS — a catalog-sized set collected
    once at index-build time (exactly where MLlib keeps k-means
    centers).  Corpus assignment and probe selection are both
    :func:`assign_nearest_centroid`, a pure scan-side projection — NO
    crossJoin, NO window, NO Exchange on the corpus (the r3 version
    shuffled the whole corpus through a row_number window here). Its
    kernel follows the one rule of :func:`centroid_topk_udf`: the
    exact fold at or below ``_EXACT_CELL_CAP`` cells, one float64
    matmul above it, one ranking (score DESC, cent_id ASC) for both.
    The matmul may differ from the fold in the last ulp, so an exact
    near-tie can pick another list — acceptable for an *approximate*
    index at the scale where hundreds of centroids exist; the
    candidate scores always go through the exact :func:`cosine`.

    The probe table (queries × n_probe rows) then broadcasts onto the
    assigned corpus, and only the k-bounded per-query ranking windows
    shuffle. Recall knobs: ``n_probe`` up, ``centroid_mod`` down.

    ``centroid_max`` bounds the centroid ID range so the centroid
    COUNT is a fixed design parameter (FAISS's nlist) instead of
    growing with the corpus — without it, assignment cost is
    N x (N / centroid_mod), which the r6 sf1 bench measured as the
    one super-linear headline query (16x for 10x data; capped, the
    whole plan is linear in N).

    ``centroids`` (list of (cent_id, vector)) bypasses the
    training-free rule entirely — TRAINED k-means centers supplied as
    model parameters (see :func:`train_spherical_kmeans` and the
    committed ``ivf_centroids_v1.npz``); no corpus action happens at
    plan time then.

    Returns (query_id, neighbor_id, score, rank).
    """
    if centroids is not None:
        cent_rows = [{"cent_id": int(c), "_cvec": list(v)} for c, v in centroids]
    else:
        seeds = corpus
        if centroid_max is not None:
            seeds = corpus.filter(F.col(id_col) < centroid_max)
        cent_rows = collect_centroids(seeds, id_col, vec_col, centroid_mod)
    assigned = assign_nearest_centroid(corpus, id_col, vec_col, cent_rows).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("_cv"), "cent_id"
    )
    probes = assign_nearest_centroid(
        queries, id_col, vec_col, cent_rows, n_best=n_probe
    ).select(F.col("id").alias("query_id"), F.col("v").alias("_qv"), "cent_id")
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def assign_nearest_centroid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list,
    n_best: int = 1,
) -> DataFrame:
    """Scan-side nearest-centroid assignment shared by the IVF index,
    SemDeDup, the k-means step and the incremental IVF/IVFADC indexes:
    returns (id, v, cent_id) with NO exchange on ``df``. ``n_best > 1``
    yields one row per (input row, nearest cell) — the multi-probe
    form, cells in rank order. Ranking is :func:`centroid_topk_udf`'s
    one rule: the exact fold at or below ``_EXACT_CELL_CAP`` cells
    (bit-identical to the oracles), one float64 matmul above it, and
    for both score DESC, cent_id ASC, NaN last."""
    topk = centroid_topk_udf(cent_rows, n_best)(F.col(vec_col))
    cent = F.element_at(topk, 1) if n_best == 1 else F.explode(topk)
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cent.alias("cent_id")
    )


def centroid_topk_udf(cent_rows: list, n_best: int):
    """The nearest-centroid kernel: per vector the ``n_best`` nearest
    cells by cosine as an ordered array<long>. ``cent_rows`` (dicts or
    Rows with ``cent_id`` and ``_cvec``) are sorted by cent_id here,
    so one stable ``argsort`` of the negated scores ranks score DESC,
    cent_id ASC, with NaN (a zero-norm centroid or vector) last.

    Scores come from one of two kernels, picked from the set's size:

    - at or below ``_EXACT_CELL_CAP`` cells (centroids x dims): every
      dot/norm is a COMPONENT-SEQUENTIAL fold vectorized across rows —
      ``acc = acc + x_j * c_j`` over j — bit-identical to
      :func:`centroid_topk_expr` / ``dot_exact`` and the oracle's
      list_reduce chain, so the selected list set (and any cut at
      n_best) is hash-gate safe;
    - above it, one float64 matmul per batch, whose summation order
      is the library's: a near-tie may rank differently in the last
      ulp, which an approximate index at that size accepts.

    Raises ``ValueError`` on an empty set or one above
    ``_CENTROID_HARD_CAP``.

    The returned UDF is marked ``asNondeterministic()`` although it is pure:
    the marker pins ONE evaluation per row, because the optimizer
    otherwise copies the UDF under a filter or join key pushed below
    the projection. Callers must therefore project it into a column
    first and filter, group or join on that column (Spark refuses a
    non-deterministic expression inside a join condition), and get no
    filter pushdown through it; two calls are two evaluations."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not cent_rows:
        raise ValueError("no centroids: lower centroid_mod or check id domain")
    if len(cent_rows) > _CENTROID_HARD_CAP:
        raise ValueError(
            f"{len(cent_rows)} centroids exceeds the driver collect budget; "
            "raise centroid_mod (or plug in trained k-means centers)"
        )
    rows = sorted(cent_rows, key=lambda r: int(r["cent_id"]))
    cent_ids = np.array([int(r["cent_id"]) for r in rows], dtype=np.int64)
    cent_mat = np.array(
        [[float(x) for x in r["_cvec"]] for r in rows], dtype=np.float64
    )
    n_cent, dim = cent_mat.shape
    exact = n_cent * dim <= _EXACT_CELL_CAP

    def _norms(m):
        acc = None  # per-row self-dot, folded component-sequentially
        for j in range(dim):
            sq = m[:, j] * m[:, j]
            acc = sq if acc is None else acc + sq
        return np.sqrt(acc)

    cnorms = _norms(cent_mat)

    def _topk_fn(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        # One stack + float64 widening, which is exact for float32.
        mat = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
        if exact:
            dots = None  # (n, n_cent): sequential fold over components
            for j in range(dim):
                pj = mat[:, j][:, None] * cent_mat[None, :, j]
                dots = pj if dots is None else dots + pj
        else:
            dots = mat @ cent_mat.T
        with np.errstate(all="ignore"):
            scores = dots / (_norms(mat)[:, None] * cnorms[None, :])
        order = np.argsort(-scores, axis=1, kind="stable")[:, :n_best]
        return pd.Series(cent_ids[order].tolist())

    # asNondeterministic (r12, guide §4.4): cent_id derived from this
    # UDF is a downstream join key; the join-inferred isnotnull filter
    # was pushed below the projection and duplicated the UDF (two
    # stacked ArrowEvalPython nodes per scan branch in the ivf_topk /
    # semdedup_prune before-plans). Pure function; single evaluation.
    return pandas_udf(_topk_fn, "array<long>").asNondeterministic()


def centroid_topk_expr(vec_col: Column, cent_rows: list, n_best: int = 1) -> Column:
    """Expression form of :func:`centroid_topk_udf`'s exact fold — the
    fold the oracles mirror (``dot_exact`` over literal centroids,
    ranked score DESC, cent_id ASC), kept as the test reference
    (interpreted HOF evaluation, the slow path)."""
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(r["cent_id"])).cast("long").alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in r["_cvec"]]).alias("cvec"),
            )
            for r in cent_rows
        ]
    )
    scored = F.transform(
        cent_lit,
        lambda c: F.struct(
            (dot_exact(vec_col, c["cvec"]) / (l2_norm(vec_col) * l2_norm(c["cvec"])))
            .alias("s"),
            (-c["cent_id"]).alias("nid"),
        ),
    )
    # Struct sort is lexicographic (s DESC, then nid DESC = cent_id
    # ASC) — the oracle's ORDER BY score DESC, cent_id ASC.
    best = F.slice(F.sort_array(scored, asc=False), 1, n_best)
    return F.transform(best, lambda p: -p["nid"])


def multiprobe_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own hyperplane
    bucket PLUS every bucket at Hamming distance 1 (one sign bit
    flipped) — the standard recall fix for LSH ANN: vectors near a
    hyperplane land on either side, and the 1-bit probes cover
    exactly those boundary misses without touching the rest of the
    corpus.

    Scale shape: the probe table is queries x (n_planes + 1) rows —
    broadcast — and joins the bucketed corpus on bucket id, so
    candidate work grows from 1 to (n_planes + 1) bucket volumes per
    query while the corpus is still scanned once and never shuffled.
    Probed buckets are disjoint (each corpus vector has one bucket),
    so no candidate dedup step is needed. Returns (query_id,
    neighbor_id, score, rank)."""
    bucketed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("_qb"),
    )
    probe_set = F.array(
        F.col("_qb"), *[F.col("_qb").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    probes = q.select(
        "query_id", "_qv", F.explode(probe_set).alias("bucket")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def collect_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
) -> list:
    """Deterministic centroid seed set (every ``centroid_mod``-th
    vector), collected driver-side — model parameters, never corpus
    data. :func:`centroid_topk_udf` sorts the set and rejects an empty
    or oversized one."""
    return (
        corpus.filter(F.col(id_col) % centroid_mod == 0)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("_cvec"))
        .collect()
    )


def kmeans_update_step(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    scale: int = 10**6,
) -> DataFrame:
    """One distributed k-means (Lloyd) update: assign every vector to
    its nearest seed centroid (cosine, :func:`assign_nearest_centroid`
    — the scan-side assignment ivf_topk indexes with, NO corpus
    Exchange), then recompute each centroid as the member mean, per
    dimension: ``(cent_id, dim, n_members, mean_micro)``.

    Means are computed in integer micro-units
    (``floor(value * scale)`` summed exactly as BIGINT, one floored
    division at the end) so the update is bit-identical across
    engines and partitionings — float mean reductions are
    order-dependent, and a training loop that cannot be replayed
    cannot be regression-tested. Iterating = feeding the output back
    as the next seed set; the per-step cost is one scan + one
    (cent_id, dim)-keyed exchange of bounded size (centroids x dims
    rows), which is the MLlib k-means superstep shape.

    Assignment follows :func:`centroid_topk_udf`'s one rule: the
    bit-exact fold at or below ``_EXACT_CELL_CAP`` cells (the
    oracle-gated small-sf path), one float64 matmul above it, where
    training runs with hundreds of centroids live."""
    cent_rows = collect_centroids(corpus, id_col, vec_col, centroid_mod)
    assigned = assign_nearest_centroid(corpus, id_col, vec_col, cent_rows)
    expl = assigned.select(
        "cent_id", F.posexplode(F.col("v")).alias("_pos", "_x")
    ).select(
        "cent_id",
        (F.col("_pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("_x").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("_micro"),
    )
    return expl.groupBy("cent_id", "dim").agg(
        F.count("*").cast("long").alias("n_members"),
        F.floor(F.sum("_micro").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_micro"),
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space and pruning, WITHIN each cluster, every vector
    that has a higher-priority near-twin (cosine > ``threshold``,
    priority = smaller id — deterministic, unlike the paper's
    arbitrary keep choice). Clustering is what makes the quadratic
    comparison tractable: candidate pairs are only generated inside a
    cluster, exactly the published algorithm's trick.

    Scale shape: assignment is the scan-side
    :func:`assign_nearest_centroid` ivf_topk/kmeans use (NO corpus
    exchange; the exact fold at or below ``_EXACT_CELL_CAP`` cells,
    one float64 matmul above it); the only shuffle is the
    within-cluster self-join keyed on cent_id. Cluster size is the
    knob bounding pair work (k ~ n/avg_size); a pathologically hot
    cluster is handled like any hot join key (salt or split the
    centroid — same playbook as operators/skew.py).

    Returns (id, cent_id, pruned 0/1).
    """
    cent_rows = collect_centroids(corpus, id_col, vec_col, centroid_mod)
    # At sf1 (~282 centroids x 64 dims) assignment runs the matmul
    # kernel; pair scoring below stays the bit-exact cosine either way.
    assigned = assign_nearest_centroid(corpus, id_col, vec_col, cent_rows)

    a = assigned.alias("a")
    b = assigned.alias("b")
    # r12 (guide §4.2): the pruning join used to be a leftsemi whose
    # condition evaluated the interpreted dot_exact HOF fold PER
    # CANDIDATE PAIR (a Python UDF cannot appear in a semi-join
    # condition, and higher-order functions never codegen) — measured
    # as essentially the whole operator at scale. Restructured to an
    # equi-join on cent_id + Arrow-kernel cosine + distinct: paired
    # A/B 1.876 -> 0.362 s at sf1 and 15.89 -> 0.50 s at sf10
    # (min-of-3, new wins every pair), outputs asserted identical on
    # the full fixture at both SFs. Bit-equality holds because the
    # Arrow kernel's component-sequential folds reproduce
    # dot_exact / (vn_a * vn_b) exactly (same chains, one multiply,
    # one divide — pinned by tests/test_pq_adc_kernels.py). The
    # semi-join's per-row early-out bought nothing: matches are rare,
    # so every pair paid the interpreted fold anyway.
    pruned_ids = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .select(
            F.col("a.id").alias("id"),
            cosine(F.col("a.v"), F.col("b.v")).alias("_c"),
        )
        .filter(F.col("_c") > F.lit(threshold))
        .select("id")
        .distinct()
        .withColumn("pruned", F.lit(1).cast("long"))
    )
    return (
        assigned.join(pruned_ids, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cent_id"),
            F.coalesce(F.col("pruned"), F.lit(0)).cast("long").alias("pruned"),
        )
    )


# ---------------------------------------------------------------------------
# Trained IVF centroids (committed model artifact)
# ---------------------------------------------------------------------------

#: Committed trained-centroid artifact: deterministic spherical
#: k-means (k=32, 10 iterations) over operators.pq's corpus training
#: sample. The r7 recall eval measured the training-free %71 rule at
#: recall@5 = 0.36 on sf0.1; these centers reach 0.76 at the same
#: n_probe=2 (0.84 at 4) — centroid QUALITY, not probe width, was
#: the bottleneck. Provenance pinned by a retrain-equality test.
DEFAULT_IVF_CENTROIDS = __file__.replace("similarity.py", "ivf_centroids_v1.npz")
#: Scale-tier centroid artifact (r10 verdict #5): nlist must scale
#: ~sqrt(n) or average inverted-list length — and with it per-query
#: probe cost — grows linearly with the corpus at fixed k. Trained at
#: the sf10 fixture scale (k=448 ~ sqrt(200k)) by
#: tools/train_ivf_scale.py from the first 4480 vectors (by vec_id)
#: of the regenerated sf10 corpus — deterministic end-to-end (the
#: generator is key-shifted replication, the trainer is the same
#: exact-fold spherical k-means as the default artifact).
SCALE_IVF_CENTROIDS = __file__.replace(
    "similarity.py", "ivf_centroids_sf10_v1.npz"
)

#: (k, artifact path) tiers :func:`select_ivf_centroids` picks from.
IVF_CENTROID_TIERS = (
    (32, DEFAULT_IVF_CENTROIDS),
    (448, SCALE_IVF_CENTROIDS),
)


def select_ivf_centroids(n_vectors: int) -> str:
    """Index-BUILD-time nlist policy (nlist ~ sqrt(n)): return the
    committed centroid artifact whose k is nearest sqrt(n_vectors).
    At every committed small SF this picks the default k=32 artifact
    (sqrt(6016) ~ 78, sqrt(20k) ~ 141 — both nearer 32 than 448), so
    oracle-gated results are unchanged; the sf10 fixture (200k,
    sqrt ~ 447) picks the k=448 tier. Missing scale artifacts fall
    back to the default so hermetic checkouts keep working."""
    import math
    import os

    target = math.sqrt(max(n_vectors, 1))
    best, bestd = DEFAULT_IVF_CENTROIDS, None
    for k, path in IVF_CENTROID_TIERS:
        if not os.path.exists(path):
            continue
        d = abs(k - target)
        if bestd is None or d < bestd:
            best, bestd = path, d
    return best


def train_spherical_kmeans(sample, k: int = 32, iters: int = 10):
    """Deterministic spherical k-means (cosine objective): unit-
    normalize, init = first k sample rows, assign by dot product
    (argmax, first-match ties), recenter on the normalized mean;
    empty clusters keep their centroid. No RNG — bit-reproducible,
    same discipline as every other committed artifact.

    The assignment scores fold COMPONENT-SEQUENTIALLY (``S += x_j *
    c_j`` over j, vectorized across rows) instead of a BLAS GEMM:
    GEMM blocking — and therefore its summation order — follows the
    host CPU's kernel dispatch, and a host change silently broke
    bit-equality of the committed artifact by one ulp (r9 finding).
    Elementwise ufuncs neither fuse nor reassociate, so the fold is
    identical on every host — the same exact-fold discipline the
    Arrow serving kernels use."""
    import numpy as np

    X = np.asarray(sample, dtype=np.float64)
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    C = Xn[:k].copy()
    for _ in range(iters):
        # Preallocated temporary (r9 advisor): one ufunc writes into
        # tmp, one adds it — same component-sequential fold order (so
        # bit-equality of the committed artifact is preserved), half
        # the allocations of `S += a * b` per dimension.
        S = np.zeros((Xn.shape[0], C.shape[0]))
        tmp = np.empty_like(S)
        for j in range(Xn.shape[1]):
            np.multiply(Xn[:, j : j + 1], C[None, :, j], out=tmp)
            S += tmp
        a = S.argmax(axis=1)
        for c in range(k):
            mask = a == c
            if mask.any():
                v = Xn[mask].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[c] = v / n
    return C


def save_ivf_centroids(cents, path: str) -> None:
    import numpy as np

    np.savez(path, centroids=np.asarray(cents, dtype=np.float64))


def load_ivf_centroids(path: str = DEFAULT_IVF_CENTROIDS) -> list:
    """[(cent_id, vector)] with cent_id = row index — the model-
    parameter form :func:`ivf_topk`'s ``centroids`` argument takes."""
    import numpy as np

    with np.load(path) as z:
        C = z["centroids"].astype(np.float64)
    return [(i, [float(x) for x in C[i]]) for i in range(len(C))]
