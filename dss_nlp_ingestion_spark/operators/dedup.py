"""Deduplication operator family (SURVEY.md §2.4 + LLM-pipeline
extension): exact, TTL-history, MinHash+LSH, n-gram Jaccard, SimHash.

Reference parity: the reference dedups exactly — by URL/article-id
sha224 against a Redis 7-day key-space (D1, src/base.py:210-218,
src/historydb/redislease.py:60-79) and by content hash (D2,
src/lurkers/newsfilter.py:167 — Python ``hash``, replaced here by
sha2-256). The near-dup operators (MinHash/LSH, Jaccard, SimHash)
extend that surface to what a 100 TB training-data pipeline needs.

Scale design:
- Exact dedup: hash-groupBy — one shuffle on the digest, partial
  aggregation upstream.
- MinHash+LSH: signatures are computed scan-side (per-row expression,
  no shuffle), candidate generation shuffles on (band, band_key) —
  the classic shingle->minhash->band->bucket-join pipeline; bucket
  sizes, not input size, bound the pair blowup.
- SimHash: per-row 16-bit signature from token nibbles; near-pair
  join on signature (hamming<=r via xor+bit_count) — at scale, band
  the signature bytes first.
- All hashes are sha2-based and deterministic (never Python ``hash``
  or engine-private hash functions), so DuckDB oracles reproduce
  them bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import ensure_parallelism
from dss_nlp_ingestion_spark.functions.text import (
    content_hash,
    shingles,
    spark_ws_split,
)

#: Pluggable shingle builder: Column (text) -> Column (array<string>).
#: ``None`` means word k-grams (:func:`functions.text.shingles`);
#: pass :func:`functions.text.shingles_auto` for CJK-aware routing or
#: :func:`functions.text.char_shingles` for pure character n-grams.
Shingler = Callable[[Column], Column]


# --- exact (D2) -----------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical content digest."""
    hashed = df.withColumn("_digest", content_hash(*[F.col(c) for c in content_cols]))
    w = Window.partitionBy("_digest").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_digest")
    )


def dup_groups(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Digest groups with multiplicity > 1: (digest, n_dups, keep_id)."""
    hashed = df.withColumn("_digest", content_hash(*[F.col(c) for c in content_cols]))
    return (
        hashed.groupBy(F.col("_digest").alias("digest"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --- MinHash + LSH --------------------------------------------------------

def minhash_signature_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 8,
    k: int = 3,
    shingler: Shingler | None = None,
) -> DataFrame:
    """(id, m0..m{num_perm-1}) MinHash components via one-permutation
    hashing on the explode pipeline: one row per shingle, ONE sha256
    in a flat codegen'd projection (whole-stage CSE collapses the
    ``num_perm`` substring slices to a single hash evaluation; an
    array-lambda ``transform`` form re-evaluates the hash per slice,
    ~8x slower, and was removed for that reason), then a
    partial-aggregated min per component. One shuffle on id.

    ``shingler`` overrides the shingle unit (e.g. ``shingles_auto``
    for CJK-aware character n-grams); docs yielding no shingles are
    excluded either way.

    NOTE (do not re-try): a row-local Arrow twin (token set + sha256
    + slice-mins in Python, no explode/shuffle — the shape that won
    for SimHash) was measured SLOWER twice: 1.02 vs 0.75 s isolated
    at sf0.1 (r11) and 8.75 vs 2.25 s min-of-3 paired on
    minhash_lsh_candidates at sf1 (r12, twin asserted bit-equal on
    all 50k signatures first). Unlike SimHash's integer votes, the
    per-shingle sha256 dominates here and the JVM form amortizes it
    in codegen while the shuffle stays cheap (8 slice-min columns)."""
    if num_perm > 8:
        raise ValueError("one-permutation slicing supports at most 8 perms (64 hex chars)")
    sh_expr = shingler(F.col(text_col)) if shingler else shingles(F.col(text_col), k)
    rows = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), sh_expr.alias("_sh"))
        .filter(F.size("_sh") > 0)
        .select("id", F.explode("_sh").alias("s"))
    )
    h = F.sha2(F.col("s"), 256)
    sliced = rows.select(
        "id", *[F.substring(h, p * 8 + 1, 8).alias(f"_m{p}") for p in range(num_perm)]
    )
    return sliced.groupBy("id").agg(
        *[F.min(f"_m{p}").alias(f"m{p}") for p in range(num_perm)]
    )


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 8,
    band_rows: int = 2,
    k: int = 3,
    shingler: Shingler | None = None,
) -> DataFrame:
    """(id, band, band_key) rows: the signature split into
    ``num_perm / band_rows`` bands, each keyed by its concatenated
    minhashes. Docs yielding no shingles are excluded."""
    n_bands = num_perm // band_rows
    sig = minhash_signature_df(df, id_col, text_col, num_perm, k, shingler)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"m{b * band_rows + r}") for r in range(band_rows)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("id", F.explode(bands).alias("_b")).select(
        "id", F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 8,
    band_rows: int = 2,
    k: int = 3,
    shingler: Shingler | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any LSH band —
    the shuffle is on (band, band_key); only bucket-local pairs are
    generated."""
    bands = lsh_bands(df, id_col, text_col, num_perm, band_rows, k, shingler)
    # Rename-per-side self-join (shared-lineage aliases are unsafe).
    a = bands.withColumnRenamed("id", "id_a")
    b = bands.withColumnRenamed("id", "id_b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --- n-gram Jaccard -------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.15,
    max_df: int | None = None,
    keep_sizes: bool = False,
    shingler: Shingler | None = None,
) -> DataFrame:
    """Pairs with Jaccard similarity of distinct word-k-gram sets >=
    ``threshold``.

    Pipeline: explode shingles -> ONE shuffle grouping (doc-id, set
    size) structs per shingle (``collect_list``) -> bucket-local pair
    generation via a double explode of the struct list (no
    posting-list self-join, so the pair stream is produced without a
    second shuffle of the token stream) -> per-pair intersection
    counts.  Set sizes ride INSIDE the posting structs, so no
    per-document size table ever exists — the earlier design
    broadcast one row per document to every executor, a guaranteed
    OOM at corpus scale.  Returns (id_a, id_b, shared, union_sz) as
    exact longs — callers derive the float.

    ``max_df`` is the 100 TB guard: a shingle appearing in d docs
    expands to d^2 pair rows, so over-cap shingles are removed BEFORE
    any posting list is built — a count aggregate finds the rare
    shingles, a semi-join on the shingle prunes the exploded stream,
    and only then does ``collect_list`` buffer doc-ids.  A boilerplate
    shingle in millions of documents therefore never materializes its
    doc list in an aggregation buffer (the count+semi-join shuffles on
    the same key, so the exchange is reused).  With the cap, per-group
    work is bounded by max_df^2 and scores become a LOWER BOUND;
    without it (``None``) the result is exact but quadratic in the
    hottest shingle — small-sf verification only."""
    sh_expr = shingler(F.col(text_col)) if shingler else shingles(F.col(text_col), k)
    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), F.array_distinct(sh_expr).alias("_sh"))
        .filter(F.size("_sh") > 0)
    )
    ex = sh.select(
        "id", F.size("_sh").cast("long").alias("sz"), F.explode("_sh").alias("s")
    )
    if max_df is not None:
        rare = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("s")
        )
        ex = ex.join(rare, "s", "left_semi")
    grp = ex.groupBy("s").agg(F.collect_list(F.struct("id", "sz")).alias("_ids"))
    pairs = (
        grp.select(F.explode("_ids").alias("a"), "_ids")
        .select("a", F.explode("_ids").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    # sz_a/sz_b are functionally dependent on the ids — first() keeps
    # the shuffle key narrow while avoiding any size lookup join.
    shared = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("shared"),
        F.first("sz_a").alias("sz_a"),
        F.first("sz_b").alias("sz_b"),
    )
    out = shared.withColumn(
        "union_sz", F.col("sz_a") + F.col("sz_b") - F.col("shared")
    )
    out = out.filter(F.col("shared") / F.col("union_sz") >= F.lit(threshold))
    cols = ["id_a", "id_b", "shared", "union_sz"] + (
        ["sz_a", "sz_b"] if keep_sizes else []
    )
    return out.select(*cols)


# --- SimHash --------------------------------------------------------------

SIMHASH_BITS = 16
#: Wide signature for the banded at-scale join: 60 bits = 15 hex chars
#: of the token sha256 (fits a signed 64-bit long in both engines).
SIMHASH_WIDE_BITS = 60


def _simhash_batch(texts, bits: int):
    """Vectorized SimHash of a batch of texts, bit-identical to the
    former exploded JVM pipeline: distinct whitespace tokens (Spark
    ``split(trim(text), '\\s+')`` semantics — ``trim`` strips ASCII
    spaces only, ``split`` keeps leading/trailing empty fields), each
    voting ±1 per bit from the first ``bits/4`` hex digits of its
    sha256 (r12, guide §4.2). Per batch: one Python pass tokenizes
    and sha-hashes (hashlib is C; the hex parse becomes
    int.from_bytes on the digest prefix — same integer), then the
    votes fold as numpy segment sums per bit: votes_j =
    2 * Σ_tok bit_j(h) − n_toks — pure integer arithmetic (the unit
    test asserts equality against the exploded JVM form). The
    per-token vote loop this replaced was the hot half of the sf10
    banded row (sig pass 7.6 s of 20.5 s). NULL text -> NULL."""
    import hashlib

    import numpy as np

    nhex = bits // 4
    nb = (nhex + 1) // 2
    shift = 4 if nhex % 2 else 0
    sha = hashlib.sha256
    hs_flat: list[int] = []
    starts: list[int] = []
    lens: list[int] = []
    null = np.zeros(len(texts), dtype=bool)
    pos = 0
    for i, t in enumerate(texts):
        if t is None:
            null[i] = True
            starts.append(pos)
            lens.append(0)
            continue
        toks = set(spark_ws_split(t))
        starts.append(pos)
        lens.append(len(toks))
        hs_flat.extend(
            int.from_bytes(sha(tok.encode("utf-8")).digest()[:nb], "big")
            >> shift
            for tok in toks
        )
        pos += len(toks)
    hs = np.asarray(hs_flat, dtype=np.uint64)
    starts_a = np.asarray(starts, dtype=np.int64)
    lens_a = np.asarray(lens, dtype=np.int64)
    sig = np.zeros(len(texts), dtype=np.int64)
    if len(hs):
        one = np.uint64(1)
        ends_a = starts_a + lens_a
        for j in range(bits):
            col = ((hs >> np.uint64(j)) & one).astype(np.int64)
            # prefix-sum segment fold: seg = csum[end] - csum[start]
            # (integer-exact, immune to empty segments)
            csum = np.concatenate(([0], np.cumsum(col)))
            seg = csum[ends_a] - csum[starts_a]
            votes = 2 * seg - lens_a
            sig |= (votes > 0).astype(np.int64) << j
    out = sig.astype(object)
    out[null] = None
    return out


_SIMHASH_UDFS: dict[int, Callable] = {}


def _simhash_udf(bits: int):
    """Per-``bits`` Arrow (pandas) UDF cache for :func:`_simhash_batch`."""
    if bits not in _SIMHASH_UDFS:
        import pandas as pd
        from pyspark.sql.types import LongType

        def f(texts):  # pandas Series -> pandas Series (unannotated:
            # the explicit returnType form needs no resolvable hints)
            return pd.Series(_simhash_batch(texts, bits), index=texts.index)

        # asNondeterministic stops the optimizer pushing the join-
        # inferred isnotnull(simhash) filter below the parallelism
        # repartition, which re-evaluated the UDF once per side just
        # to re-derive a filter that keeps every row (text NULLs are
        # already gone at the scan) — guide §4.4, measured: 2
        # ArrowEvalPython nodes per join side without it, 1 with.
        _SIMHASH_UDFS[bits] = F.pandas_udf(f, LongType()).asNondeterministic()
    return _SIMHASH_UDFS[bits]


def simhash_sig(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-bit SimHash per row: each distinct token contributes
    ±1 to every bit position according to the first ``bits/4`` hex
    digits of its sha256; bit j of the signature is 1 iff the summed
    contribution is positive. (id, simhash).

    SimHash is a PER-DOCUMENT pure map, so it is computed row-locally
    in one Arrow batch pass (guide §2.4/§4.2): no token explode, no
    ``bits``-column partial aggregation, and — the scale point — NO
    shuffle at all where the previous shape exchanged the per-doc vote
    buffers on id.  Only (id, text) crosses the Python boundary; the
    integer vote/threshold logic is exact, so results are bit-identical
    to the exploded JVM form (r11 A/B: equal at 16 and 60 bits over the
    full sf0.1 corpus, ~20% faster, one Exchange removed).  Rows whose
    text is NULL are dropped, matching the former explode semantics."""
    if bits % 4 != 0 or bits > 60:
        raise ValueError("bits must be a multiple of 4, at most 60 (signed long)")
    return (
        ensure_parallelism(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            _simhash_udf(bits)(F.col(text_col)).alias("simhash"),
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash (the driver-checked compact signature)."""
    return simhash_sig(df, id_col, text_col, SIMHASH_BITS)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= ``max_hamming``.
    All-pairs self-join + xor/bit_count — the small-sf correctness
    verifier for :func:`simhash_banded_pairs`; O(n^2), never run at
    scale."""
    sig = simhash_sig(df, id_col, text_col, bits)
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"))
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = SIMHASH_WIDE_BITS,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= ``max_hamming`` via the
    pigeonhole banding join — the 100 TB form of
    :func:`simhash_near_pairs`.

    Splitting a ``bits``-bit signature into ``n_bands`` equal bands,
    any pair within hamming distance ``max_hamming`` (< n_bands)
    differs in at most ``max_hamming`` bands and therefore AGREES on
    at least one band.  So: explode each signature into (band_idx,
    band_value) keys, equi-join on them (shuffle on the band key —
    never all-pairs), verify the exact hamming distance on the
    surviving candidates, and dedupe pairs that matched in several
    bands.  Candidate volume is bounded by band-bucket sizes, not n^2.

    Band width decides bucket cardinality and therefore bucket size:
    with the default 60-bit signature, each band key has 2^15 values,
    so candidate volume is ~n^2/32768 per band even on an adversarial
    corpus — a 16-bit signature's 4-bit bands (16 values) would put
    ~n/16 rows in every bucket and re-create the quadratic join,
    which is why the wide signature is the banded default."""
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole banding requires max_hamming < n_bands")
    if bits % n_bands != 0:
        raise ValueError("n_bands must divide bits")
    band_w = bits // n_bands
    mask = (1 << band_w) - 1
    sig = simhash_sig(df, id_col, text_col, bits)
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_w)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select(
        "id", "simhash", F.col("_b.band").alias("band"), F.col("_b.bval").alias("bval")
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "bval"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "bval"
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")

    # Emit each pair exactly once WITHOUT a distinct() shuffle: a pair
    # agreeing in several bands is kept only in its earliest agreeing
    # band — computed from the two signatures already on the joined
    # row with pure bit arithmetic.
    def _band_val(sig: Column, b: int) -> Column:
        return F.shiftright(sig, b * band_w).bitwiseAND(F.lit(mask))

    first_agree = F.lit(n_bands - 1)
    for b_idx in range(n_bands - 2, -1, -1):
        first_agree = F.when(
            _band_val(F.col("sim_a"), b_idx) == _band_val(F.col("sim_b"), b_idx),
            F.lit(b_idx),
        ).otherwise(first_agree)

    return (
        a.join(b, ["band", "bval"])
        .filter((F.col("id_a") < F.col("id_b")) & (first_agree == F.col("band")))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --- TTL history anti-join (D1 batch form) --------------------------------

def history_filter(
    df: DataFrame,
    history: DataFrame,
    id_hash_col: str,
    hist_hash_col: str = "id_hash",
    hist_age_col: str | None = None,
    ttl_periods: int | None = None,
) -> DataFrame:
    """D1: keep rows whose id-hash is absent from the history table —
    or present but expired (age >= ttl). With no TTL column this is a
    plain left_anti; with one it is a left join + predicate. The
    history side is broadcast when small, shuffled on the hash
    otherwise — never collected."""
    if hist_age_col is None or ttl_periods is None:
        return df.join(
            history.select(F.col(hist_hash_col).alias(id_hash_col)),
            on=id_hash_col,
            how="left_anti",
        )
    h = history.select(
        F.col(hist_hash_col).alias("_h_hash"), F.col(hist_age_col).alias("_h_age")
    )
    joined = df.join(h, df[id_hash_col] == F.col("_h_hash"), "left")
    return joined.filter(
        F.col("_h_hash").isNull() | (F.col("_h_age") >= F.lit(ttl_periods))
    ).drop("_h_hash", "_h_age")


# --- benchmark decontamination --------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Drop corpus documents that share ANY word ``k``-gram with the
    benchmark set — eval-set decontamination, the dedup-family pass a
    training pipeline runs against held-out benchmarks before
    training (n-gram overlap is the standard published criterion).

    Scale shape: the benchmark's distinct shingle set is eval-sized
    (millions of shingles at most, vs the corpus's billions) and is
    broadcast, so the contamination probe is a map-side semi-join over
    the exploded corpus shingles; only the matched doc ids — a tiny
    set — reach the final anti-join, where the corpus is filtered,
    never expanded. Documents shorter than ``k`` words produce no
    shingles and are trivially clean."""
    contaminated = contaminated_ids(corpus, benchmark, id_col, text_col, k)
    return corpus.join(contaminated, id_col, "left_anti")


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """The contaminated-id set behind :func:`decontaminate` (factored
    out in r11 so flag-style consumers — corpus_funnel_counts — can
    reuse the probe without the anti-join): corpus ids sharing ANY
    word ``k``-gram with the benchmark set, as one ``id_col`` column."""
    bench = (
        benchmark.select(F.explode(shingles(F.col(text_col), k)).alias("_s"))
        .distinct()
    )
    probe = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("_s")
    )
    return probe.join(F.broadcast(bench), "_s", "left_semi").select(id_col).distinct()


# --- AllPairs prefix filtering (exact-threshold set-similarity join) ------

def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    tau_num: int = 3,
    tau_den: int = 5,
    shingler: Shingler | None = None,
) -> DataFrame:
    """EXACT Jaccard-join at threshold ``tau_num/tau_den`` via AllPairs
    prefix filtering (Bayardo et al., WWW'07) — the scale path when the
    threshold is high and the answer must be exact (LSH is probabilistic,
    the posting self-join is quadratic in the hottest token).

    The bound: order all shingles by a global total order (ascending
    document frequency, shingle string as tie-break — rarest first).
    If J(x, y) >= t, then x and y must share a shingle within each
    other's first ``|s| - ceil(t * |s|) + 1`` shingles under that
    order. So candidate pairs are generated ONLY from the prefixes —
    the frequent shingles (the quadratic blowup at corpus scale) sit
    at the END of the order and mostly fall outside every prefix.

    Threshold arithmetic is integer-exact end-to-end (``ceil(t*s)`` as
    ``(s*tau_num + tau_den - 1) div tau_den``; the final cut as
    ``shared * tau_den >= union * tau_num``) — a float ``0.6 * 5``
    is 3.0000000000000004, whose ceil would shrink the prefix and
    silently drop true pairs.

    Pipeline (3 shuffles, all key-bounded): shingle df-count (by
    shingle) -> per-doc rank window (by doc id) -> prefix self-join
    (by shingle, with the |y|*t <= |x| length filter) -> verify by
    joining candidate ids back to the per-doc shingle-set arrays and
    intersecting (array_intersect per pair — row-local, no token
    re-shuffle). Output (id_a, id_b, shared, union_sz) exact longs.
    """
    sh_expr = shingler(F.col(text_col)) if shingler else shingles(F.col(text_col), k)
    # NOTE (r11): do NOT persist/checkpoint the intermediate frames
    # here. The branches that look like repeated subtree evaluations
    # (ex under dfreq + ranked, prefix on both self-join sides, sets
    # on both verify sides) all share canonicalized Exchange subtrees
    # and execute as ReusedExchange — measured: a persist(sets) +
    # localCheckpoint(prefix) variant broke the reuse and ran 2.3x
    # SLOWER (8.4 s vs 3.7 s paired A/B at sf0.1).
    sets = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), F.array_distinct(sh_expr).alias("_sh"))
        .filter(F.size("_sh") > 0)
        .select("id", "_sh", F.size("_sh").cast("long").alias("sz"))
    )
    ex = sets.select("id", "sz", F.explode("_sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    # join exploded postings to the global order key; both sides hash
    # on the shingle so the exchange is shared.
    ranked = ex.join(dfreq, "s").withColumn(
        "_r",
        F.row_number().over(Window.partitionBy("id").orderBy("_df", "s")),
    )
    prefix_len = (
        F.col("sz")
        - F.floor((F.col("sz") * tau_num + (tau_den - 1)) / tau_den)
        + 1
    )
    prefix = ranked.filter(F.col("_r") <= prefix_len).select("id", "sz", "s", "_r")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        # length filter: J >= t forces t * max(|x|,|y|) <= min(|x|,|y|)
        .filter(
            F.greatest("a.sz", "b.sz") * tau_num
            <= F.least("a.sz", "b.sz") * tau_den
        )
        # PPJoin POSITIONAL filter (Xiao et al., WWW'08): a match at
        # ranks (r_a, r_b) of the global order bounds the overlap by
        # ub = 1 + min(sz_a - r_a, sz_b - r_b) (everything shared
        # beyond this shingle ranks after it in BOTH docs).  J >= t
        # needs shared * (num + den) >= num * (sz_a + sz_b), so rows
        # whose ub fails that are dropped BEFORE the distinct + verify
        # joins.  Safe per-row: a true pair's FIRST common shingle has
        # no shared shingle ranked before it in either doc, so its ub
        # is a genuine upper bound that the true overlap satisfies —
        # that row always survives; only redundant/hopeless candidate
        # rows are cut (integer-exact, same verified output).
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a._r"), F.col("b.sz") - F.col("b._r")
                )
            )
            * (tau_num + tau_den)
            >= (F.col("a.sz") + F.col("b.sz")) * tau_num
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("_sh").alias("_sha"),
                              F.col("sz").alias("sz_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("_sh").alias("_shb"),
                          F.col("sz").alias("sz_b")), "id_b")
        .withColumn("shared", F.size(F.array_intersect("_sha", "_shb")).cast("long"))
        .withColumn("union_sz", F.col("sz_a") + F.col("sz_b") - F.col("shared"))
        .filter(F.col("shared") * tau_den >= F.col("union_sz") * tau_num)
    )
    return verified.select("id_a", "id_b", "shared", "union_sz")
