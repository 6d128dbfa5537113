"""DataFrame-native Bloom filter: the runtime semi-join filter Spark
builds internally (`InjectRuntimeFilter`), re-expressed as a reusable
operator for engines/paths where the rule doesn't fire (this build
does not register `bloom_filter_agg`/`might_contain` as SQL
functions).

Shape (reference parity: the reference prunes fetch work by consulting
a Redis key-space before scraping, src/base.py:210-218 — a membership
prefilter in front of an expensive stage; here the expensive stage is
a shuffle join):

- **build**: hash each build-side key with ``n_hashes`` seeded
  xxhash64 calls, set bits in an ``m_bits`` Bloom bitmap. The bitmap
  is materialized as ONE row holding a ``map<long,long>`` of 64-bit
  words — ``m_bits/64`` entries at most (~16 KiB for 2^20 bits), an
  aggregate the size of a model parameter, not of the data.
- **probe**: broadcast the 1-row bitmap (BroadcastNestedLoopJoin of a
  single row = free), then test all ``n_hashes`` positions with pure
  codegen expressions (no explode, no per-row Python, no shuffle).
  Rows failing ANY bit are dropped *before* the exact join shuffles
  them.

The filter is one-sided (false positives only), so callers follow it
with the exact join; the Bloom pass just keeps non-matching rows out
of the exchange — at 100 TB that is the difference between shuffling
the full fact table and shuffling the ~selectivity fraction of it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 17, n_hashes: int = 3
) -> DataFrame:
    """Aggregate ``df[key_col]`` into a 1-row Bloom bitmap.

    Returns a single-row DataFrame with column ``bloom_words``:
    ``map<long,long>`` of word-index -> 64-bit word (absent word =>
    all-zero). Distributed end-to-end: per-partition partial
    ``bit_or`` then a <= m_bits/64-row final merge.
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    key = F.col(key_col)
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    pos = F.pmod(F.xxhash64(key, F.col("_seed")), F.lit(m_bits))
    bits = (
        df.select(key, F.explode(seeds).alias("_seed"))
        .select(pos.alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("word_idx"),
            # pyspark's F.shiftleft wants a literal shift; the SQL
            # form takes a column.
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return bits.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "bits"))).alias(
            "bloom_words"
        )
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Keep only rows whose ``key_col`` *might* be in ``bloom``
    (built by :func:`bloom_build` with the SAME m_bits/n_hashes).

    The bitmap row rides in on a broadcast cross join; the probe is
    whole-stage-codegen arithmetic per row (one AND over the
    ``n_hashes`` bit checks — small fixed expression tree). Output
    schema == input schema.
    """
    probed = df.crossJoin(F.broadcast(bloom))
    pos_cols = []
    checks = []
    for seed in range(n_hashes):
        pc = f"_bloom_pos{seed}"
        pos_cols.append(pc)
        probed = probed.withColumn(
            pc, F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(m_bits))
        )
        word = F.coalesce(
            F.element_at(F.col("bloom_words"), (F.col(pc) / 64).cast("long")),
            F.lit(0).cast("long"),
        )
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({pc} % 64 AS INT))")
        checks.append(word.bitwiseAND(bit) != 0)
    kept = probed.filter(reduce(lambda a, b: a & b, checks))
    return kept.drop("bloom_words", *pos_cols)
