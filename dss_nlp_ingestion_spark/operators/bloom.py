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
- **grouped**: ``group_cols`` builds one bitmap per group instead —
  with ``group_cols=["_file"]`` over ``input_file_name()`` that is a
  per-file index for point-lookup file skipping, and
  :func:`bloom_matches` keeps the groups whose bitmap admits some
  probe key, with the keys broadcast and the index left distributed.
  Build and both probes share one position expression and one bit
  test, so they cannot disagree.

The filter is one-sided (false positives only), so callers follow it
with the exact join; the Bloom pass just keeps non-matching rows out
of the exchange — at 100 TB that is the difference between shuffling
the full fact table and shuffling the ~selectivity fraction of it.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: Column, m_bits: int, n_hashes: int) -> list[Column]:
    """The one position expression: the ``n_hashes`` bits ``key``
    sets, xxhash64 of (key, seed) folded into [0, m_bits) (pmod keeps
    negatives out)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits)) for seed in range(n_hashes)
    ]


def _word_idx(pos: Column) -> Column:
    return (pos / 64).cast("long")


def _bit(pos: Column) -> Column:
    # pyspark's F.shiftleft wants a literal shift; the SQL function
    # takes a column.
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
    )


def _bits_set(words: Column, positions: Sequence[Column]) -> Column:
    """The one bit test: every position's bit is set in the
    ``map<long,long>`` bitmap ``words`` (an absent word is all zero)."""
    return reduce(
        lambda a, b: a & b,
        [
            F.coalesce(F.element_at(words, _word_idx(p)), F.lit(0).cast("long"))
            .bitwiseAND(_bit(p))
            != 0
            for p in positions
        ],
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate ``df[key_col]`` into a Bloom bitmap per ``group_cols``
    group (no ``group_cols``: one row for the whole input).

    Each row carries the group columns and ``bloom_words``:
    ``map<long,long>`` of word-index -> 64-bit word (absent word =>
    all-zero). Distributed end-to-end: per-partition partial
    ``bit_or`` then a <= m_bits/64-rows-per-group final merge.
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(F.array(*_positions(F.col(key_col), m_bits, n_hashes)))
    words = (
        df.select(*group_cols, pos.alias("_pos"))
        .groupBy(*group_cols, _word_idx(F.col("_pos")).alias("word_idx"))
        .agg(F.bit_or(_bit(F.col("_pos"))).alias("bits"))
    )
    return words.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "bits"))).alias(
            "bloom_words"
        )
    )


def _pos_cols(n_hashes: int) -> list[str]:
    return [f"_bloom_pos{seed}" for seed in range(n_hashes)]


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Keep only rows whose ``key_col`` *might* be in ``bloom``
    (built by :func:`bloom_build` with the SAME m_bits/n_hashes and
    no ``group_cols``).

    The bitmap row rides in on a broadcast cross join; the probe is
    whole-stage-codegen arithmetic per row (one AND over the
    ``n_hashes`` bit checks — small fixed expression tree). Output
    schema == input schema.
    """
    cols = _pos_cols(n_hashes)
    probed = df.crossJoin(F.broadcast(bloom)).withColumns(
        dict(zip(cols, _positions(F.col(key_col), m_bits, n_hashes)))
    )
    kept = probed.filter(_bits_set(F.col("bloom_words"), [F.col(c) for c in cols]))
    return kept.drop("bloom_words", *cols)


def bloom_matches(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Rows of a grouped ``bloom`` (:func:`bloom_build` with
    ``group_cols``, the SAME m_bits/n_hashes) whose bitmap might hold
    at least one ``keys[key_col]`` value: for a per-file index, the
    files a point lookup must open. A left-semi nested-loop join with
    the keys' bit positions broadcast: the index stays distributed,
    never broadcast or collected, however many files it covers."""
    cols = _pos_cols(n_hashes)
    probe = keys.select(
        *[p.alias(c) for c, p in zip(cols, _positions(F.col(key_col), m_bits, n_hashes))]
    )
    return bloom.join(
        F.broadcast(probe),
        _bits_set(F.col("bloom_words"), [F.col(c) for c in cols]),
        "left_semi",
    )
