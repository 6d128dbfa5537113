"""Z-order clustering for multi-dimensional file skipping (the Delta
``OPTIMIZE ZORDER BY`` / Iceberg sort-order analog).

Why it matters at 100 TB: parquet scans prune row groups by min/max
statistics. A table sorted by one column skips perfectly on that
column and not at all on any other; interleaving the BITS of several
columns' normalized ranks (a Morton/Z-curve) gives every clustered
column locality, so a 2-predicate query skips most files on both
dimensions. The operator is pure DataFrame work: two-pass min/max
normalization (one tiny aggregate, broadcast), bit interleave as
codegen'd integer expressions, then ``repartitionByRange`` +
``sortWithinPartitions`` on the curve key — the write parallelism is
the range partitioning, not a global sort bottleneck. Callers write
the clustered frame themselves; the tx-log table
(``txlog.create_table(..., stats_cols=...)``, ``txlog.optimize_zorder``)
logs each file's min/max at commit, and ``txlog.read_pruned`` skips
files from those stats.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bits per dimension in the interleaved key; 16 bits x 2 dims fits a
#: signed 64-bit long with room for 4 dimensions.
ZORDER_BITS = 16


def _normalize_to_bits(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column onto [0, 2^bits) by min/max scaling —
    rank-free, so it needs only a broadcast two-value aggregate, not a
    global sort. Constant columns map to 0."""
    span = cmax.cast("double") - cmin.cast("double")
    scaled = F.when(
        span > 0,
        ((col.cast("double") - cmin) / span) * F.lit((1 << bits) - 1),
    ).otherwise(F.lit(0.0))
    return F.floor(scaled).cast("long")


def morton_interleave(cols: Sequence[Column], bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` of each (already-normalized) long
    column into one Z-curve key: bit i of column d lands at position
    i * n_dims + d. Pure integer expressions — whole-stage codegen,
    no UDF."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} dims x {bits} bits exceeds a signed long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * n + d)
    return key


def zorder_cluster(
    df: DataFrame,
    zorder_cols: Sequence[str],
    n_files: int,
    bits: int = ZORDER_BITS,
) -> DataFrame:
    """``df`` in ``n_files`` partitions clustered along the Z-curve of
    ``zorder_cols``: written out, each file covers a compact hyper-
    rectangle of the clustered space, so per-file min/max stats prune
    predicates on any of the columns. One job here (the one-row
    min/max aggregate, broadcast into the key expression as literals);
    the range partitioning runs with the caller's write."""
    stats = df.agg(
        *[F.min(c).alias(f"_min_{c}") for c in zorder_cols],
        *[F.max(c).alias(f"_max_{c}") for c in zorder_cols],
    ).collect()[0]
    normed = [
        _normalize_to_bits(
            F.col(c), F.lit(stats[f"_min_{c}"]), F.lit(stats[f"_max_{c}"]), bits
        )
        for c in zorder_cols
    ]
    return (
        df.withColumn("_z", morton_interleave(normed, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
