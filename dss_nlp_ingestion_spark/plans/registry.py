"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus the
ANSI-SQL oracle string DuckDB runs on the same parquet for the
driver's correctness gate.

Cross-engine determinism rules (every registered query follows these —
violating them makes the value-hash comparison flaky):

1. **Exact aggregation**: monetary/statistic sums go through
   ``CAST(x AS DECIMAL(18,s))`` *before* ``SUM`` so the result is
   exact and independent of partial-aggregation order (double addition
   is not associative; Spark and DuckDB would otherwise disagree in
   the last ulp). The decimal result is cast back to DOUBLE.
2. **floor-rounding, not round()**: derived doubles are rounded with
   ``floor(x * 10^n + 0.5) / 10^n`` in BOTH engines. Spark's
   ``round`` (BigDecimal HALF_UP on the shortest string repr) and
   DuckDB's ``round`` (binary) disagree on values like 2.675; the
   floor formula is pure IEEE arithmetic and therefore identical.
3. **No array/struct outputs** — arrays are joined to strings.
4. **Counts cast to BIGINT** on both sides (Spark ``size`` returns
   INT, DuckDB ``len`` returns BIGINT).
5. **Deterministic tie-breaks** on every window/top-k (rank by an
   exact value, then a key column).
6. **Aliases match the oracle column names exactly** (driver sorts
   columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Composite queries split into SETUP (fixture build: table writes,
#: index builds, churn commits) and PROBE (the operator under
#: measurement). The driver-facing entry in QUERIES runs both — same
#: semantics, same oracle — while bench.py times the halves
#: separately so a real operator regression can't hide inside
#: fixture-write IO noise (r5 verdict #2).
SETUPS: dict[str, Callable[[SparkSession, str], object]] = {}
PROBES: dict[str, Callable[[SparkSession, object], DataFrame]] = {}

#: Documented performance notes keyed by query name — e.g. an
#: intentionally-Python compatibility path whose cost would otherwise
#: read as a regression in the full bench sweep. bench.py copies
#: these into BENCH_FULL.json.
TAGS: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB-ready ANSI SQL
    equivalent (omit only for genuinely non-SQL-expressible ops, which
    then get the driver's weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def register_split(
    name: str,
    setup: Callable[[SparkSession, str], object],
    probe: Callable[[SparkSession, object], DataFrame],
    oracle: str | None = None,
    tag: str | None = None,
) -> QueryFn:
    """Register a composite lifecycle query as SETUP + PROBE (see
    SETUPS/PROBES above). Returns the composed driver-facing query.
    The composed function carries ``_split`` so the greenness hash
    covers the real setup/probe sources, not the thin wrapper."""

    def composed(spark: SparkSession, sf_dir: str) -> DataFrame:
        return probe(spark, setup(spark, sf_dir))

    composed.__name__ = name
    composed._split = (setup, probe)  # type: ignore[attr-defined]
    register(name, oracle)(composed)
    SETUPS[name] = setup
    PROBES[name] = probe
    if tag:
        TAGS[name] = tag
    return composed


def fround(col: Column, n: int = 4) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^n + 0.5)/10^n.

    Identical IEEE-754 ops in Spark and DuckDB -> identical doubles,
    unlike the engines' native round() implementations (rule 2 above).
    """
    scale = float(10**n)
    return (F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)).cast("double")


def fround_sql(expr: str, n: int = 4) -> str:
    """The DuckDB-side twin of :func:`fround`."""
    scale = float(10**n)
    return f"CAST(floor(({expr}) * {scale} + 0.5) / {scale} AS DOUBLE)"


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent exact sum: decimal-cast each value, sum
    exactly, return DOUBLE (rule 1 above)."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"
