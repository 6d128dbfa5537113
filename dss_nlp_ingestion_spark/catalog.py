"""Table catalog: parquet scans over a scale-factor directory.

All engine queries consume the driver-generated synthetic tables
(TESTDATA.md). Scans are plain ``spark.read.parquet`` so Catalyst can
push filters/projections into the parquet reader (check
``PushedFilters`` / ``ReadSchema`` in ``.explain``), and partition
sizing is governed by ``spark.sql.files.maxPartitionBytes`` — the same
plan scales from sf0.001 to a 100 TB lake unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor —
#: at 100 TB the facts grow, these stay catalog-sized.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Lakehouse overrides: table name -> transaction-log table path
#: (sources/txlog.py). A registered table resolves through the tx
#: log's snapshot file list instead of a raw directory scan — at
#: 100 TB that replaces per-query object-store LISTing with an
#: O(log entries) driver-side fold, and brings logged-stats file
#: pruning, time travel, and ACID snapshot isolation to the same
#: catalog call sites (SCALE.md's stated manifest gap).
_TXLOG_TABLES: dict[str, str] = {}


def set_txlog_table(name: str, path: str) -> None:
    """Route ``table(spark, sf_dir, name)`` through the tx table at
    ``path`` (any sf_dir). Pass the override map through
    :func:`clear_txlog_table` to restore the raw-parquet scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _TXLOG_TABLES[name] = path


def clear_txlog_table(name: str) -> None:
    _TXLOG_TABLES.pop(name, None)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table from ``sf_dir`` (parquet, schema-on-read).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    rejects by default; it is read via the nanos-as-long legacy mode
    and floor-converted to a microsecond timestamp — the same
    truncation DuckDB applies, so oracle comparisons agree.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name in _TXLOG_TABLES:
        from dss_nlp_ingestion_spark.sources import txlog

        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        return txlog.read(spark, _TXLOG_TABLES[name])
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The generator has shipped `ts` as both TIMESTAMP(NANOS) and plain
    # timestamp[us] with isAdjustedToUTC=false; the latter would infer
    # as TIMESTAMP_NTZ (pyspark >= 3.4), which `unix_millis`/windowing
    # reject. Pin inference to TIMESTAMP so epoch math sees an instant
    # (session tz is UTC, so the wall clock IS the oracle's instant).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every table; also registers each as a temp view so the
    SQL surface (``spark.sql``) sees the same catalog the DataFrame
    API does."""
    out = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a CPU-bound stage across all cores when the upstream
    scan produced fewer splits than the cluster has slots (a small
    file arrives as one partition; 100 TB arrives as ~800k splits —
    this no-ops there). The round-robin shuffle of the *input* rows
    is cheap relative to per-row crypto/codec work downstream.

    The decision reads the planned physical plan and launches no Spark
    job. A plan holding an exchange (an ``AdaptiveSparkPlan`` root, or
    ``Exchange`` nodes when AQE is off) already reads a shuffle, whose
    width ``spark.sql.shuffle.partitions`` and AQE decide, so ``df``
    comes back unchanged: counting its partitions would execute every
    upstream shuffle stage (or broadcast) once for the count and again
    for the real query. Any other plan is scan-only, and counting its
    splits is driver-side file planning."""
    plan = df._jdf.queryExecution().executedPlan()
    if _holds_exchange(df.sparkSession, plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() < target:
        return df.repartition(target)
    return df


def _holds_exchange(spark: SparkSession, plan) -> bool:
    """Whether a physical plan reads a shuffle or broadcast: it is (or
    holds) an adaptive plan, which AQE only builds around exchanges and
    subqueries, or it holds an ``Exchange`` node."""
    from py4j.java_gateway import is_instance_of

    gateway = spark.sparkContext._gateway
    kinds = (
        "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec",
        "org.apache.spark.sql.execution.exchange.Exchange",
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        if any(is_instance_of(gateway, node, k) for k in kinds):
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False
