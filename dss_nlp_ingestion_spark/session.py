"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-reproducibility (UTC session
timezone, ANSI off so behavior matches classic SQL semantics) and for
scale (AQE with skew-join handling and partition coalescing, Arrow for
any pandas-UDF stage). On a real cluster the same settings apply; only
``master`` changes.

Every Python worker of a session runs the engine's one worker site
hook (``worker_site/sitecustomize.py``): :func:`ship_package` appends
its directory to ``sc.environment["PYTHONPATH"]``, the environment
Spark hands each Python worker it starts. PySpark calls
``importlib.invalidate_caches()`` at the start of every Python task,
and on Python 3.10-3.12 that re-reads the directory of each zip on the
worker's path (``pyspark.zip``, the spark-core jar, py4j): 0.1-0.3 s of
CPU per task before it touches a row. The hook re-reads an archive
only when its stat key moved. On Python >= 3.13 the stdlib already
reloads lazily and the hook leaves zipimport alone. Because the hook
rides the session's environment, not the JVM's, a vanilla session
(``SparkSession.builder.getOrCreate()``) gets it too once a query has
gone through :func:`ship_package`, as ``__spark_entry__`` does.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # --- determinism / semantics ---
    "spark.sql.session.timeZone": "UTC",
    # --- memory: local-mode driver hosts all executor threads in one
    # JVM; the 1g default heap forces spills/GC on any persist or
    # wide shuffle. -Xmx is a cap, not a reservation — safe for
    # test sessions too. Only applies at JVM launch (getOrCreate on a
    # live session ignores it, same as any cluster). ---
    "spark.driver.memory": "48g",
    "spark.driver.maxResultSize": "4g",
    # --- adaptive execution: runtime re-plan, skew splitting, coalesce ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- broadcast threshold: dims (region/nation/universe) stay map-side ---
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- Arrow for pandas UDF / toPandas boundaries ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- scan granularity: 128 MiB splits a 100 TB table into ~800k tasks ---
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # --- parquet ---
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # timestamp[us] with isAdjustedToUTC=false must read as TIMESTAMP,
    # not TIMESTAMP_NTZ — epoch math (unix_millis, session_window) and
    # the UTC-pinned session make the two numerically identical while
    # keeping every chrono builtin applicable. Also set per-read in
    # catalog.table() for sessions not built by this factory.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


# Sessions (by applicationId) that already have the package zip and the
# site hook on their Python-worker path — done once per session.
_SHIPPED: set[str] = set()
_WORKER_SITE = str(Path(__file__).resolve().parent / "worker_site")


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Python workers resolve ``import dss_nlp_ingestion_spark`` through
    their own ``sys.path``, which does NOT inherit the driver's
    ``sys.path`` inserts — only its cwd. Any ``mapInPandas``/pandas-UDF
    stage therefore breaks with ModuleNotFoundError when the driver
    runs from a different working directory. Zipping the package and
    registering it with ``addPyFile`` makes the session location-
    independent — exactly what ``spark-submit --py-files`` does on a
    real cluster.

    The zip is written for each new session, so a file that an earlier
    process with the same pid left is never shipped, and it is removed
    when the process exits. It is not removed right after
    ``addPyFile``: local-mode executors fetch it from this path while
    the session lives.

    It also appends the worker site hook's directory and the zip to the
    session's worker ``PYTHONPATH`` (``sc.environment``), keeping any
    value already there. Spark starts a worker pool per environment, so
    both reach every Python process started after this call, including
    the streaming data-source runner, which imports the pickled source
    without the ``addPyFile`` includes."""
    from dss_nlp_ingestion_spark.pbcompat import add_pythonpath

    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"dss_nlp_ingestion_spark-{os.getpid()}.zip"
    tmp = zip_path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
    tmp.replace(zip_path)
    atexit.register(zip_path.unlink, missing_ok=True)
    sc.addPyFile(str(zip_path))
    for entry in (_WORKER_SITE, str(zip_path)):
        add_pythonpath(entry, sc.environment)
    _SHIPPED.add(app_id)


def get_spark(
    app_name: str = "dss-nlp-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset, so
    tests and bench share one code path; on a cluster pass ``None`` and
    let spark-submit decide.
    """
    # The JVM's PYTHONPATH is fixed when it launches, so wire a
    # protobuf runtime first if one is on disk (Spark-4 typed-state
    # streaming needs it in every Python worker).
    from dss_nlp_ingestion_spark.pbcompat import ensure_protobuf

    ensure_protobuf()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def release_cached(spark: SparkSession) -> None:
    """Drop every cached DataFrame and persisted/localCheckpointed RDD
    in the session. Sequential multi-query harnesses (bench, the
    driver's correctness sweep) need this between queries: iterative
    operators persist working sets for the lifetime of their lazy
    result, and localCheckpoint blocks survive until the JVM garbage-
    collects the RDD reference — across a 160-query sweep the leaked
    blocks accumulate into executor-memory pressure that shows up as
    multi-x GC slowdowns on late queries. Only call BETWEEN queries:
    unpersisting a localCheckpointed RDD that a still-live plan needs
    would make that plan unrecomputable."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        try:
            jrdd.unpersist(False)
        except Exception:  # noqa: BLE001 — already-released is fine
            pass
