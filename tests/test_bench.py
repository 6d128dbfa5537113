"""``bench.py``'s per-query work counters.

Each timed row of a bench record carries the jobs, stages and tasks of
its Spark job group, read from ``sc.statusTracker()`` right after the
query (``bench.group_work``), and the code bodies compiled for it
(``bench.compile_count``)."""

from __future__ import annotations

from pyspark.sql import functions as F

import bench
from dss_nlp_ingestion_spark.session import CODEGEN_CACHE_ENTRIES


def test_group_work_counts_jobs_stages_and_tasks(spark):
    """A 4-partition ``range().count()`` runs a 4-task partial
    aggregation and a 1-task final one (two jobs under AQE); the RDD
    count in another group is not mixed in, and the reused shuffle's
    skipped stage is not counted."""
    sc = spark.sparkContext
    sc.setJobGroup("test_bench:range", "range count")
    spark.range(0, 100, 1, 4).count()
    sc.setJobGroup("test_bench:rdd", "rdd count")
    sc.parallelize(range(8), 4).count()
    sc.setLocalProperty("spark.jobGroup.id", None)

    work = bench.group_work(spark, "test_bench:range")
    assert work["jobs"] >= 1
    assert (work["stages"], work["tasks"]) == (2, 5), work
    assert bench.group_work(spark, "test_bench:rdd") == {
        "jobs": 1,
        "stages": 1,
        "tasks": 4,
    }
    assert bench.group_work(spark, "test_bench:none") == {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
    }


def test_compile_count_counts_a_new_plan_shape_once(spark):
    """A plan shape the JVM has not compiled yet costs at least one
    compilation; running the same plan again is served from the
    generated-code cache and costs none."""

    def compiles() -> int:
        c0 = bench.compile_count(spark)
        spark.range(0, 16, 1, 2).select((F.col("id") * 7919 + 104729).alias("x")).collect()
        return bench.compile_count(spark) - c0

    assert compiles() >= 1
    assert compiles() == 0


def test_codegen_cache_holds_working_set(spark):
    """``session.DEFAULT_CONF`` sizes the generated-code cache above one
    operation's working set. 150 plans that differ only by an inlined
    literal compile two bodies each, 300 in all: more than Spark's
    default of 100 entries, whose LRU would evict each body before the
    second pass reached it and compile all 300 again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def one_pass() -> int:
        c0 = bench.compile_count(spark)
        for i in range(150):
            spark.range(8).select(F.col("id") * F.lit(1000 + i)).collect()
        return bench.compile_count(spark) - c0

    assert one_pass() > 100
    assert one_pass() == 0
