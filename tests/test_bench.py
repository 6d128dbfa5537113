"""``bench.py``'s per-query work counters.

Each timed row of a bench record carries the jobs, stages and tasks of
its Spark job group, read from ``sc.statusTracker()`` right after the
query (``bench.group_work``)."""

from __future__ import annotations

import bench


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
