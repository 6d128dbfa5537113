"""Store maintenance on the tx-log table: retention delete (§2.12 ILM
delete-phase analog), compaction and additive schema evolution."""

from __future__ import annotations

import datetime

from dss_nlp_ingestion_spark.sources import txlog


def test_retention_delete(spark, tmp_path):
    path = str(tmp_path / "retstore")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", "s1", base),
        ("b", "s1", base + datetime.timedelta(days=100)),
        ("c", "s2", base + datetime.timedelta(days=200)),
    ]
    df = spark.createDataFrame(rows, ["unique_identifier", "source", "time"])
    txlog.create_table(df, path)

    expired = "time < TIMESTAMP '2024-04-01 00:00:00'"
    res = txlog.delete_from_table(spark, path, expired)
    assert res["files_touched"] >= 1
    remaining = txlog.read(spark, path).collect()
    assert sorted(r.unique_identifier for r in remaining) == ["b", "c"]  # only 'a' expired
    assert {r.source for r in remaining} == {"s1", "s2"}
    # Idempotent when nothing is expired: no file touched, no commit.
    again = txlog.delete_from_table(spark, path, expired)
    assert again["files_touched"] == 0 and again["version"] == res["version"]


def test_compact_store(spark, tmp_path):
    path = str(tmp_path / "compactstore")
    # Three small commits -> many small files.
    for batch in range(3):
        df = spark.createDataFrame(
            [(f"id{batch}-{i}", "s1") for i in range(10)],
            ["unique_identifier", "source"],
        ).repartition(2)
        if batch == 0:
            txlog.create_table(df, path)
        else:
            txlog.append(df, path)
    before = len(txlog.snapshot_files(path))
    txlog.compact(spark, path, target_files=1)
    assert len(txlog.snapshot_files(path)) == 1 < before
    assert txlog.read(spark, path).count() == 30


def test_store_schema_evolution_additive(spark, tmp_path):
    """Append-only stores gain columns over time: old files lack the
    new column, and the snapshot read returns the superset with NULLs
    for pre-evolution rows (the additive half of schema evolution;
    insert-if-absent keeps working on the shared key)."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [("a", 1, "s1")], ["unique_identifier", "v", "source"]
    )
    txlog.create_table(v1, path)
    v2 = spark.createDataFrame(
        [("b", 2, "s1", "en")], ["unique_identifier", "v", "source", "lang"]
    )
    txlog.append(v2, path)

    out = txlog.read(spark, path)
    assert set(out.columns) == {"unique_identifier", "v", "source", "lang"}
    rows = {r.unique_identifier: r for r in out.collect()}
    assert rows["a"].lang is None and rows["b"].lang == "en"

    # Idempotence still holds across the evolution boundary.
    res = txlog.merge_into_table(
        spark, path, v2, ["unique_identifier"], insert_only=True
    )
    assert res["rows_written"] == 0
