"""format("txlog") Python Data Source: batch snapshot/time-travel
reads and the versions-as-offsets streaming CDC feed."""

from __future__ import annotations

import tempfile

import pytest

from dss_nlp_ingestion_spark.sources import txlog
from dss_nlp_ingestion_spark.sources.txlog_datasource import TxLogDataSource


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _registered(spark):
    spark.dataSource.register(TxLogDataSource)
    return spark


def test_batch_read_matches_library_read(spark):
    """format("txlog") reads what txlog.read reads: an appended table,
    a table after rename_column, and a version below the vacuum
    horizon (both refuse it with the same message)."""
    _registered(spark)
    appended = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), appended)
    txlog.append(_tbl(spark, [(3, "c")]), appended)
    renamed = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), renamed)
    txlog.rename_column(renamed, "v", "label")
    txlog.append(_tbl(spark, [(2, "b")]).toDF("k", "label"), renamed)
    vacuumed = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), vacuumed)
    txlog.compact(spark, vacuumed)
    txlog.vacuum_retain(vacuumed, 1)
    for path, version in ((appended, None), (renamed, None), (vacuumed, None)):
        want = txlog.read(spark, path, version=version)
        got = spark.read.format("txlog").option("path", path).load()
        assert got.schema == want.schema, path
        assert sorted(got.collect()) == sorted(want.collect()), path
    assert spark.read.format("txlog").option("path", renamed).load().columns == [
        "k", "label"
    ]
    with pytest.raises(ValueError, match="below the vacuum horizon"):
        txlog.read(spark, vacuumed, version=0)
    with pytest.raises(Exception, match="below the vacuum horizon"):
        spark.read.format("txlog").option("path", vacuumed).option(
            "version", "0"
        ).load().collect()


def test_batch_time_travel_option(spark):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    v0 = (
        spark.read.format("txlog")
        .option("path", path)
        .option("version", "0")
        .load()
    )
    assert [r["k"] for r in v0.collect()] == [1]


def test_stream_reads_commits_exactly_once(spark, tmp_path):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    ckpt = str(tmp_path / "ckpt")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)

    def drain():
        got: list[tuple] = []

        def sink(batch_df, _bid):
            got.extend((r["k"], r["v"]) for r in batch_df.collect())

        q = (
            spark.readStream.format("txlog")
            .option("path", path)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    assert drain() == [(1, "a"), (2, "b")]
    # new commits arrive as a NEW batch only (offset checkpointed)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    txlog.append(_tbl(spark, [(4, "d")]), path)
    assert drain() == [(3, "c"), (4, "d")]
    # no new commits -> empty increment
    assert drain() == []


def test_writer_append_and_overwrite_modes(spark):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    df1 = _tbl(spark, [(1, "a"), (2, "b")])
    df1.write.format("txlog").mode("append").option("path", path).save()
    _tbl(spark, [(3, "c")]).write.format("txlog").mode("append").option(
        "path", path
    ).save()
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 2, 3]
    ops = [h["op"] for h in txlog.history(path)]
    assert ops == ["append", "append"]
    # overwrite replaces the snapshot atomically; old versions travel
    _tbl(spark, [(9, "z")]).write.format("txlog").mode("overwrite").option(
        "path", path
    ).save()
    assert [r["k"] for r in txlog.read(spark, path).collect()] == [9]
    assert sorted(
        r["k"] for r in txlog.read(spark, path, version=1).collect()
    ) == [1, 2, 3]


def test_writer_commit_references_only_reported_files(spark):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    _tbl(spark, [(i, "x") for i in range(100)]).repartition(4).write.format(
        "txlog"
    ).mode("append").option("path", path).save()
    h = txlog.history(path)
    assert h[0]["n_add"] == 4  # one staged file per task, all reported
    assert txlog.snapshot_row_count(path) == 100
    assert txlog.vacuum(path) == []  # no unreferenced leftovers


def test_stream_startingversion_skips_earlier_commits(spark, tmp_path):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    got: list[int] = []

    def sink(batch_df, _bid):
        got.extend(r["k"] for r in batch_df.collect())

    q = (
        spark.readStream.format("txlog")
        .option("path", path)
        .option("startingversion", "1")  # deliver commits AFTER v1
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [3]


def test_stream_does_not_replay_rows_across_compaction(spark, tmp_path):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    ckpt = str(tmp_path / "ck2")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)

    def drain():
        got: list[tuple] = []

        def sink(batch_df, _bid):
            got.extend((r["k"], r["v"]) for r in batch_df.collect())

        q = (
            spark.readStream.format("txlog")
            .option("path", path)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    assert drain() == [(1, "a"), (2, "b")]
    # a compaction plus one real append inside the offset window:
    # ONLY the appended row arrives — compaction-copied rows do not
    txlog.compact(spark, path)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    assert drain() == [(3, "c")]
    # a delete-rewrite emits nothing into the append feed
    import os as _os

    live = txlog.snapshot_files(path)
    rel = [_os.path.relpath(f, _os.path.join(path, "data")) for f in live]
    head = [h["version"] for h in txlog.history(path)][-1]
    txlog.rewrite(
        txlog.read(spark, path).filter("k <> 1"), path, rel,
        expect_version=head, op="delete",
    )
    assert drain() == []


def test_batch_read_merges_evolved_schemas(spark):
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), path)  # (k, v)
    txlog.append(
        spark.createDataFrame([(2, "b", "X")], "k long, v string, extra string"),
        path,
    )
    got = spark.read.format("txlog").option("path", path).load()
    assert sorted(got.columns) == ["extra", "k", "v"]
    rows = {r["k"]: (r["v"], r["extra"]) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", "X")}


def test_stream_writer_appends_exactly_once_across_replay(spark, tmp_path):
    """writeStream.format('txlog'): micro-batches land through the
    two-phase commit with the batchId as the idempotent-writer epoch.
    A full replay from a fresh checkpoint re-stages files but
    commit() skips every already-committed epoch — zero duplicate
    rows, and the skipped batches' staged files stay unreferenced
    (vacuumable orphans, invisible to readers)."""
    _registered(spark)
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    ).repartition(2)
    df.write.parquet(src)

    def drain(ckpt: str) -> None:
        q = (
            spark.readStream.schema(df.schema)
            .format("parquet")
            .load(src)
            .writeStream.format("txlog")
            .option("path", table)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("appid", "sw1")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("c1")
    rows1 = sorted(r["k"] for r in txlog.read(spark, table).collect())
    assert rows1 == sorted(range(20))
    assert txlog.last_committed_txn(table, "sw1") >= 0
    versions_before = len(txlog.history(table))
    drain("c2")  # full replay from a fresh checkpoint
    assert len(txlog.history(table)) == versions_before  # nothing committed
    rows2 = sorted(r["k"] for r in txlog.read(spark, table).collect())
    assert rows2 == rows1
    # replayed batches left only unreferenced staged files: vacuum
    # (no-active-writers mode) reclaims them and the table still
    # reads identically
    txlog.vacuum(table, grace_seconds=0)
    assert sorted(r["k"] for r in txlog.read(spark, table).collect()) == rows1


def test_writers_fold_renamed_columns_to_physical(spark, tmp_path):
    """After rename v->label, rows written as (k, label) through the
    batch and the streaming format("txlog") writers land in the
    physical column, so the table still reads as two columns."""
    _registered(spark)
    path = tempfile.mkdtemp(prefix="dss_txds_") + "/t"
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.rename_column(path, "v", "label")
    spark.createDataFrame([(2, "b")], "k long, label string").write.format(
        "txlog"
    ).mode("append").option("path", path).save()
    got = txlog.read(spark, path)
    assert got.columns == ["k", "label"]
    assert {tuple(r) for r in got.collect()} == {(1, "a"), (2, "b")}
    src = str(tmp_path / "src")
    spark.createDataFrame([(3, "c")], "k long, label string").write.parquet(src)
    q = (
        spark.readStream.schema("k long, label string")
        .format("parquet")
        .load(src)
        .writeStream.format("txlog")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = txlog.read(spark, path)
    assert got.columns == ["k", "label"]
    assert {tuple(r) for r in got.collect()} == {(1, "a"), (2, "b"), (3, "c")}
    # the stream reader projects the same logical columns
    rows: list[tuple] = []
    q = (
        spark.readStream.format("txlog")
        .option("path", path)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: rows.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck_read"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert set(rows) == {(1, "a"), (2, "b"), (3, "c")}
