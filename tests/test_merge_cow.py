"""Copy-on-write MERGE into the tx-log table: only the data files that
hold matched keys are rewritten (file-level proof), untouched files
are byte-identical and stay live, and a replayed upsert leaves the
same rows."""

from __future__ import annotations

import hashlib
import os

from dss_nlp_ingestion_spark.sources import txlog


def _files_state(path: str) -> dict[str, tuple[float, str]]:
    out = {}
    for p in txlog.snapshot_files(path):
        with open(p, "rb") as fh:
            out[p] = (os.path.getmtime(p), hashlib.sha256(fh.read()).hexdigest())
    return out


def _mk_table(spark, tmp_path) -> str:
    """One commit per ``part`` value, so each data file holds one part
    and the files stand in for the partitions of a partitioned store."""
    path = str(tmp_path / "store")
    parts = {
        "a": [(1, "a", 10.0), (2, "a", 20.0)],
        "b": [(3, "b", 30.0)],
        "c": [(4, "c", 40.0)],
    }
    for i, rows in enumerate(parts.values()):
        df = spark.createDataFrame(rows, "id long, part string, val double").coalesce(1)
        if i == 0:
            txlog.create_table(df, path, stats_cols=["id"])
        else:
            txlog.append(df, path, stats_cols=["id"])
    return path


def test_cow_merge_rewrites_only_touched_partitions(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    before = _files_state(path)
    by_part = {
        r["part"]: r["f"]
        for r in txlog.read(spark, path)
        .selectExpr("part", "input_file_name() AS f")
        .distinct()
        .collect()
    }

    delta = spark.createDataFrame(
        [(2, "a", 21.0), (9, "a", 90.0)], "id long, part string, val double"
    )
    res = txlog.merge_into_table(spark, path, delta, ["id"], stats_cols=["id"])
    assert res["files_touched"] == 1

    after = _files_state(path)
    touched = [p for p in before if by_part["a"].endswith(p)]
    assert len(touched) == 1
    for p in set(before) - set(touched):
        # Same file, same bytes, same mtime — never opened for write.
        assert after[p] == before[p], p
    # The touched file really was replaced.
    assert touched[0] not in after

    rows = {r.id: r for r in txlog.read(spark, path).collect()}
    assert rows[2].val == 21.0 and rows[9].val == 90.0  # update + insert
    assert rows[1].val == 10.0 and rows[3].val == 30.0 and rows[4].val == 40.0
    assert len(rows) == 5


def test_cow_merge_replay_is_idempotent(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    delta = spark.createDataFrame([(2, "a", 21.0)], "id long, part string, val double")
    txlog.merge_into_table(spark, path, delta, ["id"])
    first = sorted(map(tuple, txlog.read(spark, path).collect()))
    txlog.merge_into_table(spark, path, delta, ["id"])
    assert sorted(map(tuple, txlog.read(spark, path).collect())) == first
