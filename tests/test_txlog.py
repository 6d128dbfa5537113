"""Transaction-log table format (sources/txlog.py): commit atomicity,
optimistic retry, rewrite conflicts, time travel, vacuum safety."""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.sources import txlog


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_create_append_read_roundtrip(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    v = txlog.append(_tbl(spark, [(3, "c")]), path)
    assert v == 1
    got = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    ops = [h["op"] for h in txlog.history(path)]
    assert ops == ["create", "append"]


def test_time_travel_reads_old_snapshot(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    v0 = sorted(r["k"] for r in txlog.read(spark, path, version=0).collect())
    v1 = sorted(r["k"] for r in txlog.read(spark, path, version=1).collect())
    assert v0 == [1] and v1 == [1, 2]
    with pytest.raises(ValueError):
        txlog.read(spark, path, version=7)


def test_staged_files_invisible_until_commit(spark):
    """A writer that crashes after staging data but before the log
    commit leaves the table unchanged — readers fold the log, not
    the directory."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    # stage without committing (the first half of append)
    txlog._write_data_files(_tbl(spark, [(99, "zz")]), path)
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1]
    # The default grace window protects JUST-staged files — a
    # concurrent writer stages before it commits, so an ungraced
    # vacuum racing it would tear the winner's table (r5 advisor).
    assert txlog.vacuum(path) == []
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1]
    # grace_seconds=0 is the explicit no-active-writers mode: it
    # removes exactly the orphaned staging files.
    removed = txlog.vacuum(path, grace_seconds=0)
    assert removed and all(r.endswith(".parquet") for r in removed)
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1]
    assert txlog.vacuum(path, grace_seconds=0) == []  # nothing left


def test_append_retries_past_commit_race(spark):
    """O_EXCL arbitration: if another writer claims the next version
    first, the append retries and lands one version later — no data
    lost, no torn log."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    # simulate a racing winner for version 1
    assert txlog._try_commit(path, 1, {"op": "append", "add": [], "remove": []})
    v = txlog.append(_tbl(spark, [(2, "b")]), path)
    assert v == 2
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]


def test_rewrite_conflict_on_stale_base(spark):
    """Two compactors race: the loser's base files were removed by
    the winner's commit -> TxConflictError, table stays consistent."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    base = [
        os.path.relpath(f, os.path.join(path, "data"))
        for f in txlog.snapshot_files(path)
    ]
    txlog.rewrite(_tbl(spark, [(1, "a2"), (2, "b2")]), path, base, expect_version=0)
    with pytest.raises(txlog.TxConflictError):
        txlog.rewrite(
            _tbl(spark, [(1, "a3"), (2, "b3")]), path, base, expect_version=0
        )
    got = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    assert got == [(1, "a2"), (2, "b2")]


def test_rewrite_commutes_with_concurrent_append(spark):
    """A rewrite whose base files are untouched by an interleaved
    append commits on top of it (appends add disjoint files)."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    base = [
        os.path.relpath(f, os.path.join(path, "data"))
        for f in txlog.snapshot_files(path)
    ]
    txlog.append(_tbl(spark, [(2, "b")]), path)  # concurrent append
    v = txlog.rewrite(_tbl(spark, [(1, "a2")]), path, base, expect_version=0)
    assert v == 2
    got = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    assert got == [(1, "a2"), (2, "b")]
    # time travel still sees every committed state
    assert sorted(r["k"] for r in txlog.read(spark, path, version=1).collect()) == [1, 2]


def test_compact_merges_small_files_preserving_content(spark):
    """OPTIMIZE: many small appended files collapse into one data
    file in a single atomic commit; content is unchanged and time
    travel to the pre-compaction snapshot still works."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    for i in range(2, 6):
        txlog.append(_tbl(spark, [(i, f"v{i}")]), path)
    assert len(txlog.snapshot_files(path)) >= 5
    v = txlog.compact(spark, path, target_files=1)
    assert len(txlog.snapshot_files(path)) == 1
    got = sorted((r["k"], r["v"]) for r in txlog.read(spark, path).collect())
    assert got == [(1, "a"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5")]
    # pre-compaction snapshot unchanged
    assert sorted(r["k"] for r in txlog.read(spark, path, version=v - 1).collect()) == [
        1,
        2,
        3,
        4,
        5,
    ]
    assert txlog.history(path)[-1]["op"] == "compact"


def test_compact_retries_past_concurrent_append(spark):
    """An append racing the compaction commits disjoint files, so the
    compaction lands on top of it; the appended row is NOT folded
    into the compacted files but stays visible in the snapshot."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    # interleave: stage an append AFTER compact reads its base
    base_head = (txlog._versions(path))[-1]
    files = txlog._write_data_files(_tbl(spark, [(3, "c")]), path)
    assert txlog._try_commit(
        path, base_head + 1, {"op": "append", "add": files, "remove": []}
    )
    txlog.compact(spark, path, target_files=1)
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 2, 3]


def test_schema_evolution_reads_nulls_for_old_rows(spark):
    """Additive schema change: an append with an extra column merges
    at read time — old rows surface NULL for the new column, and a
    pre-evolution time travel still reads the narrow schema."""
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    wide = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    txlog.append(wide, path)
    df = txlog.read(spark, path)
    assert set(df.columns) == {"k", "v", "score"}
    got = sorted((r["k"], r["v"], r["score"]) for r in df.collect())
    assert got == [(1, "a", None), (2, "b", 9.5)]
    assert set(txlog.read(spark, path, version=0).columns) == {"k", "v"}
    # compaction materializes the widest schema into the new files
    txlog.compact(spark, path, target_files=1)
    got2 = sorted(
        (r["k"], r["v"], r["score"])
        for r in txlog.read(spark, path, merge_schema=False).collect()
    )
    assert got2 == got


def _evolved_table(spark) -> str:
    """Two additive evolutions, each adding a different column, so the
    merged field order depends on the order the footers are folded."""
    path = tempfile.mkdtemp(prefix="dss_txevo_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    txlog.append(
        spark.createDataFrame([(3, "c", 9.5)], "k long, v string, score double"), path
    )
    txlog.append(spark.createDataFrame([(4, "n")], "k long, note string"), path)
    return path


def _renamed(spark) -> str:
    path = _evolved_table(spark)
    txlog.rename_column(path, "v", "label")
    return path


def _compacted(spark) -> str:
    path = _evolved_table(spark)
    txlog.compact(spark, path, target_files=1)
    return path


def _cloned(spark) -> str:
    dst = tempfile.mkdtemp(prefix="dss_txevo_clone_") + "/c"
    txlog.clone_table(_evolved_table(spark), dst)
    txlog.append(spark.createDataFrame([(5, 0.5)], "k long, score double"), dst)
    return dst


@pytest.mark.parametrize(
    "build",
    [_evolved_table, _renamed, _compacted, _cloned],
    ids=["additive", "rename_column", "compact", "clone_table"],
)
def test_read_schema_matches_spark_merge_schema(spark, build):
    """txlog.read takes its schema from the footers on the driver; it
    must be the schema Spark's own mergeSchema inference gives the
    snapshot files (field order, types, nullability), under the
    logical names, and read the same rows."""
    path = build(spark)
    inferred = spark.read.option("mergeSchema", "true").parquet(
        *txlog.snapshot_files(path)
    )
    inferred = inferred.toDF(
        *txlog._logical_names(inferred.columns, txlog._fold(path).renames)
    )
    got = txlog.read(spark, path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_read_conflicting_column_types_raises(spark):
    path = tempfile.mkdtemp(prefix="dss_txconflict_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(spark.createDataFrame([(2, 7)], "k long, v long"), path)
    with pytest.raises(Exception, match="CANNOT_MERGE"):
        txlog.read(spark, path)


def test_net_changes_append_only_is_pure_inserts(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    txlog.append(_tbl(spark, [(3, "c"), (3, "c")]), path)
    feed = txlog.net_changes(spark, path, v_from=0).collect()
    assert [(r["change"], r["k"], r["v"], r["n"]) for r in feed] == [
        ("insert", 3, "c", 2)
    ]


def test_net_changes_compaction_cancels_to_empty_feed(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    txlog.compact(spark, path)
    # files changed (old removed, compacted added) but every row was
    # merely copied -> the NET feed is empty
    assert txlog.net_changes(spark, path, v_from=1).count() == 0


def test_net_changes_rewrite_delete_yields_deletes(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    live = txlog.snapshot_files(path, 0)
    rel = [os.path.relpath(f, os.path.join(path, "data")) for f in live]
    kept = txlog.read(spark, path, version=0).filter("k <> 2")
    txlog.rewrite(kept, path, rel, expect_version=0, op="delete")
    feed = txlog.net_changes(spark, path, v_from=0).collect()
    assert [(r["change"], r["k"], r["n"]) for r in feed] == [("delete", 2, 1)]


def test_net_changes_no_commits_raises(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    with pytest.raises(ValueError):
        txlog.net_changes(spark, path, v_from=0, v_to=0)


def test_snapshot_row_count_is_metadata_exact(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(i, "x") for i in range(10)]), path)
    txlog.append(_tbl(spark, [(i, "y") for i in range(7)]), path)
    assert txlog.snapshot_row_count(path, version=0) == 10
    assert txlog.snapshot_row_count(path) == 17
    # stays correct across a compaction (footers of the new files)
    txlog.compact(spark, path)
    assert txlog.snapshot_row_count(path) == 17


def test_stats_pruning_skips_files_and_loses_nothing(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    ).repartitionByRange(5, "k")
    txlog.create_table(df, path, stats_cols=["k"])
    files, skipped = txlog.plan_pruned_files(path, "k", lo=10, hi=15)
    assert skipped >= 3 and len(files) + skipped == 5
    got = sorted(
        r["k"] for r in txlog.read_pruned(spark, path, "k", 10, 15).collect()
    )
    assert got == list(range(10, 16))


def test_stats_pruning_never_false_negative_without_stats(spark):
    # files committed WITHOUT stats must always be scanned
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)  # no stats
    txlog.append(
        spark.createDataFrame([(100, "z")], "k long, v string"),
        path,
        stats_cols=["k"],
    )
    files, skipped = txlog.plan_pruned_files(path, "k", lo=0, hi=2)
    # stats file (k=100) pruned; statless file kept
    assert skipped == 1
    got = [r["k"] for r in txlog.read_pruned(spark, path, "k", 0, 2).collect()]
    assert got == [1]


def test_stats_survive_into_snapshot_view_across_appends(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path, stats_cols=["k"])
    txlog.append(_tbl(spark, [(50, "b")]), path, stats_cols=["k"])
    st = txlog.snapshot_file_stats(path)
    mins = sorted(v["k"][0] for v in st.values())
    assert mins == [1, 50]


def test_read_as_of_timestamp(spark):
    import time

    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    t_between = time.time()
    time.sleep(0.05)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    assert txlog.version_at(path, t_between) == 0
    got = sorted(r["k"] for r in txlog.read_as_of(spark, path, t_between).collect())
    assert got == [1]
    assert txlog.version_at(path, time.time()) == 1
    with pytest.raises(ValueError):
        txlog.version_at(path, 0.0)


def test_append_checked_refuses_and_stages_nothing(spark):
    import os as _os

    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    with pytest.raises(txlog.TxCheckViolation):
        txlog.append_checked(
            _tbl(spark, [(2, "b"), (-7, "bad")]), path, check="k >= 0"
        )
    # nothing committed AND nothing staged (no orphan files to vacuum)
    assert [h["op"] for h in txlog.history(path)] == ["create"]
    assert txlog.vacuum(path) == []
    # clean rows commit fine through the same gate
    v = txlog.append_checked(_tbl(spark, [(2, "b")]), path, check="k >= 0")
    assert v == 1 and txlog.snapshot_row_count(path) == 2


def test_optimize_zorder_prunes_on_both_dims(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    grid = spark.createDataFrame(
        [(x, y, x * 100 + y) for x in range(32) for y in range(32)],
        "x long, y long, payload long",
    )
    txlog.create_table(grid.repartition(8), path)  # unclustered
    v = txlog.optimize_zorder(spark, path, ["x", "y"], target_files=8)
    assert v == 1
    # BOTH dimensions now skip files from the log's stats
    fx, skipx = txlog.plan_pruned_files(path, "x", lo=0, hi=3)
    fy, skipy = txlog.plan_pruned_files(path, "y", lo=0, hi=3)
    assert skipx >= 4 and skipy >= 4
    # semantics intact: pruned read == plain filter, rows and values
    got = sorted(
        (r["x"], r["y"]) for r in txlog.read_pruned(spark, path, "x", 0, 3).collect()
    )
    assert got == sorted((x, y) for x in range(4) for y in range(32))
    # time travel to the pre-optimize layout still works
    assert txlog.read(spark, path, version=0).count() == 1024


def test_vacuum_retain_reclaims_only_prehorizon_files(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)          # v0
    txlog.append(_tbl(spark, [(2, "b")]), path)                # v1
    txlog.compact(spark, path)                                  # v2 rewrites all
    txlog.append(_tbl(spark, [(3, "c")]), path)                # v3
    res = txlog.vacuum_retain(path, horizon_version=2)
    # v0/v1's original files are reclaimable (v2 replaced them)
    assert len(res["removed"]) >= 2
    # snapshots at and after the horizon read fine, bit-identical
    assert sorted(r["k"] for r in txlog.read(spark, path, version=2).collect()) == [1, 2]
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2, 3]
    # time travel BELOW the horizon fails loudly, not with a torn read
    with pytest.raises(ValueError, match="vacuum horizon"):
        txlog.read(spark, path, version=0)
    # history (the log) remains readable for audit
    assert [h["op"] for h in txlog.history(path)] == [
        "create", "append", "compact", "append",
    ]


def test_vacuum_retain_noop_when_nothing_prehorizon(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)  # pure appends: all live
    res = txlog.vacuum_retain(path, horizon_version=1)
    assert res["removed"] == []
    assert sorted(r["k"] for r in txlog.read(spark, path, version=1).collect()) == [1, 2]


def test_concurrent_appends_all_serialize_without_loss(spark):
    from concurrent.futures import ThreadPoolExecutor

    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(0, "seed")]), path)
    dfs = [_tbl(spark, [(i, f"w{i}")]) for i in range(1, 9)]

    def commit(df):
        return txlog.append(df, path, max_retries=50)

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = sorted(ex.map(commit, dfs))
    # every writer won a distinct version; nothing lost, nothing torn
    assert versions == list(range(1, 9))
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == list(range(9))
    assert txlog.snapshot_row_count(path) == 9


def test_tags_resolve_and_read(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.tag(path, "prod")  # head = v0
    txlog.append(_tbl(spark, [(2, "b")]), path)
    assert [r["k"] for r in txlog.read_tag(spark, path, "prod").collect()] == [1]
    txlog.tag(path, "prod", version=1)  # promote
    assert sorted(
        r["k"] for r in txlog.read_tag(spark, path, "prod").collect()
    ) == [1, 2]
    with pytest.raises(ValueError):
        txlog.resolve_tag(path, "nope")
    with pytest.raises(ValueError):
        txlog.tag(path, "bad/name")


def test_snapshot_minmax_from_stats_and_footers(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(
        _tbl(spark, [(5, "a"), (9, "b")]), path, stats_cols=["k"]
    )
    txlog.append(_tbl(spark, [(2, "c")]), path)  # NO logged stats
    lo, hi = txlog.snapshot_col_minmax(path, "k")  # footer fallback works
    assert (lo, hi) == (2, 9)


def test_register_catalog_sql_front_door(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    txlog.register_catalog(spark, {"tx_kv": path})
    got = spark.sql("SELECT count(*) AS n FROM tx_kv WHERE k > 1").collect()
    assert got[0]["n"] == 1


def test_net_changes_across_schema_evolution_and_compaction(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)          # (k,v)
    txlog.append(
        spark.createDataFrame([(3, "c", "X")], "k long, v string, extra string"),
        path,
    )                                                                    # widened
    txlog.compact(spark, path)  # rewrite mixes both schemas into one
    # copied rows cancel THROUGH the schema merge; feed stays empty
    assert txlog.net_changes(spark, path, v_from=1).count() == 0
    # and from v0 the evolved append is the only net insert
    feed = txlog.net_changes(spark, path, v_from=0).collect()
    assert [(r["change"], r["k"], r["v"], r["extra"], r["n"]) for r in feed] == [
        ("insert", 3, "c", "X", 1)
    ]


def test_vacuum_retain_spares_staged_uncommitted_files(spark):
    import os as _os

    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.compact(spark, path)  # makes v0's file reclaimable
    # simulate an in-flight writer: staged data, no commit yet
    staged_dir = _os.path.join(path, "data", "inflight0001")
    _os.makedirs(staged_dir)
    _tbl(spark, [(9, "z")]).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(staged_dir, "stage")
    )
    staged = [
        _os.path.join(dp, n)
        for dp, _d, ns in _os.walk(staged_dir)
        for n in ns
        if n.endswith(".parquet")
    ]
    assert staged
    res = txlog.vacuum_retain(path, horizon_version=1)
    assert res["removed"]  # the replaced v0 file went away
    for f in staged:       # the in-flight writer's files did NOT
        assert _os.path.exists(f)


def test_vacuum_retain_reports_effective_horizon(spark):
    path = tempfile.mkdtemp(prefix="dss_tx_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    assert txlog.vacuum_retain(path, 2)["horizon"] == 2
    # lowering the horizon is a no-op; the report says what's enforced
    assert txlog.vacuum_retain(path, 1)["horizon"] == 2


def _orders_tbl(spark, n=40, files=4):
    rows = [(i, f"c{i % 7}", float(i) * 2.0) for i in range(n)]
    return (
        spark.createDataFrame(rows, "k long, c string, p double")
        .repartitionByRange(files, "k")
    )


def test_merge_into_table_upserts_and_inserts(spark):
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark), path, stats_cols=["k"])
    src = spark.createDataFrame(
        [(3, "upd", 999.0), (100, "new", 1.0)], "k long, c string, p double"
    )
    res = txlog.merge_into_table(spark, path, src, ["k"])
    got = {r["k"]: (r["c"], r["p"]) for r in txlog.read(spark, path).collect()}
    assert len(got) == 41
    assert got[3] == ("upd", 999.0)      # WHEN MATCHED UPDATE SET *
    assert got[100] == ("new", 1.0)      # WHEN NOT MATCHED INSERT *
    assert got[4] == ("c4", 8.0)         # untouched row intact
    assert res["files_touched"] >= 1
    assert txlog.history(path)[-1]["op"] == "merge"


def test_merge_into_table_keeps_caller_cache(spark):
    """A source the caller persisted is still cached after the merge;
    a source the merge cached itself is released."""
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark), path, stats_cols=["k"])
    cached = spark.createDataFrame(
        [(3, "upd", 999.0)], "k long, c string, p double"
    ).persist()
    plain = spark.createDataFrame([(4, "upd", 1.0)], "k long, c string, p double")
    try:
        txlog.merge_into_table(spark, path, cached, ["k"])
        txlog.merge_into_table(spark, path, plain, ["k"])
        assert cached.is_cached and cached.storageLevel.useMemory
        assert not plain.is_cached
    finally:
        cached.unpersist()


def test_merge_into_table_rewrites_only_matching_files(spark):
    """Files whose key range can't match the source are neither
    scanned for the COW join nor rewritten — their physical files
    survive into the post-merge snapshot unchanged."""
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark, n=40, files=4), path, stats_cols=["k"])
    before = set(txlog.snapshot_files(path))
    src = spark.createDataFrame([(1, "u", 0.0)], "k long, c string, p double")
    res = txlog.merge_into_table(spark, path, src, ["k"], stats_cols=["k"])
    after = set(txlog.snapshot_files(path))
    assert res["files_touched"] == 1
    assert res["files_total"] == len(before)
    # every untouched file is carried over byte-identical (same path)
    assert len(before & after) == len(before) - 1
    assert res["files_skipped_by_stats"] >= 1


def test_merge_into_table_no_match_degrades_to_append(spark):
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark), path, stats_cols=["k"])
    src = spark.createDataFrame([(500, "n", 5.0)], "k long, c string, p double")
    res = txlog.merge_into_table(spark, path, src, ["k"])
    assert res["appended"] and res["files_touched"] == 0
    assert txlog.history(path)[-1]["op"] == "append"
    assert txlog.snapshot_row_count(path) == 41


def test_merge_into_table_insert_only_keeps_target(spark):
    """Insert-if-absent: matched target rows are kept verbatim, new keys
    land, no file is rewritten, and a replay adds no data file to the
    log (with a txn stamp it commits one entry that adds no file)."""
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark, n=8, files=2), path, stats_cols=["k"])
    before = set(txlog.snapshot_files(path))
    src = spark.createDataFrame(
        [(2, "upd", 999.0), (90, "new", 1.0)], "k long, c string, p double"
    )
    res = txlog.merge_into_table(spark, path, src, ["k"], insert_only=True)
    assert res["files_touched"] == 0 and res["rows_written"] == 1
    assert before <= set(txlog.snapshot_files(path))
    got = {r["k"]: (r["c"], r["p"]) for r in txlog.read(spark, path).collect()}
    assert got[2] == ("c2", 4.0)  # matched target kept verbatim
    assert got[90] == ("new", 1.0)  # unmatched inserted
    assert len(got) == 9

    n_versions = len(txlog.history(path))
    replay = txlog.merge_into_table(spark, path, src, ["k"], insert_only=True)
    assert replay["rows_written"] == 0 and not replay["appended"]
    assert len(txlog.history(path)) == n_versions
    stamped = txlog.merge_into_table(
        spark, path, src, ["k"], insert_only=True, txn=("ins", 0)
    )
    assert txlog.history(path)[-1]["n_add"] == 0
    assert stamped["rows_written"] == 0
    assert txlog.last_committed_txn(path, "ins") == 0
    assert txlog.snapshot_row_count(path) == 9


def test_merge_into_table_delete_clause(spark):
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark, n=10, files=2), path, stats_cols=["k"])
    src = spark.createDataFrame(
        [(2, "x", 0.0, True), (3, "u", 7.0, False), (99, "g", 1.0, True)],
        "k long, c string, p double, del boolean",
    )
    txlog.merge_into_table(spark, path, src, ["k"], delete_col="del")
    got = {r["k"]: r["c"] for r in txlog.read(spark, path).collect()}
    assert 2 not in got                  # MATCHED AND del -> DELETE
    assert got[3] == "u"                 # MATCHED -> UPDATE
    assert 99 not in got                 # tombstone w/o match -> no-op
    assert len(got) == 9


def test_merge_into_table_all_tombstones_unmatched_is_noop(spark):
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark, n=6, files=1), path)
    head = txlog.history(path)[-1]["version"] if "version" in (
        txlog.history(path)[-1]
    ) else 0
    src = spark.createDataFrame(
        [(77, "g", 1.0, True)], "k long, c string, p double, del boolean"
    )
    res = txlog.merge_into_table(spark, path, src, ["k"], delete_col="del")
    assert not res["appended"] and res["files_touched"] == 0
    assert res["version"] == head
    assert txlog.snapshot_row_count(path) == 6


def test_merge_into_table_survives_concurrent_append(spark):
    """WriteSerializable: a blind append racing the merge commits
    first; the merge's rewrite lands on top without conflict and the
    appended rows survive."""
    path = tempfile.mkdtemp(prefix="dss_txmerge_")
    txlog.create_table(_orders_tbl(spark, n=8, files=1), path)
    orig_rewrite = txlog.rewrite

    def racing_rewrite(df, p, replace, expect_version, **kw):
        txlog.append(
            spark.createDataFrame([(200, "race", 0.5)], "k long, c string, p double"),
            p,
        )
        return orig_rewrite(df, p, replace, expect_version, **kw)

    src = spark.createDataFrame([(1, "u", 9.0)], "k long, c string, p double")
    try:
        txlog.rewrite = racing_rewrite
        txlog.merge_into_table(spark, path, src, ["k"])
    finally:
        txlog.rewrite = orig_rewrite
    got = {r["k"]: r["c"] for r in txlog.read(spark, path).collect()}
    assert got[1] == "u" and got[200] == "race" and len(got) == 9


def test_append_txn_skips_replayed_epochs(spark):
    path = tempfile.mkdtemp(prefix="dss_txn_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    v1 = txlog.append_txn(_tbl(spark, [(2, "b")]), path, "appX", 0)
    assert v1 == 1 and txlog.last_committed_txn(path, "appX") == 0
    # replay of epoch 0 and anything older is a no-op
    assert txlog.append_txn(_tbl(spark, [(2, "b")]), path, "appX", 0) is None
    assert txlog.snapshot_row_count(path) == 2
    # a different app's epoch space is independent
    assert txlog.append_txn(_tbl(spark, [(3, "c")]), path, "appY", 0) == 2
    # next epoch of appX commits
    assert txlog.append_txn(_tbl(spark, [(4, "d")]), path, "appX", 1) == 3
    assert txlog.last_committed_txn(path, "appX") == 1
    assert txlog.last_committed_txn(path, "appZ") == -1


def test_merge_into_table_txn_replay_is_skipped(spark):
    path = tempfile.mkdtemp(prefix="dss_txn_")
    txlog.create_table(_orders_tbl(spark, n=8, files=1), path)
    src = spark.createDataFrame([(1, "u", 9.0)], "k long, c string, p double")
    r1 = txlog.merge_into_table(spark, path, src, ["k"], txn=("m", 5))
    assert not r1["skipped"]
    n_versions = len(txlog.history(path))
    # same epoch replayed -> skipped before staging anything
    r2 = txlog.merge_into_table(spark, path, src, ["k"], txn=("m", 5))
    assert r2["skipped"]
    assert len(txlog.history(path)) == n_versions
    # later epoch commits (and the merge is idempotent on the data)
    r3 = txlog.merge_into_table(spark, path, src, ["k"], txn=("m", 6))
    assert not r3["skipped"]
    got = {r["k"]: r["c"] for r in txlog.read(spark, path).collect()}
    assert got[1] == "u" and len(got) == 8


def test_stream_merge_to_txlog_replay_lands_nothing(spark):
    """Drain a stream into the merge sink, then replay it end-to-end
    from a fresh checkpoint: every batch is skipped by the (app,
    epoch) bookkeeping and the table is byte-identical."""
    import os

    from dss_nlp_ingestion_spark.streaming.pipeline import (
        read_events_stream,
        stream_merge_to_txlog_table,
    )

    base = tempfile.mkdtemp(prefix="dss_txnstream_")
    src = base + "/src"
    df = _orders_tbl(spark, n=30, files=3)
    df.write.parquet(src)

    def drain(ckpt):
        stream = read_events_stream(spark, src, schema=df.schema)
        stream_merge_to_txlog_table(
            stream, base + "/t", ["k"], os.path.join(base, ckpt), app_id="s1"
        )

    drain("c1")
    files_after_first = set(txlog.snapshot_files(base + "/t"))
    rows1 = sorted(r["k"] for r in txlog.read(spark, base + "/t").collect())
    assert rows1 == sorted(range(30))
    drain("c2")  # full replay
    assert set(txlog.snapshot_files(base + "/t")) == files_after_first
    rows2 = sorted(r["k"] for r in txlog.read(spark, base + "/t").collect())
    assert rows2 == rows1


def test_stream_to_txlog_replay_lands_nothing(spark):
    """The append sink's twin of the merge-sink replay test: a re-drain
    from a fresh checkpoint re-runs every micro-batch, and the
    (query_name, batch_id) stamp skips each one, so no row lands
    twice."""
    from dss_nlp_ingestion_spark.streaming.pipeline import (
        read_events_stream,
        stream_to_txlog_table,
    )

    base = tempfile.mkdtemp(prefix="dss_txstream_")
    src = base + "/src"
    df = _orders_tbl(spark, n=30, files=3)
    df.write.parquet(src)

    def drain(ckpt):
        stream = read_events_stream(spark, src, schema=df.schema)
        stream_to_txlog_table(stream, base + "/t", os.path.join(base, ckpt))

    drain("c1")
    files_after_first = set(txlog.snapshot_files(base + "/t"))
    rows1 = sorted(r["k"] for r in txlog.read(spark, base + "/t").collect())
    assert rows1 == sorted(range(30))
    drain("c2")  # full replay
    assert set(txlog.snapshot_files(base + "/t")) == files_after_first
    rows2 = sorted(r["k"] for r in txlog.read(spark, base + "/t").collect())
    assert rows2 == rows1


def test_delete_from_table_rewrites_only_matching_files(spark):
    path = tempfile.mkdtemp(prefix="dss_txdel_")
    txlog.create_table(_orders_tbl(spark, n=40, files=4), path, stats_cols=["k"])
    before = set(txlog.snapshot_files(path))
    res = txlog.delete_from_table(
        spark, path, "k >= 5 AND k < 8", prune_col="k", prune_lo=5, prune_hi=7
    )
    assert res["files_touched"] == 1 and res["files_skipped_by_stats"] >= 1
    assert res["rows_written"] == 10 - 3  # the touched file's survivors
    after = set(txlog.snapshot_files(path))
    assert len(before & after) == len(before) - 1  # others carried
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [k for k in range(40) if not (5 <= k < 8)]
    assert txlog.history(path)[-1]["op"] == "delete"
    # no-match delete commits nothing
    head = len(txlog.history(path))
    res2 = txlog.delete_from_table(spark, path, "k = 999")
    assert res2["files_touched"] == 0 and res2["rows_written"] == 0
    assert len(txlog.history(path)) == head


def test_update_table_transforms_only_matching_rows(spark):
    path = tempfile.mkdtemp(prefix="dss_txupd_")
    txlog.create_table(_orders_tbl(spark, n=20, files=2), path, stats_cols=["k"])
    res = txlog.update_table(
        spark, path, "k % 2 = 0", {"p": "p * 2", "c": "concat(c, '!')"},
        prune_col="k",
    )
    assert res["files_touched"] == 2
    got = {r["k"]: (r["c"], r["p"]) for r in txlog.read(spark, path).collect()}
    assert got[4] == ("c4!", 16.0)   # matched: both SET exprs applied
    assert got[5] == ("c5", 10.0)    # unmatched row in touched file intact
    assert len(got) == 20


def _sha1_rows(spark, ids, dead=False):
    """Rows keyed by the sha1 hex of their id, the paper's
    ``unique_identifier`` shape: every file's key range spans the key
    space, so logged stats prune nothing."""
    df = spark.createDataFrame(
        [(hashlib.sha1(str(i).encode()).hexdigest(), i, float(i)) for i in ids],
        "k string, n long, p double",
    )
    return df.withColumn("dead", F.col("n") % 2 == 0) if dead else df


_DML_CALLS = {
    "upsert_match": lambda spark, path: txlog.merge_into_table(
        spark, path, _sha1_rows(spark, range(380, 430)), ["k"],
        stats_cols=["k"],
    ),
    "upsert_no_match": lambda spark, path: txlog.merge_into_table(
        spark, path, _sha1_rows(spark, range(1000, 1050)), ["k"],
        stats_cols=["k"],
    ),
    "insert_only": lambda spark, path: txlog.merge_into_table(
        spark, path, _sha1_rows(spark, range(380, 430)), ["k"],
        insert_only=True, stats_cols=["k"],
    ),
    "merge_delete": lambda spark, path: txlog.merge_into_table(
        spark, path, _sha1_rows(spark, range(380, 430), dead=True), ["k"],
        delete_col="dead", stats_cols=["k"],
    ),
    "delete": lambda spark, path: txlog.delete_from_table(
        spark, path, "n >= 380", stats_cols=["k"]
    ),
    "update": lambda spark, path: txlog.update_table(
        spark, path, "n >= 380", {"p": "p * 2"}, stats_cols=["k"]
    ),
    "compact": lambda spark, path: txlog.compact(spark, path),
    "optimize_zorder": lambda spark, path: txlog.optimize_zorder(
        spark, path, ["n", "p"], target_files=4
    ),
}


@pytest.mark.parametrize(
    ("call", "max_jobs"),
    [
        ("upsert_match", 10),
        ("upsert_no_match", 8),
        ("insert_only", 7),
        ("insert_only_replay", 5),
        ("merge_delete", 10),
        ("delete", 3),
        ("update", 3),
        ("compact", 1),
        ("optimize_zorder", 5),
    ],
)
def test_spark_jobs_per_dml_call(spark, call, max_jobs):
    """Spark jobs one DML call launches, on a 400-row, 4-file table
    keyed by sha1 hex with logged key stats; the MERGE sources hold 50
    rows, 20 of them matching. The bounds are the counts measured at
    local[4] with 4 shuffle partitions. ``insert_only_replay`` counts a
    second insert-only MERGE of the same rows, which appends nothing."""
    path = tempfile.mkdtemp(prefix="dss_txjobs_")
    txlog.create_table(
        _sha1_rows(spark, range(400)).repartition(4), path,
        stats_cols=["k"],
    )
    if call == "insert_only_replay":
        _DML_CALLS["insert_only"](spark, path)
        call = "insert_only"
    sc = spark.sparkContext
    group = f"dml-jobs-{os.path.basename(path)}"
    sc.setJobGroup(group, group)
    try:
        _DML_CALLS[call](spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= max_jobs, n_jobs


def test_checkpoint_log_replay_equivalence_and_time_travel(spark):
    path = tempfile.mkdtemp(prefix="dss_txckpt_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.append(_tbl(spark, [(2, "b")]), path)
    no_ck_files = set(txlog.snapshot_files(path))
    ckv = txlog.checkpoint_log(path)
    assert ckv == 1
    # fold through the checkpoint == full fold
    assert set(txlog.snapshot_files(path)) == no_ck_files
    # commits after the checkpoint fold on top of it
    txlog.append(_tbl(spark, [(3, "c")]), path)
    got = sorted(r["k"] for r in txlog.read(spark, path).collect())
    assert got == [1, 2, 3]
    # time travel BELOW the checkpoint still replays the raw log
    assert sorted(r["k"] for r in txlog.read(spark, path, version=0).collect()) == [1]
    # stats survive through the checkpoint for pruned planning
    path2 = tempfile.mkdtemp(prefix="dss_txckpt2_")
    txlog.create_table(
        _orders_tbl(spark, n=40, files=4), path2, stats_cols=["k"]
    )
    txlog.checkpoint_log(path2)
    files, skipped = txlog.plan_pruned_files(path2, "k", 0, 5)
    assert skipped >= 2
    # a torn checkpoint (partial write) is ignored, not fatal
    import os
    torn = os.path.join(path2, "_txlog", "00000000.checkpoint.json")
    with open(torn, "w") as fh:
        fh.write('{"version": 0, "liv')
    assert len(txlog.snapshot_files(path2)) == 4


def test_restore_table_is_metadata_only_and_reversible(spark):
    path = tempfile.mkdtemp(prefix="dss_txrest_")
    txlog.create_table(_tbl(spark, [(1, "a"), (2, "b")]), path)
    txlog.append(_tbl(spark, [(3, "c")]), path)
    txlog.delete_from_table(spark, path, "k = 1")
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [2, 3]
    v = txlog.restore_table(path, 0)
    assert v == 3 and txlog.history(path)[-1]["op"] == "restore"
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 2]
    # the restore is itself a commit: restore away the restore
    txlog.restore_table(path, 2)
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [2, 3]
    # restoring to the pre-restore head is a no-files-changed commit
    e = txlog._read_entry(path, 4)
    assert e["restore_of"] == 2


def test_clone_table_zero_copy_and_independent_evolution(spark):
    import os

    src = tempfile.mkdtemp(prefix="dss_txclone_src_")
    dst = tempfile.mkdtemp(prefix="dss_txclone_dst_") + "/t"
    txlog.create_table(_orders_tbl(spark, n=20, files=2), src, stats_cols=["k"])
    txlog.append(_orders_tbl(spark, n=5, files=1), src)
    txlog.clone_table(src, dst, version=0)
    # zero copy: the clone's data dir holds nothing
    assert not os.path.isdir(os.path.join(dst, "data"))
    got = sorted(r["k"] for r in txlog.read(spark, dst).collect())
    assert got == sorted(range(20))  # version-0 snapshot, not head
    # clone evolves independently; source unchanged
    txlog.merge_into_table(
        spark, dst,
        spark.createDataFrame([(1, "u", 0.0)], "k long, c string, p double"),
        ["k"],
    )
    clone_rows = txlog.read(spark, dst).collect()
    # exactly-20: the COW rewrite must remove the touched SOURCE file
    # from the clone's live set by its logged ABSOLUTE name (a raw
    # relpath would never match and the old rows would stay live)
    assert len(clone_rows) == 20
    assert {r["k"]: r["c"] for r in clone_rows}[1] == "u"
    assert {r["k"]: r["c"] for r in txlog.read(spark, src, version=0).collect()}[1] == "c1"
    # cloned stats serve pruned planning on the clone
    _, skipped = txlog.plan_pruned_files(dst, "k", 0, 4)
    assert skipped >= 1


def test_replicate_incremental_applies_cdc_and_watermarks(spark):
    src = tempfile.mkdtemp(prefix="dss_cdc_src_")
    dst = tempfile.mkdtemp(prefix="dss_cdc_dst_") + "/r"
    txlog.create_table(_orders_tbl(spark, n=20, files=2), src, stats_cols=["k"])
    txlog.clone_table(src, dst, version=0)
    # source evolves: append, delete, update
    txlog.append(
        spark.createDataFrame([(100, "new", 1.0)], "k long, c string, p double"),
        src,
    )
    txlog.delete_from_table(spark, src, "k = 3")
    txlog.update_table(spark, src, "k = 4", {"c": "'upd'"})
    r1 = txlog.replicate_incremental(spark, src, dst, ["k"])
    assert not r1["skipped"] and r1["applied_from"] == 0
    got = {r["k"]: r["c"] for r in txlog.read(spark, dst).collect()}
    want = {r["k"]: r["c"] for r in txlog.read(spark, src).collect()}
    assert got == want
    assert 3 not in got and got[4] == "upd" and got[100] == "new"
    # second cycle: watermark no-op
    r2 = txlog.replicate_incremental(spark, src, dst, ["k"])
    assert r2["skipped"]
    # further source commits replicate from the watermark, not from 0
    txlog.append(
        spark.createDataFrame([(101, "n2", 2.0)], "k long, c string, p double"),
        src,
    )
    r3 = txlog.replicate_incremental(spark, src, dst, ["k"])
    assert not r3["skipped"] and r3["applied_from"] == r1["applied_to"]
    assert {r["k"]: r["c"] for r in txlog.read(spark, dst).collect()}[101] == "n2"


def test_replicate_incremental_rejects_foreign_replica(spark):
    src = tempfile.mkdtemp(prefix="dss_cdc_src_")
    other = tempfile.mkdtemp(prefix="dss_cdc_oth_")
    txlog.create_table(_tbl(spark, [(1, "a")]), src)
    txlog.create_table(_tbl(spark, [(1, "a")]), other)
    txlog.append(_tbl(spark, [(2, "b")]), src)
    with pytest.raises(ValueError, match="not initialized from"):
        txlog.replicate_incremental(spark, src, other, ["k"])


def _mv_specs():
    return {"n_rows": ("count", None), "p_sum": ("sum", "p")}


def test_matview_refresh_equals_full_recompute(spark):
    from dss_nlp_ingestion_spark.sources import matview

    src = tempfile.mkdtemp(prefix="dss_mv_src_")
    view = tempfile.mkdtemp(prefix="dss_mv_view_") + "/v"
    txlog.create_table(_orders_tbl(spark, n=20, files=2), src, stats_cols=["k"])
    matview.create_matview(spark, src, view, ["c"], _mv_specs())
    # churn: insert new group member, delete, update
    txlog.append(
        spark.createDataFrame([(100, "c1", 8.0)], "k long, c string, p double"),
        src,
    )
    txlog.delete_from_table(spark, src, "k = 2")
    txlog.update_table(spark, src, "k = 3", {"p": "p + 10.0"})
    r = matview.refresh_matview(spark, src, view, ["c"], _mv_specs())
    assert not r["skipped"]
    got = {
        (row["c"]): (row["n_rows"], float(row["p_sum"]))
        for row in txlog.read(spark, view).collect()
    }
    from pyspark.sql import functions as F

    want = {
        row["c"]: (row["n_rows"], float(row["p_sum"]))
        for row in txlog.read(spark, src)
        .groupBy("c")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("p").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("p_sum"),
        )
        .collect()
    }
    assert got == want
    # idempotent: immediate second refresh is a watermark no-op
    assert matview.refresh_matview(spark, src, view, ["c"], _mv_specs())["skipped"]


def test_matview_group_vanishes_on_full_delete(spark):
    from dss_nlp_ingestion_spark.sources import matview

    src = tempfile.mkdtemp(prefix="dss_mv_src_")
    view = tempfile.mkdtemp(prefix="dss_mv_view_") + "/v"
    rows = [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]
    txlog.create_table(
        spark.createDataFrame(rows, "k long, c string, p double"), src
    )
    matview.create_matview(spark, src, view, ["c"], _mv_specs())
    txlog.delete_from_table(spark, src, "c = 'a'")
    matview.refresh_matview(spark, src, view, ["c"], _mv_specs())
    got = {r["c"]: r["n_rows"] for r in txlog.read(spark, view).collect()}
    assert got == {"b": 1}  # group 'a' deleted from the view


def test_maybe_compact_and_checkpoint_policies(spark):
    path = tempfile.mkdtemp(prefix="dss_policy_")
    txlog.create_table(_tbl(spark, [(0, "x")]), path)
    for i in range(1, 6):
        txlog.append(_tbl(spark, [(i, "x")]), path)
    # under threshold: no-op
    assert txlog.maybe_compact(spark, path, max_live_files=16) is None
    # over threshold: compacts
    v = txlog.maybe_compact(spark, path, max_live_files=3)
    assert v is not None and len(txlog.snapshot_files(path)) <= 3
    # checkpoint cadence: 7 commits so far (create+5 appends+compact)
    assert txlog.maybe_checkpoint(path, every_n_commits=10) is None
    got = txlog.maybe_checkpoint(path, every_n_commits=5)
    assert got == txlog._versions(path)[-1]
    # right after checkpointing, cadence resets
    assert txlog.maybe_checkpoint(path, every_n_commits=5) is None
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == list(range(6))


def test_vacuum_retain_on_clone_never_touches_source_files(spark):
    """Review regression: a clone's vacuum must not reclaim the
    SOURCE table's data files even after the clone rewrote away its
    absolute-path references."""
    src = tempfile.mkdtemp(prefix="dss_vacclone_src_")
    dst = tempfile.mkdtemp(prefix="dss_vacclone_dst_") + "/t"
    txlog.create_table(_orders_tbl(spark, n=10, files=1), src)
    txlog.clone_table(src, dst)
    # rewrite the clone so the absolute src reference leaves its live set
    txlog.merge_into_table(
        spark, dst,
        spark.createDataFrame([(1, "u", 0.0)], "k long, c string, p double"),
        ["k"],
    )
    res = txlog.vacuum_retain(dst, horizon_version=1)
    assert res["removed"] == []  # nothing physical under dst reclaimed...
    # ...and the SOURCE still reads perfectly
    assert len(txlog.read(spark, src).collect()) == 10


def test_merge_empty_source_with_txn_still_advances_watermark(spark):
    path = tempfile.mkdtemp(prefix="dss_txnempty_")
    txlog.create_table(_orders_tbl(spark, n=4, files=1), path)
    empty = spark.createDataFrame([], "k long, c string, p double")
    r = txlog.merge_into_table(spark, path, empty, ["k"], txn=("w", 3))
    assert not r["skipped"]
    assert txlog.last_committed_txn(path, "w") == 3
    assert txlog.snapshot_row_count(path) == 4


def test_replicate_tolerates_zero_file_change_window(spark):
    src = tempfile.mkdtemp(prefix="dss_cdc0_src_")
    dst = tempfile.mkdtemp(prefix="dss_cdc0_dst_") + "/r"
    txlog.create_table(_orders_tbl(spark, n=6, files=1), src)
    txlog.clone_table(src, dst, version=0)
    # head advances via a no-files-changed commit (restore to self)
    txlog.restore_table(src, 0)
    r = txlog.replicate_incremental(spark, src, dst, ["k"])
    assert not r["skipped"] and r["applied_to"] == 1
    # and the watermark holds: next cycle is a skip
    assert txlog.replicate_incremental(spark, src, dst, ["k"])["skipped"]


def test_clone_below_vacuum_horizon_fails_fast(spark):
    src = tempfile.mkdtemp(prefix="dss_clonehor_src_")
    txlog.create_table(_tbl(spark, [(1, "a")]), src)
    base = [
        os.path.relpath(f, os.path.join(src, "data"))
        for f in txlog.snapshot_files(src)
    ]
    txlog.rewrite(_tbl(spark, [(1, "a2")]), src, base, expect_version=0)
    txlog.vacuum_retain(src, horizon_version=1)
    with pytest.raises(ValueError, match="below its"):
        txlog.clone_table(src, tempfile.mkdtemp(prefix="x_") + "/c", version=0)


def test_update_table_rejects_unknown_set_columns(spark):
    path = tempfile.mkdtemp(prefix="dss_updcol_")
    txlog.create_table(_orders_tbl(spark, n=4, files=1), path)
    n_versions = len(txlog.history(path))
    with pytest.raises(ValueError, match="non-existent columns"):
        txlog.update_table(spark, path, "k = 1", {"totalprice": "p * 2"})
    assert len(txlog.history(path)) == n_versions  # nothing committed


def test_rename_column_is_metadata_only_and_time_travels(spark):
    path = tempfile.mkdtemp(prefix="dss_txren_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    files_before = set(txlog.snapshot_files(path))
    v = txlog.rename_column(path, "v", "label")
    assert set(txlog.snapshot_files(path)) == files_before  # zero rewrite
    assert txlog.read(spark, path).columns == ["k", "label"]
    # time travel below the rename sees the old name
    assert txlog.read(spark, path, version=v - 1).columns == ["k", "v"]
    # chained rename composes
    txlog.rename_column(path, "label", "tag")
    got = txlog.read(spark, path).collect()[0]
    assert got["tag"] == "a"
    # appends after a rename write the PHYSICAL (original) schema and
    # still surface under the logical name
    txlog.append(_tbl(spark, [(2, "b")]), path)
    rows = {r["k"]: r["tag"] for r in txlog.read(spark, path).collect()}
    assert rows == {1: "a", 2: "b"}


def test_read_pruned_multi_ands_column_ranges(spark):
    path = tempfile.mkdtemp(prefix="dss_txmulti_")
    rows = [(i, i % 10, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, m long, p double")
    txlog.create_table(
        df.repartitionByRange(5, "k"), path, stats_cols=["k", "m"]
    )
    # k-range hits 1 file; the m-range is satisfiable there
    out = txlog.read_pruned_multi(spark, path, {"k": (10, 19), "m": (3, 5)})
    got = sorted(r["k"] for r in out.collect())
    assert got == [13, 14, 15]
    # an unsatisfiable AND raises (all files pruned)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no files overlap"):
        txlog.read_pruned_multi(spark, path, {"k": (10, 19), "m": (50, 60)})


def test_streaming_sink_auto_checkpoints_the_log(spark):
    import os

    from dss_nlp_ingestion_spark.streaming.pipeline import (
        read_events_stream,
        stream_merge_to_txlog_table,
    )

    base = tempfile.mkdtemp(prefix="dss_autockpt_")
    df = _orders_tbl(spark, n=24, files=12)  # 12 source files -> many batches
    df.write.parquet(base + "/src")
    stream = read_events_stream(spark, base + "/src", schema=df.schema)
    stream_merge_to_txlog_table(
        stream, base + "/t", ["k"], base + "/ck", app_id="ac1"
    )
    cks = [
        n for n in os.listdir(os.path.join(base, "t", "_txlog"))
        if n.endswith(".checkpoint.json")
    ]
    if len(txlog._versions(base + "/t")) >= 10:
        assert cks, "expected an auto-checkpoint after >=10 commits"
    # and the folded state stays exact
    got = sorted(r["k"] for r in txlog.read(spark, base + "/t").collect())
    assert got == sorted(range(24))


def test_matview_null_group_key_refreshes_exactly(spark):
    """r5 advisor (medium): NULL is ONE group for GROUP BY, but plain
    equality joins never match NULL keys — before the null-safe fix
    the NULL group's delta was INSERTED next to the stale row (view
    held 2/30.00 and 1/40.00 instead of one 3/70.00 row)."""
    from dss_nlp_ingestion_spark.sources import matview

    src = tempfile.mkdtemp(prefix="dss_mvnull_src_")
    view = tempfile.mkdtemp(prefix="dss_mvnull_view_") + "/v"
    rows = [(1, None, 10.0), (2, None, 20.0), (3, "b", 5.0)]
    txlog.create_table(
        spark.createDataFrame(rows, "k long, c string, p double"), src
    )
    matview.create_matview(spark, src, view, ["c"], _mv_specs())
    txlog.append(
        spark.createDataFrame(
            [(4, None, 40.0), (5, "new", 1.0)], "k long, c string, p double"
        ),
        src,
    )
    r = matview.refresh_matview(spark, src, view, ["c"], _mv_specs())
    assert not r["skipped"]
    got = {
        row["c"]: (row["n_rows"], float(row["p_sum"]))
        for row in txlog.read(spark, view).collect()
    }
    assert got == {None: (3, 70.0), "b": (1, 5.0), "new": (1, 1.0)}
    assert txlog.read(spark, view).count() == 3  # exactly one NULL row
    # deleting the whole NULL group removes its single view row
    txlog.delete_from_table(spark, src, "c IS NULL")
    matview.refresh_matview(spark, src, view, ["c"], _mv_specs())
    got2 = {r2["c"]: r2["n_rows"] for r2 in txlog.read(spark, view).collect()}
    assert got2 == {"b": 1, "new": 1}


def test_pruned_reads_and_cdf_follow_renames(spark):
    """r5 advisor: read_pruned / read_pruned_multi / net_changes must
    resolve the rename chain like read() — prune on the PHYSICAL name
    the stats were logged under, return the LOGICAL schema."""
    path = tempfile.mkdtemp(prefix="dss_txrenprune_")
    txlog.create_table(_orders_tbl(spark, n=40, files=4), path, stats_cols=["k"])
    v_ren = txlog.rename_column(path, "k", "order_id")
    # pruning on the logical name consults stats logged under "k"
    out = txlog.read_pruned(spark, path, "order_id", lo=10, hi=19)
    assert "order_id" in out.columns and "k" not in out.columns
    assert sorted(r["order_id"] for r in out.collect()) == list(range(10, 20))
    files, skipped = txlog.plan_pruned_files(path, "k", 10, 19)
    assert skipped > 0  # the physical stats do prune
    multi = txlog.read_pruned_multi(spark, path, {"order_id": (10, 19)})
    assert sorted(r["order_id"] for r in multi.collect()) == list(range(10, 20))
    # CDF across the rename exposes the logical schema and nets out
    txlog.delete_from_table(spark, path, "order_id = 11")
    feed = txlog.net_changes(spark, path, v_ren)
    rows = feed.collect()
    assert feed.columns[1:4] == ["order_id", "c", "p"]
    assert [(r["change"], r["order_id"]) for r in rows] == [("delete", 11)]


def test_catalog_txlog_override_and_docstore_pruning(spark):
    """r6 (verdict #8): the catalog resolves a registered table
    through the tx log's snapshot — identical rows to the raw scan —
    and the doc store's logged doc_id stats actually prune files
    (the 100 TB manifest path: log fold + data skipping instead of
    directory LISTing)."""
    from dss_nlp_ingestion_spark import catalog
    from dss_nlp_ingestion_spark.catalog import table

    sf_dir = "/root/testdata/sf0.001"
    docs = table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dss_docstore_") + "/documents"
    txlog.create_table(
        docs.repartitionByRange(8, "doc_id"), path, stats_cols=["doc_id"]
    )
    catalog.set_txlog_table("documents", path)
    try:
        via_catalog = table(spark, sf_dir, "documents")
        assert via_catalog.count() == docs.count()
        # snapshot resolution, not directory scan: the plan reads the
        # log's exact file list
        scans = via_catalog.inputFiles()
        assert all("/data/" in f for f in scans)
        assert set(scans) == {
            "file://" + f if not f.startswith("file:") else f
            for f in txlog.snapshot_files(path)
        } or len(scans) == len(txlog.snapshot_files(path))
    finally:
        catalog.clear_txlog_table("documents")
    # logged-stats pruning: a narrow doc_id range skips most files
    keep, skipped = txlog.plan_pruned_files(path, "doc_id", 0, 5)
    assert skipped >= 6 and len(keep) <= 2
    lo_hi = txlog.read_pruned(spark, path, "doc_id", 0, 5)
    assert sorted(r["doc_id"] for r in lo_hi.collect()) == sorted(
        r["doc_id"] for r in docs.filter("doc_id between 0 and 5").collect()
    )
    # the pruned plan scans ONLY the kept files
    assert len(lo_hi.inputFiles()) == len(keep)


def test_merge_into_table_follows_renames(spark):
    """r6 review finding: MERGE was the one snapshot reader/writer
    left out of the rename-chain resolution — source keys target the
    LOGICAL schema, data files must stay PHYSICAL, and logged stats
    must land under the physical name so pruning keeps working."""
    path = tempfile.mkdtemp(prefix="dss_txrenmerge_")
    txlog.create_table(_orders_tbl(spark, n=20, files=2), path, stats_cols=["k"])
    txlog.rename_column(path, "k", "order_id")
    src = spark.createDataFrame(
        [(3, "upd", 999.0, False), (7, "gone", 0.0, True), (100, "new", 1.0, False)],
        "order_id long, c string, p double, _del boolean",
    )
    res = txlog.merge_into_table(
        spark, path, src, ["order_id"], delete_col="_del", stats_cols=["order_id"]
    )
    assert res["files_touched"] >= 1
    got = {r["order_id"]: (r["c"], r["p"]) for r in txlog.read(spark, path).collect()}
    assert got[3] == ("upd", 999.0) and got[100] == ("new", 1.0)
    assert 7 not in got and len(got) == 20  # 20 - 1 delete + 1 insert
    # data files stayed physical: the raw footer schema still says "k"
    import pyarrow.parquet as pq

    for f in txlog.snapshot_files(path):
        assert "k" in pq.ParquetFile(f).schema_arrow.names
    # logged stats landed under the physical name -> pruning works on
    # both the logical and the physical handle
    _, skipped = txlog.plan_pruned_files(path, "order_id", 0, 2)
    assert skipped >= 1
    out = txlog.read_pruned(spark, path, "order_id", 100, 100)
    assert [r["order_id"] for r in out.collect()] == [100]


def test_append_after_read_folds_renames(spark):
    """r6 advisor (medium): public append()/append_txn must fold the
    LOGICAL (post-rename) schema back to physical before writing —
    a read()->append() round trip after rename_column otherwise
    writes files physically carrying the NEW name, and a later
    mergeSchema read mixing generations resolves to duplicate
    columns, breaking every snapshot reader."""
    import pyarrow.parquet as pq

    path = tempfile.mkdtemp(prefix="dss_txrenapp_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path, stats_cols=["v"])
    txlog.rename_column(path, "v", "label")
    # the round trip: read yields logical schema, append it straight back
    snap = txlog.read(spark, path)
    assert snap.columns == ["k", "label"]
    txlog.append(
        snap.withColumn("k", snap["k"] + 10), path, stats_cols=["label"]
    )
    # idempotent-writer path too
    txlog.append_txn(
        snap.withColumn("k", snap["k"] + 20), path, "appren", 1,
        stats_cols=["label"],
    )
    # every data file stays PHYSICAL ("v"), never "label"
    for f in txlog.snapshot_files(path):
        names = pq.ParquetFile(f).schema_arrow.names
        assert "v" in names and "label" not in names
    # and the merged snapshot resolves cleanly to ONE logical column
    got = txlog.read(spark, path)
    assert got.columns == ["k", "label"]
    assert sorted((r["k"], r["label"]) for r in got.collect()) == [
        (1, "a"), (11, "a"), (21, "a")
    ]
    # stats landed under the physical name -> pruning by logical works
    out = txlog.read_pruned(spark, path, "label", "a", "a")
    assert out.count() == 3
    # a frankenstein frame carrying BOTH sides of the rename is rejected
    both = spark.createDataFrame([(9, "x", "y")], "k long, v string, label string")
    with pytest.raises(ValueError, match="generations"):
        txlog.append(both, path)


def test_compact_and_zorder_after_rename_stay_physical(spark):
    """compact()/optimize_zorder() read the LOGICAL snapshot and
    rewrite it; after a rename the rewritten files must still carry
    the PHYSICAL schema or a concurrent pre-rename append would mix
    generations."""
    import pyarrow.parquet as pq

    path = tempfile.mkdtemp(prefix="dss_txrenopt_")
    txlog.create_table(_orders_tbl(spark, n=30, files=3), path, stats_cols=["k"])
    txlog.rename_column(path, "k", "order_id")
    txlog.compact(spark, path, target_files=1)
    for f in txlog.snapshot_files(path):
        assert "k" in pq.ParquetFile(f).schema_arrow.names
    txlog.optimize_zorder(spark, path, ["order_id", "p"], target_files=2)
    for f in txlog.snapshot_files(path):
        names = pq.ParquetFile(f).schema_arrow.names
        assert "k" in names and "order_id" not in names
    # zorder logged stats under the PHYSICAL name -> logical pruning works
    _, skipped = txlog.plan_pruned_files(path, "order_id", 0, 3)
    assert skipped >= 1
    got = sorted(r["order_id"] for r in txlog.read(spark, path).collect())
    assert got == sorted(range(30))


def test_merge_delete_update_merge_schema_across_evolution(spark):
    """r6 advisor (medium): merge/delete/update candidate+touched
    reads must mergeSchema like the snapshot readers — a touched set
    mixing pre- and post-evolution footers otherwise silently NULLs
    the extra (or key) columns and the COW rewrite persists the loss."""
    path = tempfile.mkdtemp(prefix="dss_txevomrg_")
    txlog.create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path, stats_cols=["k"],
    )
    # additive evolution: later generation carries an extra column
    txlog.append(
        spark.createDataFrame([(3, "c", 30.0)], "k long, v string, extra double"),
        path, stats_cols=["k"],
    )
    # merge touches BOTH generations (keys 1 and 3)
    src = spark.createDataFrame(
        [(1, "A", 100.0), (3, "C", 300.0)], "k long, v string, extra double"
    )
    txlog.merge_into_table(spark, path, src, ["k"], stats_cols=["k"])
    got = {r["k"]: (r["v"], r["extra"]) for r in txlog.read(spark, path).collect()}
    assert got[1] == ("A", 100.0) and got[3] == ("C", 300.0)
    assert got[2] == ("b", None) and len(got) == 3
    # update across generations keeps the evolved column intact
    txlog.update_table(
        spark, path, "k = 2", {"v": "upper(v)"}, stats_cols=["k"],
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in txlog.read(spark, path).collect()}
    assert got[2] == ("B", None) and got[3] == ("C", 300.0)
    # delete in the pre-evolution generation must not narrow survivors
    txlog.delete_from_table(spark, path, "k = 1", stats_cols=["k"])
    got = {r["k"]: (r["v"], r["extra"]) for r in txlog.read(spark, path).collect()}
    assert 1 not in got and got[3] == ("C", 300.0) and len(got) == 2


def test_concurrent_merge_merge_conflict_detect_and_retry(spark, monkeypatch):
    """r6 verdict ask #8: two concurrent MERGEs over overlapping keys.
    The loser must (a) DETECT the conflict (never silently clobber the
    winner's commit), (b) abort atomically when out of retries (table
    = winner only, no partial loser rows), and (c) succeed cleanly on
    retry against the fresh snapshot."""
    path = tempfile.mkdtemp(prefix="dss_txmm_")
    txlog.create_table(_orders_tbl(spark, n=20, files=2), path, stats_cols=["k"])
    src_a = spark.createDataFrame([(3, "A", 111.0)], "k long, c string, p double")
    src_b = spark.createDataFrame([(3, "B", 222.0), (5, "B5", 555.0)],
                                  "k long, c string, p double")
    real_rewrite = txlog.rewrite
    state = {"armed": True}

    def racing_rewrite(df, path_, replace, expect_version, **kw):
        if state["armed"]:
            state["armed"] = False  # un-arm BEFORE B's merge recurses here
            txlog.merge_into_table(spark, path, src_b, ["k"], stats_cols=["k"])
        return real_rewrite(df, path_, replace, expect_version, **kw)

    monkeypatch.setattr(txlog, "rewrite", racing_rewrite)
    # (a)+(b): A races B on key 3, no retries left -> clean abort
    with pytest.raises(txlog.TxConflictError):
        txlog.merge_into_table(spark, path, src_a, ["k"], max_retries=1,
                               stats_cols=["k"])
    got = {r["k"]: (r["c"], r["p"]) for r in txlog.read(spark, path).collect()}
    assert got[3] == ("B", 222.0) and got[5] == ("B5", 555.0)  # winner intact
    assert len(got) == 20  # loser left NO partial rows
    # (c): with retries the same race resolves — loser re-reads and wins round 2
    state["armed"] = True
    res = txlog.merge_into_table(spark, path, src_a, ["k"], max_retries=3,
                                 stats_cols=["k"])
    assert res["files_touched"] >= 1
    got = {r["k"]: r["c"] for r in txlog.read(spark, path).collect()}
    assert got[3] == "A"  # second B-merge committed, then A applied on top


def test_checkpoint_carries_folded_renames(spark):
    """r7: the checkpoint folds the rename chain too, so the log fold
    — on every snapshot read AND every rename-folding append — replays
    only post-checkpoint entries. Pre-checkpoint
    renames must resolve from the checkpoint payload; post-checkpoint
    renames stack on top; time travel below the checkpoint still
    replays the log."""
    import json as _json

    path = tempfile.mkdtemp(prefix="dss_txckren_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    v_ren1 = txlog.rename_column(path, "v", "label")
    ck = txlog.checkpoint_log(path)
    with open(os.path.join(path, "_txlog", f"{ck:08d}.checkpoint.json")) as fh:
        payload = _json.load(fh)
    assert payload["renames"] == [["v", "label"]]
    txlog.rename_column(path, "label", "tag")
    assert txlog._fold(path).renames == [("v", "label"), ("label", "tag")]
    assert txlog.read(spark, path).columns == ["k", "tag"]
    # round-trip append still folds to the physical name
    txlog.append(txlog.read(spark, path), path)
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 1]
    # time travel below the checkpoint: old logical name
    assert txlog.read(spark, path, version=v_ren1 - 1).columns == ["k", "v"]


def test_append_guard_rejects_transitive_rename_chain(spark):
    """r7 review finding: after v->label->tag, a frame carrying 'v'
    and 'tag' collides on fold even though no single rename entry
    pairs them — the guard must walk the transitive closure and
    raise its clear ValueError, not a deep duplicate-column
    AnalysisException from the write."""
    path = tempfile.mkdtemp(prefix="dss_txtrans_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.rename_column(path, "v", "label")
    txlog.rename_column(path, "label", "tag")
    both = spark.createDataFrame([(9, "x", "y")], "k long, v string, tag string")
    with pytest.raises(ValueError, match="generations"):
        txlog.append(both, path)
    # and the clean logical round trip still works
    txlog.append(txlog.read(spark, path), path)
    assert sorted(r["k"] for r in txlog.read(spark, path).collect()) == [1, 1]


def _count_folds(monkeypatch) -> list:
    """Wrap the one log fold in a call counter; returns the call log."""
    calls: list = []
    fold = txlog._fold

    def counted(path, version=None):
        calls.append(version)
        return fold(path, version)

    monkeypatch.setattr(txlog, "_fold", counted)
    return calls


def test_read_merge_and_vacuum_fold_the_log_once(spark, monkeypatch):
    """read folds once, merge_into_table once per attempt (rewrite and
    append-degrade paths alike, no conflict), and vacuum_retain a
    constant number of times whatever head - horizon is."""
    path = tempfile.mkdtemp(prefix="dss_txfold_")
    txlog.create_table(_orders_tbl(spark), path, stats_cols=["k"])
    txlog.rename_column(path, "c", "cat")
    calls = _count_folds(monkeypatch)
    txlog.read(spark, path).collect()
    assert len(calls) == 1
    for rows in ([(3, "upd", 9.0)], [(500, "new", 1.0)]):
        del calls[:]
        src = spark.createDataFrame(rows, "k long, cat string, p double")
        res = txlog.merge_into_table(spark, path, src, ["k"], stats_cols=["k"])
        assert res["files_touched"] + res["appended"] == 1
        assert len(calls) == 1
    counts = []
    for n_after in (1, 6):
        p = tempfile.mkdtemp(prefix="dss_txfold_vac_")
        txlog.create_table(_tbl(spark, [(0, "a")]), p)
        txlog.compact(spark, p)
        for i in range(n_after):
            txlog.append(_tbl(spark, [(i, "x")]), p)
        del calls[:]
        txlog.vacuum_retain(p, 1)
        counts.append(len(calls))
    assert counts[0] == counts[1] <= 1


def test_vacuum_retain_keep_set_matches_brute_force(spark):
    """vacuum_retain removes exactly the logged files outside the union
    of every snapshot at or after the horizon, across appends, a
    compaction, a merge, a delete and a checkpoint between them."""
    import shutil

    path = tempfile.mkdtemp(prefix="dss_txvacbf_") + "/t"
    txlog.create_table(_orders_tbl(spark, n=20, files=2), path, stats_cols=["k"])
    txlog.append(_orders_tbl(spark, n=5, files=1), path)
    txlog.compact(spark, path)
    txlog.checkpoint_log(path)
    src = spark.createDataFrame([(3, "m", 1.0), (90, "n", 2.0)], "k long, c string, p double")
    txlog.merge_into_table(spark, path, src, ["k"])
    txlog.append(_orders_tbl(spark, n=4, files=1), path)
    txlog.delete_from_table(spark, path, "k = 1")
    txlog.append(_tbl(spark, [(7, "z")]).selectExpr("k", "v AS c", "1.0D AS p"), path)
    data = os.path.join(path, "data")
    versions = [h["version"] for h in txlog.history(path)]
    referenced = {
        f for v in versions for f in txlog._read_entry(path, v).get("add", [])
    }
    for horizon in versions:
        keep = {
            os.path.relpath(f, data)
            for v in versions
            if v >= horizon
            for f in txlog.snapshot_files(path, v)
        }
        copy = tempfile.mkdtemp(prefix="dss_txvacbf_") + "/t"
        shutil.copytree(path, copy)
        res = txlog.vacuum_retain(copy, horizon)
        assert res["removed"] == sorted(referenced - keep), horizon
        for v in versions[horizon:]:
            assert all(os.path.exists(f) for f in txlog.snapshot_files(copy, v))


def test_checkpoint_without_renames_is_skipped(spark):
    """A checkpoint lacking ``renames`` (as written before the chain
    was checkpointed) is ignored: the fold replays the log and still
    yields the right live set and rename chain."""
    import json as _json

    path = tempfile.mkdtemp(prefix="dss_txckold_")
    txlog.create_table(_tbl(spark, [(1, "a")]), path)
    txlog.rename_column(path, "v", "label")
    v = txlog.append(_tbl(spark, [(2, "b")]).toDF("k", "label"), path)
    want = txlog._fold(path)
    with open(os.path.join(path, "_txlog", f"{v:08d}.checkpoint.json"), "w") as fh:
        _json.dump({"version": v, "live": want.live, "stats": {}}, fh)
    txlog.rename_column(path, "label", "tag")
    got = txlog._fold(path)
    assert got.live == want.live
    assert got.renames == [("v", "label"), ("label", "tag")]
    assert sorted(tuple(r) for r in txlog.read(spark, path).collect()) == [
        (1, "a"), (2, "b")
    ]
    # the maintenance policy treats it as absent and writes a real one
    assert txlog.maybe_checkpoint(path, every_n_commits=3) == v + 1
