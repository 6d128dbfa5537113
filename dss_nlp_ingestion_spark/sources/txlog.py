"""Minimal transaction-log table format (ACID-lite over raw parquet).

The reference gets write idempotence from Elasticsearch's
``_op_type='create'`` (src/res/models/datamodels.py:32) and has no
multi-writer table story at all. A 100 TB Spark pipeline needs one:
Delta/Iceberg aren't in this container, so this module implements the
log-structured core those formats share, pure stdlib + Spark:

- A table is ``<path>/data/*.parquet`` plus an append-only log
  ``<path>/_txlog/{version:08d}.json``. Each log entry lists data
  files ADDED and REMOVED by that commit. The table's state at
  version V is the fold of entries 0..V — data files are immutable
  and INVISIBLE until a log entry references them.
- Commit = write data files first, then create the next numbered log
  entry with ``O_CREAT | O_EXCL`` — the filesystem arbitrates exactly
  one winner per version, and losers RETRY against the new snapshot
  instead of failing: blind appends always merge cleanly.
- Rewrites (compaction / COW merge) declare the files they replace;
  if a concurrent commit touched any of them the rewrite raises
  ``TxConflictError`` (optimistic concurrency, writer must re-read).
- Readers are never blocked and never see partial writes: a reader
  folds whatever log prefix exists — a crashed writer leaves only
  orphan data files (cleaned by ``vacuum``), never a torn table.
- ``read(..., version=N)`` is time travel; ``history`` lists commits.

One fold, one commit loop, one rewrite loop: every reader and writer
takes a version's live files, per-file stats and rename chain from ONE
call, :func:`_fold`, never from separate replays. The fold resumes from
the newest checkpoint at or below the version (see
:func:`checkpoint_log`) and replays only the entries after it; a
checkpoint that is torn or lacks any of ``live`` / ``renames`` is
ignored, because a checkpoint is only an optimization. Every commit
that claims ``head + 1`` goes through :func:`_commit_next`. Every
copy-on-write job (MERGE, DELETE, UPDATE, compaction, Z-order) picks
the files whose rows change, rewrites them and retries a conflict in
ONE loop, :func:`_cow_rewrite`; each job supplies only its row match,
its transform and its pruning ranges.

Scale note: the log is O(commits) tiny JSON files; state folding is
driver-side metadata work (like Delta's log replay), while data stays
distributed parquet — readers hand Spark an explicit file list and
the schema from the files' footers, so partition pruning/pushdown
behave exactly as for plain parquet and building a read runs no job.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class TxConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's base
    snapshot (rewrite/replace of files another commit removed)."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _entry_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _stored_name(path: str, abs_file: str) -> str:
    """The name under which the log references ``abs_file``: relative
    to <path>/data for this table's own files, the absolute path for
    files referenced across tables (shallow clones). Rewrite/remove
    planning MUST use this, not a raw relpath — a '../..'-style
    relpath never matches the logged absolute name and the 'removed'
    file would silently stay live."""
    rel = os.path.relpath(abs_file, os.path.join(path, "data"))
    return abs_file if rel.startswith("..") else rel


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def _read_entry(path: str, version: int) -> dict:
    """Read one log entry. The O_EXCL claim makes the file visible a
    moment before its JSON is flushed, so an unluckily-timed reader
    can see an empty/partial file — retry briefly before giving up
    (the window is the time between os.open and fsync)."""
    import time as _time

    for attempt in range(5):
        try:
            with open(_entry_path(path, version)) as fh:
                return json.load(fh)
        except ValueError:
            if attempt == 4:
                raise
            _time.sleep(0.02 * (attempt + 1))
    raise AssertionError("unreachable")


class _Snapshot(NamedTuple):
    """One version's folded log state, as :func:`_fold` returns it."""

    path: str
    version: int  # -1 when the table has no commits yet
    live: list[str]  # logged (stored) names of the live files, commit order
    stats: dict  # stored name -> {col: [min, max]}, live files only
    renames: list[tuple[str, str]]  # (old, new) rename chain, commit order

    @property
    def files(self) -> list[str]:
        """Live files as paths. A shallow clone logs another table's
        files by absolute path, which os.path.join passes through."""
        return [os.path.join(self.path, "data", f) for f in self.live]


def _fold(path: str, version: int | None = None) -> _Snapshot:
    """THE log replay: the live files, their logged stats and the
    rename chain at ``version`` (head when None), in one pass over the
    entries after the newest usable checkpoint at or below it."""
    versions = _versions(path)
    if version is not None:
        versions = [v for v in versions if v <= version]
        if not versions or versions[-1] != version:
            raise ValueError(f"version {version} does not exist at {path}")
    head = versions[-1] if versions else -1
    live: dict[str, None] = {}
    stats: dict[str, dict] = {}
    renames: list[tuple[str, str]] = []
    ck = _latest_checkpoint(path, head)
    if ck is not None:
        live = dict.fromkeys(ck[1]["live"])
        stats = dict(ck[1].get("stats", {}))
        renames = [tuple(r) for r in ck[1]["renames"]]
        versions = [v for v in versions if v > ck[0]]
    for v in versions:
        e = _read_entry(path, v)
        for f in e.get("add", []):
            live[f] = None
        for f in e.get("remove", []):
            live.pop(f, None)
        stats.update(e.get("stats", {}))
        if e.get("rename"):
            renames.append(tuple(e["rename"]))
    return _Snapshot(
        path, head, list(live), {f: stats[f] for f in live if f in stats}, renames
    )


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    """Data files visible at ``version`` (latest when None)."""
    return _fold(path, version).files


def history(path: str) -> list[dict]:
    """Commit log, oldest first (op, add/remove counts, version)."""
    out = []
    for v in _versions(path):
        e = _read_entry(path, v)
        out.append(
            {
                "version": v,
                "op": e.get("op", "?"),
                "n_add": len(e.get("add", [])),
                "n_remove": len(e.get("remove", [])),
            }
        )
    return out


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    """Stage the DataFrame as parquet under data/<txn>/ — invisible
    until a log entry references the files."""
    txn = uuid.uuid4().hex[:12]
    staged = os.path.join(path, "data", txn)
    df.write.mode("errorifexists").parquet(staged)
    return [
        os.path.join(txn, n)
        for n in sorted(os.listdir(staged))
        if n.endswith(".parquet")
    ]


def _collect_file_stats(path: str, files: list[str], cols: list[str]) -> dict:
    """Per-file [min, max] for ``cols`` from the parquet footers the
    writer just produced — logged with the commit (Delta/Iceberg's
    data-skipping stats), so later readers plan file pruning from the
    LOG alone, without touching any footer."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(path, "data", rel)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        per: dict[str, list] = {}
        for col in cols:
            if col not in names:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                per[col] = [lo, hi]
        if per:
            stats[rel] = per
    return stats


def _try_commit(path: str, version: int, entry: dict) -> bool:
    """Atomically claim ``version``: O_EXCL create arbitrates one
    winner; anyone else sees EEXIST and retries on a fresh snapshot."""
    os.makedirs(_log_dir(path), exist_ok=True)
    try:
        fd = os.open(_entry_path(path, version), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    # Commit wall-clock for AS OF reads, clamped monotone against the
    # current head so a stalled winner cannot stamp an EARLIER version
    # with a LATER time than its successors (version_at stays sane).
    prev_ts = 0.0
    earlier = [v for v in _versions(path) if v < version]
    if earlier:
        try:
            prev_ts = float(_read_entry(path, earlier[-1]).get("ts", 0.0))
        except (OSError, ValueError):
            prev_ts = 0.0
    entry = dict(entry, ts=max(time.time(), prev_ts))
    with os.fdopen(fd, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return True


def _commit_next(path: str, entry_at, what: str, max_retries: int = 10) -> int:
    """The one ``head + 1`` commit loop: claim the version after the
    current head with ``entry_at(head)``, and on a lost O_EXCL race
    retry against the new head. ``entry_at`` may raise to abort, e.g.
    when a concurrent commit invalidated a rewrite's base."""
    for _ in range(max_retries):
        head = (_versions(path) or [-1])[-1]
        if _try_commit(path, head + 1, entry_at(head)):
            return head + 1
    raise TxConflictError(f"{what} lost {max_retries} commit races at {path}")


def create_table(
    df: DataFrame, path: str, stats_cols: list[str] | None = None
) -> int:
    """Initialize a tx table at ``path`` with ``df`` as version 0.
    ``stats_cols`` (numeric/string) logs per-file min/max with the
    commit for data skipping (see :func:`read_pruned`)."""
    if _versions(path):
        raise FileExistsError(f"tx table already exists at {path}")
    files = _write_data_files(df, path)
    entry: dict = {"op": "create", "add": files, "remove": []}
    if stats_cols:
        entry["stats"] = _collect_file_stats(path, files, stats_cols)
    if not _try_commit(path, 0, entry):
        raise FileExistsError(f"concurrent create at {path}")
    return 0


def append(
    df: DataFrame,
    path: str,
    max_retries: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """Append rows. Blind appends commute, so on version contention
    the commit retries against the new head (no data rewrite needed —
    the staged files are version-independent).

    ``df`` and ``stats_cols`` use the LOGICAL (post-rename) schema;
    both are folded back to the physical column names before the
    write, preserving the invariant that every data file carries the
    PHYSICAL (pre-rename) schema all snapshot readers resolve from
    (r6 advisor finding: a read()->append() round trip after
    rename_column otherwise mixes generations and breaks the rename
    resolution with duplicate columns)."""
    return _append(df, path, stats_cols, max_retries)


def _append(
    df: DataFrame,
    path: str,
    stats_cols: list[str] | None,
    max_retries: int,
    txn: tuple[str, int] | None = None,
    renames: list | None = None,
) -> int:
    """Body of :func:`append`; ``txn`` = (app_id, epoch) stamps the
    commit (:func:`append_txn`). ``renames`` is the chain when the
    caller already folded the log."""
    if renames is None:
        renames = _fold(path).renames
    df = _rename_to(df, _unapply_renames_checked(df.columns, path, renames))
    files = _write_data_files(df, path)
    entry: dict = {"op": "append", "add": files, "remove": []}
    if txn is not None:
        entry["txn"] = {"app": txn[0], "epoch": int(txn[1])}
    if stats_cols:
        entry["stats"] = _collect_file_stats(
            path, files, _physical_names(stats_cols, renames)
        )
    return _commit_next(path, lambda head: entry, "append", max_retries)


def rewrite(
    df: DataFrame,
    path: str,
    replace: list[str],
    expect_version: int,
    op: str = "rewrite",
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Replace ``replace`` (relative file names from the snapshot the
    caller read) with ``df`` — the COW-merge/compaction commit. NOT
    retryable: if any concurrent commit advanced the table past
    ``expect_version`` AND removed one of the files being replaced,
    the base snapshot is stale -> TxConflictError (caller re-reads).
    Concurrent APPENDS don't conflict (disjoint files) — the rewrite
    commits on top of them (ten lost version races in a row also
    raise ``TxConflictError``). ``txn`` = (app_id, epoch) stamps the
    commit for :func:`last_committed_txn` replay detection."""
    files = _write_data_files(df, path)
    entry: dict = {"op": op, "add": files, "remove": list(replace)}
    if txn is not None:
        entry["txn"] = {"app": txn[0], "epoch": int(txn[1])}
    if stats_cols:
        entry["stats"] = _collect_file_stats(path, files, stats_cols)

    def entry_at(head: int) -> dict:
        if head > expect_version:
            # someone committed since our snapshot: conflict iff they
            # removed any file we're replacing
            still_live = set(_fold(path, head).live)
            gone = [f for f in replace if f not in still_live]
            if gone:
                raise TxConflictError(
                    f"rewrite base is stale: {gone} removed by a concurrent commit"
                )
        return entry

    return _commit_next(path, entry_at, op)


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Snapshot (or time-travel) read: hand Spark the exact file
    list, so pushdown/pruning work as on plain parquet.

    ``merge_schema`` (default on) unions the live files' footers, so
    a snapshot spanning an additive schema change (see :func:`append`)
    reads as the widest schema with NULLs for pre-evolution rows —
    the same reader-side resolution Delta/Iceberg perform from their
    logged schemas. The schema is read from the footers on the driver
    (see :func:`_scan`), so building the read runs no Spark job."""
    return _scan(spark, _read_snapshot(path, version), merge_schema=merge_schema)


def _read_snapshot(path: str, version: int | None = None) -> _Snapshot:
    """The fold behind :func:`read`, the rewrite jobs and the
    ``format("txlog")`` reader: refuses a version below the vacuum
    horizon (its data files were reclaimed) and an empty snapshot."""
    horizon = _vacuum_horizon(path)
    if version is not None and version < horizon:
        raise ValueError(
            f"version {version} is below the vacuum horizon "
            f"{horizon} at {path}: its data files were reclaimed"
        )
    snap = _fold(path, version)
    if not snap.live:
        raise ValueError(f"empty snapshot at {path} version={version}")
    return snap


def _scan(
    spark: SparkSession,
    snap: _Snapshot,
    files: list[str] | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Parquet scan of ``files`` (default: every live file) resolved to
    the snapshot's LOGICAL schema — every snapshot reader goes through
    it, so none exposes physical (pre-rename) column names."""
    files = snap.files if files is None else files
    schema = _footer_schema(spark, files, merge_schema)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*files)
    return _rename_to(df, _logical_names(df.columns, snap.renames))


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, files: list[str], merge_schema: bool):
    """The schema Spark's parquet inference would give ``files``, read
    on the driver from the Spark schema each writer stores in its
    footer, so the scan needs no schema-inference job. Spark orders the
    footers by path; with ``merge_schema`` it folds them with its own
    ``StructType.merge`` (called through the JVM, so field order,
    widening and conflict errors stay Spark's), without it the first
    footer wins. Every file of one data directory comes from one write
    (:func:`_write_data_files`) and so carries one schema: one footer
    per directory is read, O(commits) rather than O(files). None when a
    file carries no Spark schema (written by another writer, e.g. the
    ``format("txlog")`` data source) or is missing: the caller then
    leaves inference, and its errors, to Spark."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    firsts: dict[str, str] = {}  # directory -> its first file by path
    for f in sorted(files):
        firsts.setdefault(os.path.dirname(f), f)
    ordered = list(firsts.values())
    found: dict[bytes, None] = {}  # distinct schemas, first-seen order
    for f in ordered if merge_schema else ordered[:1]:
        try:
            meta = pq.read_schema(f).metadata or {}
        except FileNotFoundError:
            return None
        if _SPARK_SCHEMA_KEY not in meta:
            return None
        found[meta[_SPARK_SCHEMA_KEY]] = None
    parse = spark._jvm.org.apache.spark.sql.types.DataType.fromJson
    case_sensitive = spark._jsparkSession.sessionState().conf().caseSensitiveAnalysis()
    schemas = [parse(js.decode()) for js in found]
    merged = reduce(lambda a, b: a.merge(b, case_sensitive), schemas)
    return StructType.fromJson(json.loads(merged.json()))


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    max_retries: int = 3,
) -> int:
    """OPTIMIZE: rewrite the current snapshot's (typically many,
    small) data files into ``target_files`` compacted ones in ONE
    atomic commit — readers see either the old file set or the new
    one, never both, and time travel to pre-compaction versions keeps
    working (replaced files stay on disk, reachable via the log).

    Small files are the tax every log-structured table pays for
    streaming/trickle appends; at 100 TB an uncompacted table turns
    scans into open()-bound metadata storms. Concurrent APPENDS
    commute with the rewrite (disjoint files); a concurrent rewrite
    of the same base raises ``TxConflictError`` and is retried here
    against the fresh snapshot. An empty snapshot raises ValueError."""
    return _cow_rewrite(
        spark, path, "compact", lambda df: df.coalesce(target_files),
        max_retries=max_retries,
    )["version"]


def vacuum(path: str, grace_seconds: float = 3600.0) -> list[str]:
    """Delete orphan data files no log entry references (crashed
    writers' staging leftovers). Never touches referenced files, so
    time travel to every committed version keeps working.

    ``grace_seconds`` (default 1 h, Delta-style retention guard):
    unreferenced files YOUNGER than the window are kept — a concurrent
    writer stages its data files BEFORE committing the log entry, so
    an ungraced vacuum racing an in-flight append/rewrite would delete
    files the winning commit then references, tearing the table (r5
    advisor finding). The window makes the common race safe; running
    with ``grace_seconds=0`` requires the caller to guarantee no
    writer is active (same precondition as :func:`vacuum_retain`)."""
    referenced: set[str] = set()
    for v in _versions(path):
        e = _read_entry(path, v)
        referenced.update(e.get("add", []))
    data_root = os.path.join(path, "data")
    now = time.time()
    removed = []
    for dirpath, _dirs, names in os.walk(data_root):
        for n in names:
            full = os.path.join(dirpath, n)
            rel = os.path.relpath(full, data_root)
            if not n.endswith(".parquet") or rel in referenced:
                continue
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # racing writer renamed/removed it — skip
            if age < grace_seconds:
                continue
            os.remove(full)
            removed.append(rel)
    return removed


def added_files_between(path: str, v_from: int, v_to: int) -> list[str]:
    """Data files added by commits in (v_from, v_to] and still live at
    v_to — the delta an incremental refresh scans instead of the whole
    table (incremental view maintenance over the log)."""
    return _file_diff(path, v_from, v_to)[0]


def _file_diff(
    path: str, v_from: int, v_to: int
) -> tuple[list[str], list[str], _Snapshot]:
    """(files added, files removed, snapshot at v_to) between two
    versions, from one fold of each."""
    before, after = _fold(path, v_from), _fold(path, v_to)
    was, now = set(before.live), set(after.live)
    return (
        [os.path.join(path, "data", f) for f in after.live if f not in was],
        [os.path.join(path, "data", f) for f in before.live if f not in now],
        after,
    )


def net_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level NET change feed between two versions (Delta's change
    data feed in its merge-on-read form): scan ONLY the files the log
    says changed, count each row value +1 per added-file occurrence
    and -1 per removed-file occurrence, and keep the non-zero net —
    rows a rewrite merely copied from an old file to a new one cancel
    out, so compactions produce an EMPTY feed and a rewrite-with-
    delete produces exactly its deletions.

    Output: ``change`` ('insert'/'delete'), the row columns, and
    ``n`` (|net| multiplicity). Cost is O(changed files), not
    O(table) — at 100 TB an incremental consumer reads the commit
    delta, never the snapshot; the groupBy shuffles only changed-file
    rows on their full row value."""
    from pyspark.sql import functions as F

    if v_to is None:
        v_to = (_versions(path) or [-1])[-1]
    added, removed, snap = _file_diff(path, v_from, v_to)
    # Rename resolution (as in read()): a pre-rename removed file and
    # a post-rename added file carry different PHYSICAL names for the
    # same logical column; fold the v_to chain on each side so copied
    # rows align under unionByName and cancel, and the feed exposes
    # the logical schema consumers filter on.
    parts = [
        _scan(spark, snap, files).withColumn("_sign", F.lit(sign).cast("long"))
        for files, sign in ((added, 1), (removed, -1))
        if files
    ]
    if not parts:
        raise ValueError(f"no changes between v{v_from} and v{v_to} at {path}")
    delta = parts[0]
    for p in parts[1:]:
        # Additive schema evolution: a pre-evolution removed file and a
        # post-evolution added file differ in columns; NULL-pad so the
        # widened row value is what nets (a copied row with extra=NULL
        # on both sides still cancels).
        delta = delta.unionByName(p, allowMissingColumns=True)
    cols = [c for c in delta.columns if c != "_sign"]
    net = (
        delta.groupBy(*cols)
        .agg(F.sum("_sign").alias("_net"))
        .filter(F.col("_net") != 0)
    )
    return net.select(
        F.when(F.col("_net") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("change"),
        *cols,
        F.abs(F.col("_net")).cast("long").alias("n"),
    )


def snapshot_row_count(path: str, version: int | None = None) -> int:
    """Metadata-only COUNT(*): sum the parquet footers' row counts
    over the snapshot's file list — no Spark job, no data pages read.
    This is the aggregate-pushdown-to-statistics path every lakehouse
    format serves count/min/max from; at 100 TB it answers in
    O(files) footer reads instead of a full scan."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in snapshot_files(path, version)
    )


def snapshot_file_stats(path: str, version: int | None = None) -> dict:
    """{relative file -> {col: [min, max]}} for the snapshot's live
    files, folded from the log entries' logged stats (files committed
    without stats simply have no entry — they can never be pruned)."""
    return _fold(path, version).stats


def plan_pruned_files(
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Data skipping from the LOG's per-file stats: keep a file iff
    its [min, max] for ``col`` can overlap [lo, hi] — files without
    logged stats are always kept, so pruning has NO false negatives.
    Returns (files to scan, files skipped). Pure driver-side metadata
    work: at 100 TB this turns a point/range query on a clustered
    commit pattern into an O(matching files) scan, the same plan step
    Delta/Iceberg data skipping performs.

    ``col`` may be a LOGICAL (post-rename) or physical name: stats
    are consulted under every physical name that folds to it, so
    pruning keeps working across ``rename_column``."""
    return _prune(_fold(path, version), {col: (lo, hi)})


def _prune(snap: _Snapshot, ranges: dict) -> tuple[list[str], int]:
    """The one overlap test: keep a live file unless, for some
    ``{col: (lo, hi)}`` range, its logged [min, max] under a physical
    name of ``col`` lies wholly outside it. Files and columns without
    stats are kept. Returns (files to scan, files skipped)."""
    names = {col: _physical_candidates(col, snap.renames) for col in ranges}
    keep, skipped = [], 0
    for rel, f in zip(snap.live, snap.files):
        per_file = snap.stats.get(rel, {})
        if any(
            per is not None
            and ((hi is not None and per[0] > hi) or (lo is not None and per[1] < lo))
            for col, (lo, hi) in ranges.items()
            for per in (per_file.get(name) for name in names[col])
        ):
            skipped += 1
        else:
            keep.append(f)
    return keep, skipped


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read planned through :func:`plan_pruned_files` — the
    one-range form of :func:`read_pruned_multi`. The range predicate
    is ALSO applied as a real filter (pruning is a superset guarantee,
    the filter is the semantics).

    ``col`` is the LOGICAL (post-rename) name: pruning consults the
    logged stats under every physical name that folds to it, and the
    returned DataFrame carries the same rename-resolved schema as
    :func:`read`."""
    return read_pruned_multi(spark, path, {col: (lo, hi)}, version)


def version_at(path: str, ts: float) -> int:
    """Latest version committed at or before wall-clock ``ts`` — the
    ``AS OF TIMESTAMP`` resolution step (commit timestamps are logged
    with each entry; pre-timestamp legacy entries count as t=0)."""
    best = None
    running = 0.0
    for v in _versions(path):
        running = max(running, float(_read_entry(path, v).get("ts", 0.0)))
        if running <= ts:
            best = v
    if best is None:
        raise ValueError(f"no commit at or before ts={ts} at {path}")
    return best


def read_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Time travel by TIMESTAMP: snapshot as of wall-clock ``ts``."""
    return read(spark, path, version=version_at(path, ts))


class TxCheckViolation(RuntimeError):
    """A CHECK constraint rejected the rows of an attempted commit."""


def append_checked(
    df: DataFrame,
    path: str,
    check: str,
    max_retries: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """Constraint-enforced append (Delta's CHECK constraints / write-path
    expectations): the commit is REFUSED — nothing staged, nothing
    logged — unless every incoming row satisfies the SQL predicate
    ``check``. Validation is one distributed count of violations
    (predicate pushdown applies), so the gate costs a scan of the
    DELTA only, never the table."""
    from pyspark.sql import functions as F

    n_bad = df.filter(~F.expr(check)).count()
    if n_bad:
        raise TxCheckViolation(
            f"{n_bad} row(s) violate CHECK ({check}); commit refused"
        )
    return append(df, path, max_retries=max_retries, stats_cols=stats_cols)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_cols: list[str],
    target_files: int = 8,
    max_retries: int = 3,
) -> int:
    """OPTIMIZE ZORDER BY: one atomic rewrite that re-clusters the
    snapshot along the Morton curve of ``zorder_cols`` AND logs
    per-file min/max for them — after it, range predicates on ANY of
    the clustered dimensions prune files from the log (a 1-d sort
    only serves its leading column). Same optimistic-concurrency
    story as ``compact``: concurrent appends commute, a lost rewrite
    race retries on the fresh snapshot, and time travel to the
    pre-optimize layout keeps working.

    This is the recluster job a 100 TB table runs periodically so
    that the dominant 2-3 predicate columns all get file-level
    skipping; cost is one full read + range-partitioned write, all
    distributed (the min/max normalization is a one-row aggregate)."""
    from dss_nlp_ingestion_spark.sources.layout import zorder_cluster

    return _cow_rewrite(
        spark, path, "zorder",
        lambda df: zorder_cluster(df, zorder_cols, target_files),
        stats_cols=zorder_cols, max_retries=max_retries,
    )["version"]


def vacuum_retain(path: str, horizon_version: int) -> dict:
    """Retention VACUUM (the Delta `VACUUM RETAIN` semantics, by
    version rather than wall-clock): physically delete data files
    that are not live in ANY snapshot >= ``horizon_version``, and
    record the horizon so time travel below it fails loudly instead
    of returning a torn snapshot. Commits (the log itself) are kept —
    history/audit stays readable; only pre-horizon DATA reachability
    is given up. Returns {"removed": [...], "horizon": v}.

    This is the storage-reclaim lever a 100 TB log-structured table
    must have: without it every rewrite/compaction doubles storage
    forever. Driver-side metadata fold + unlink; never touches files
    any retained snapshot references."""
    versions = _versions(path)
    if horizon_version not in versions:
        raise ValueError(f"horizon {horizon_version} is not a version at {path}")
    # A file is live in some snapshot >= the horizon iff it is live AT
    # the horizon or a later commit adds it.
    keep = set(_fold(path, horizon_version).live)
    # Only files the LOG references are candidates: a staged-but-not-
    # yet-committed file of an in-flight writer is invisible to the
    # log and MUST survive (deleting it would tear the table the
    # moment that writer wins its commit). Orphan cleanup remains
    # vacuum()'s job, to be run only when no writers are active.
    referenced: set[str] = set()
    for v in versions:
        added = _read_entry(path, v).get("add", [])
        referenced.update(added)
        if v > horizon_version:
            keep.update(added)
    removed = []
    data_root = os.path.join(path, "data")
    for rel in sorted(referenced - keep):
        # A shallow clone logs ANOTHER table's files by absolute path;
        # os.path.join passes those through untouched, so without this
        # guard a clone's vacuum would delete the SOURCE table's live
        # data. Reclaim only files physically under THIS table's root.
        if os.path.isabs(rel):
            continue
        full = os.path.join(data_root, rel)
        try:
            os.remove(full)
            removed.append(rel)
        except FileNotFoundError:
            pass
    # persist the horizon (O_EXCL-free: monotone max, last writer wins)
    hpath = os.path.join(_log_dir(path), "_vacuum_horizon")
    prev = -1
    try:
        with open(hpath) as fh:
            prev = int(fh.read().strip() or -1)
    except (OSError, ValueError):
        pass
    effective = max(prev, horizon_version)
    with open(hpath, "w") as fh:
        fh.write(str(effective))
    return {"removed": sorted(removed), "horizon": effective}


def _vacuum_horizon(path: str) -> int:
    try:
        with open(os.path.join(_log_dir(path), "_vacuum_horizon")) as fh:
            return int(fh.read().strip() or -1)
    except (OSError, ValueError):
        return -1


def tag(path: str, name: str, version: int | None = None) -> int:
    """Create/overwrite a named TAG pointing at ``version`` (default
    head) — the lakeFS/Nessie-style stable ref ('prod', 'eval-v2')
    that decouples consumers from version numbers. Tags are tiny
    files under _txlog/tags/; resolution is one read."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
        raise ValueError(f"invalid tag name {name!r}")
    if version is None:
        version = (_versions(path) or [-1])[-1]
    if version < 0 or version not in _versions(path):
        raise ValueError(f"version {version} does not exist at {path}")
    tags_dir = os.path.join(_log_dir(path), "tags")
    os.makedirs(tags_dir, exist_ok=True)
    tmp = os.path.join(tags_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(tags_dir, name))  # atomic overwrite
    return version


def resolve_tag(path: str, name: str) -> int:
    try:
        with open(os.path.join(_log_dir(path), "tags", name)) as fh:
            return int(fh.read().strip())
    except OSError as exc:
        raise ValueError(f"no tag {name!r} at {path}") from exc


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Snapshot read through a named tag."""
    return read(spark, path, version=resolve_tag(path, name))


def snapshot_col_minmax(path: str, col: str, version: int | None = None):
    """Metadata-only MIN/MAX over the snapshot, served from the
    commit-logged file stats (falling back to parquet footers for
    statless files) — the other aggregate the lakehouse answers
    without scanning data pages. Returns (min, max)."""
    import pyarrow.parquet as pq

    snap = _fold(path, version)
    lo = hi = None
    for rel, f in zip(snap.live, snap.files):
        per = snap.stats.get(rel, {}).get(col)
        if per is None:
            if pq.ParquetFile(f).metadata.num_rows == 0:
                continue  # empty part file: contributes nothing
            per_map = _collect_file_stats(path, [rel], [col]).get(rel, {})
            per = per_map.get(col)
            if per is None:
                raise ValueError(
                    f"no min/max statistics derivable for {col!r} in {rel}"
                )
        lo = per[0] if lo is None else min(lo, per[0])
        hi = per[1] if hi is None else max(hi, per[1])
    if lo is None:
        raise ValueError(f"empty snapshot at {path}")
    return lo, hi


def register_catalog(spark: SparkSession, tables: dict) -> None:
    """SQL front door for tx tables: register each {view_name: path}
    as a temp view through the format('txlog') data source, so
    ``spark.sql`` consumers query log-structured tables by name with
    snapshot isolation."""
    from dss_nlp_ingestion_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    for name, p in tables.items():
        spark.read.format("txlog").option("path", p).load().createOrReplaceTempView(
            name
        )


def append_feed_files_between(path: str, v_from: int, v_to: int) -> list[str]:
    """Files carrying NEW rows committed in (v_from, v_to]: the add
    sets of create/append/overwrite entries only. Rewrite-family
    commits (compact / zorder / delete / COW merge) reshuffle or
    remove EXISTING rows — walking the raw file diff would re-deliver
    every copied row (the compaction-replay bug); an append feed must
    walk the LOG's operations instead. Files here may already be
    replaced in the latest snapshot but remain on disk and readable
    until a retention vacuum passes them — the same CDF-retention
    coupling Delta documents."""
    out = []
    for v in _versions(path):
        if v_from < v <= v_to:
            e = _read_entry(path, v)
            if e.get("op") in ("create", "append", "overwrite"):
                out.extend(os.path.join(path, "data", f) for f in e.get("add", []))
    return out


def merge_into_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    insert_only: bool = False,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
    null_safe: bool = False,
) -> dict:
    """ACID ``MERGE INTO`` on a tx table — the Delta/Iceberg merge
    plan, run on the copy-on-write loop :func:`_cow_rewrite`: (1) PRUNE
    candidate files by the source's key bounds against the
    commit-logged key stats (one aggregate job, then driver-side
    metadata), (2) FIND the exact touched files with one semi-join of
    the candidates against the distinct source keys (files whose rows
    can never match are never rewritten), (3) rewrite ONLY the touched
    files through :func:`..operators.merge.merge_into`, committed
    atomically with ``rewrite``; a source with no matches anywhere
    degrades to a blind (retryable) append. Cost is O(files holding
    matched keys) + O(source), not O(table), only when keys are
    clustered by file, so that each file's min/max key range covers a
    slice of the key space and the stats prune the rest. On hash keys,
    such as the paper's ``unique_identifier``, every file's range spans
    the key space, nothing is pruned, and a handful of matched keys
    spread over the store rewrites every file: a traced ``perfbench``
    ``upsert_stream`` batch touched 4 of 4 files (``merge_prune_frac``
    0) and wrote 452 rows for 43 source rows (ROADMAP D6). The
    reference's upsert analog, the ES ``_id``-keyed bulk index
    (src/base.py:239-253), rewrites documents, never the store.

    Isolation matches Delta's default WriteSerializable: concurrent
    blind appends commute with the merge commit (their rows were not
    in our snapshot and no file conflicts arise); a concurrent rewrite
    of a touched file raises ``TxConflictError`` and the merge retries
    against the fresh snapshot, recomputing its file plan.

    ``delete_col`` names a boolean tombstone column on ``source``
    (WHEN MATCHED AND <flag> THEN DELETE). ``insert_only`` is WHEN NOT
    MATCHED THEN INSERT alone (insert-if-absent, the reference's
    ``_op_type='create'`` load, src/base.py:155-196): the candidate
    files' keys anti-join the source, only the unmatched source rows
    are appended, and no file is rewritten, so a replay commits
    nothing (with ``txn``, one stamped entry that adds no file). A
    ``txn`` = (app_id, epoch) already committed skips the whole merge.
    ``null_safe`` compares keys with ``<=>`` — for GROUP-BY-keyed
    callers (matview refresh) where NULL is an ordinary key value; it
    also disables stat pruning when the source carries a NULL key,
    because parquet min/max stats ignore NULLs, so a file holding
    NULL-keyed rows can sit outside every stats range. Returns
    :func:`_cow_rewrite`'s summary (version committed, files
    touched/total/stat-skipped, ``rows_written``) plus whether the
    commit degraded to an append and whether a replay was skipped."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.operators.merge import _key_cond, merge_into

    if txn is not None and last_committed_txn(path, txn[0]) >= txn[1]:
        return {
            "version": _versions(path)[-1],
            "files_touched": 0,
            "files_total": 0,
            "files_skipped_by_stats": 0,
            "rows_written": 0,
            "appended": False,
            "skipped": True,
        }
    # The merge reads ``source`` three times (pruning bounds, touched-
    # file semi-join, COW rewrite), and for CDC / matview callers it is
    # a whole net-changes pipeline, so it is cached for the call: it is
    # O(commit delta), never O(table). A source the caller cached is
    # used as is and stays cached; a cache made here is released below.
    owned = source.storageLevel == StorageLevel.NONE
    if owned:
        source = source.persist()
    try:
        ranges = {}
        if len(key_cols) == 1:
            key = key_cols[0]
            # One aggregate job yields the pruning bounds AND (for the
            # null-safe path) whether any source key is NULL — min/max
            # ignore NULLs, so NULL presence needs its own flag.
            bounds = source.agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.max(F.col(key).isNull().cast("int")).alias("has_null"),
            ).collect()[0]
            if bounds["lo"] is not None and not (null_safe and bounds["has_null"]):
                ranges = {key: (bounds["lo"], bounds["hi"])}
        prefixed = [F.col(k).alias(f"_s_{k}") for k in key_cols]

        def append_unmatched(snap: _Snapshot, candidates: list, res: dict) -> dict:
            # Nothing to rewrite: a pure insert commutes with every
            # concurrent commit -> blind retryable append (folded to the
            # physical schema like any append).
            inserts = source
            if insert_only and candidates:
                tgt_keys = _scan(spark, snap, candidates).select(*prefixed)
                inserts = source.join(
                    tgt_keys,
                    _key_cond(source, tgt_keys, key_cols, null_safe),
                    "left_anti",
                )
            if delete_col is not None:
                inserts = inserts.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            if inserts.isEmpty():
                if txn is not None:
                    # the watermark must still advance: commit a stamped
                    # entry that adds no file, else CDC/matview consumers
                    # re-scan an ever-growing source window
                    stamp = {"op": "append", "add": [], "remove": [],
                             "txn": {"app": txn[0], "epoch": int(txn[1])}}
                    res["version"] = _commit_next(path, lambda head: stamp, "append")
                return res
            res["version"] = _append(inserts, path, stats_cols, 10, txn, snap.renames)
            res["appended"] = True
            res["rows_written"] = _rows_added(path, res["version"])
            return res

        src_keys = source.select(*prefixed).distinct()
        res = _cow_rewrite(
            spark, path, "merge",
            None if insert_only else lambda tgt: merge_into(
                tgt, source, key_cols, null_safe=null_safe, delete_col=delete_col
            ),
            match=lambda cand: cand.join(
                src_keys, _key_cond(cand, src_keys, key_cols, null_safe), "left_semi"
            ),
            ranges=ranges, stats_cols=stats_cols, max_retries=max_retries,
            txn=txn, untouched=append_unmatched,
        )
        return {"appended": False, **res, "skipped": False}
    finally:
        if owned:
            source.unpersist()


def _rows_added(path: str, version: int) -> int:
    """Rows in the data files commit ``version`` added, summed from
    their parquet footers on the driver: no Spark job, no data page."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, "data", f)).num_rows
        for f in _read_entry(path, version)["add"]
    )


def _touched_files(df: DataFrame) -> list[str]:
    """Distinct data files (the ``_f`` input_file_name() column) that
    hold ``df``'s rows. input_file_name() yields file: URIs; the log
    stores plain paths — normalize before diffing against it."""
    return [
        re.sub(r"^file:/{0,2}(?=/)", "", r["_f"])
        for r in df.select("_f").distinct().collect()
    ]


def last_committed_txn(path: str, app_id: str) -> int:
    """Highest ``epoch`` committed for ``app_id`` — the reader half of
    Delta's txnAppId/txnVersion idempotent-writer protocol. -1 when
    the app never committed. O(log) driver-side metadata walk."""
    best = -1
    for v in _versions(path):
        t = _read_entry(path, v).get("txn")
        if t and t.get("app") == app_id:
            best = max(best, int(t.get("epoch", -1)))
    return best


def append_txn(
    df: DataFrame,
    path: str,
    app_id: str,
    epoch: int,
    stats_cols: list[str] | None = None,
    max_retries: int = 10,
) -> int | None:
    """Idempotent append: commit ``df`` tagged (app_id, epoch); if a
    commit from ``app_id`` with epoch >= ``epoch`` already exists the
    write is SKIPPED (returns None) — a replayed micro-batch lands
    zero rows. Assumes one live writer per app_id at a time (the
    streaming-driver contract Delta documents for txnAppId); the data
    staging happens only after the skip check, so replays cost one
    metadata walk, no parquet write. Like :func:`append`, ``df`` and
    ``stats_cols`` are logical-schema and folded to the physical
    column names before the write."""
    if last_committed_txn(path, app_id) >= epoch:
        return None
    return _append(df, path, stats_cols, max_retries, txn=(app_id, epoch))


def delete_from_table(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
) -> dict:
    """SQL ``DELETE FROM t WHERE predicate`` on a tx table, the Delta
    COW plan: (1) prune candidate files from commit-logged stats when
    the caller supplies the predicate's column range (no false
    negatives — statless files always scan), (2) one pass finds the
    exact files CONTAINING matching rows, (3) only those files are
    rewritten without their matching rows, atomically. Files with no
    matches are never read again, never rewritten. ``predicate`` is a
    SQL expression string evaluated by Spark (same text can run in
    the oracle). Returns :func:`_cow_rewrite`'s summary."""
    from pyspark.sql import functions as F

    return _cow_rewrite(
        spark, path, "delete", lambda tgt: tgt.filter(~F.expr(predicate)),
        match=lambda cand: cand.filter(F.expr(predicate)),
        ranges={} if prune_col is None else {prune_col: (prune_lo, prune_hi)},
        stats_cols=stats_cols, max_retries=max_retries,
    )


def update_table(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
) -> dict:
    """SQL ``UPDATE t SET col = expr WHERE predicate``: same
    file-pruned COW plan as :func:`delete_from_table`, but touched
    files are rewritten with matching rows transformed (non-matching
    rows in those files are carried unchanged)."""
    from pyspark.sql import functions as F

    def transform(tgt: DataFrame) -> DataFrame:
        unknown = set(set_exprs) - set(tgt.columns)
        if unknown:
            raise ValueError(
                f"UPDATE SET refers to non-existent columns {sorted(unknown)} "
                f"(table has {tgt.columns})"
            )
        match = F.expr(predicate)
        return tgt.select(
            *[
                (
                    F.when(match, F.expr(set_exprs[c])).otherwise(F.col(c))
                    if c in set_exprs
                    else F.col(c)
                ).alias(c)
                for c in tgt.columns
            ]
        )

    return _cow_rewrite(
        spark, path, "update", transform,
        match=lambda cand: cand.filter(F.expr(predicate)),
        ranges={} if prune_col is None else {prune_col: (prune_lo, prune_hi)},
        stats_cols=stats_cols, max_retries=max_retries,
    )


def _cow_rewrite(
    spark: SparkSession,
    path: str,
    op: str,
    transform,
    match=None,
    ranges: dict | None = None,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
    untouched=None,
) -> dict:
    """THE copy-on-write loop: MERGE, DELETE, UPDATE, compaction and
    Z-order all rewrite through it, and it is the module's only caller
    of :func:`rewrite`. Each pass (1) folds the snapshot, (2) prunes
    candidate files by their logged stats for ``ranges`` ({col: (lo,
    hi)}, LOGICAL names), (3) finds the touched files with one
    ``input_file_name()`` pass of ``match``, a function of the
    candidates' rows that keeps the rows to change, (4) rewrites the
    touched files through ``transform``, a function of their
    LOGICAL-schema rows (:func:`_scan` resolves renames), committed
    with ``rewrite(..., txn=txn)``, and (5) on a ``TxConflictError``
    reruns the whole plan against the fresh snapshot.

    ``match`` None touches every live file without a scan (compaction
    and Z-order); those read through :func:`_read_snapshot`, so an
    empty snapshot raises. ``transform`` None rewrites nothing (the
    insert-only MERGE). When nothing is rewritten the pass returns
    ``untouched(snap, candidates, res)`` if given, else the summary
    ``res``: the version, files touched / total / skipped by stats,
    and ``rows_written`` (:func:`_rows_added`, no Spark job)."""
    from pyspark.sql import functions as F

    last_err: TxConflictError | None = None
    for _ in range(max_retries):
        snap = _read_snapshot(path) if match is None else _fold(path)
        if snap.version < 0:
            raise ValueError(f"no tx table at {path}")
        candidates, skipped = _prune(snap, ranges or {})
        if transform is None or not candidates:
            touched = []
        elif match is None:
            touched = candidates
        else:
            cand = _scan(spark, snap, candidates).withColumn("_f", F.input_file_name())
            touched = _touched_files(match(cand))
        res = {
            "version": snap.version,
            "files_touched": 0,
            "files_total": len(snap.live),
            "files_skipped_by_stats": skipped,
            "rows_written": 0,
        }
        if not touched:
            return untouched(snap, candidates, res) if untouched else res
        try:
            # Fold back to the physical schema: every data file keeps
            # the physical (pre-rename) column names all snapshot
            # readers resolve from.
            res["version"] = rewrite(
                _unapply_renames(transform(_scan(spark, snap, touched)), snap.renames),
                path,
                [_stored_name(path, f) for f in touched],
                expect_version=snap.version,
                op=op,
                stats_cols=_physical_names(stats_cols, snap.renames),
                txn=txn,
            )
        except TxConflictError as exc:
            last_err = exc
            continue
        res["files_touched"] = len(touched)
        res["rows_written"] = _rows_added(path, res["version"])
        return res
    raise TxConflictError(
        f"{op} lost {max_retries} commit races at {path}: {last_err}"
    )


# ---------------------------------------------------------------------------
# Log checkpointing: O(entries-since-checkpoint) state replay
# ---------------------------------------------------------------------------

_CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")


def _latest_checkpoint(path: str, version: int | None = None):
    """(checkpoint_version, payload) of the newest checkpoint at or
    below ``version`` (head when None), or None. Unreadable/partial
    checkpoints, and ones lacking the ``live`` or ``renames`` key, are
    skipped — a checkpoint is ALWAYS a pure optimization, never
    required for correctness."""
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return None
    cands = sorted(
        (int(m.group(1)) for n in names if (m := _CKPT_RE.match(n))),
        reverse=True,
    )
    for v in cands:
        if version is not None and v > version:
            continue
        try:
            with open(os.path.join(_log_dir(path), f"{v:08d}.checkpoint.json")) as fh:
                payload = json.load(fh)
            if payload.get("version") == v and {"live", "renames"} <= payload.keys():
                return v, payload
        except (OSError, ValueError):
            continue
    return None


def checkpoint_log(path: str) -> int:
    """Write a checkpoint of the CURRENT head's folded state (live
    file set + their stats) — Delta's 10-commit checkpoint mechanism:
    afterwards every snapshot/stats fold replays only entries NEWER
    than the checkpoint, so planning cost stays O(recent commits)
    instead of O(table lifetime) on a long-lived streaming table.
    Written to a temp file + atomic rename; readers that race the
    rename simply use the previous checkpoint. Returns the
    checkpointed version."""
    snap = _fold(path)
    head = snap.version
    if head < 0:
        raise ValueError(f"no tx table at {path}")
    payload = {
        "version": head,
        "live": snap.live,
        "stats": snap.stats,
        "renames": [list(t) for t in snap.renames],
    }
    final = os.path.join(_log_dir(path), f"{head:08d}.checkpoint.json")
    tmp = final + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)
    return head


def restore_table(path: str, version: int, max_retries: int = 10) -> int:
    """Delta ``RESTORE TABLE t TO VERSION AS OF v``: commit a new
    entry whose live set is exactly the target snapshot's (add files
    live then but not now, remove files live now but not then). Pure
    metadata — NO data is copied or rewritten; history is preserved
    (the restore is itself a commit, so it can be restored away).
    Fails if the target is below the vacuum horizon (its files may be
    reclaimed)."""
    if version < _vacuum_horizon(path):
        raise ValueError(
            f"cannot restore to {version}: below vacuum horizon "
            f"{_vacuum_horizon(path)} at {path}"
        )
    target = set(_fold(path, version).live)

    def entry_at(head: int) -> dict:
        current = set(_fold(path, head).live)
        return {
            "op": "restore",
            "add": sorted(target - current),
            "remove": sorted(current - target),
            "restore_of": version,
        }

    return _commit_next(path, entry_at, "restore", max_retries)


def clone_table(src_path: str, dst_path: str, version: int | None = None) -> int:
    """Delta SHALLOW CLONE: create a NEW tx table whose version 0
    references the source snapshot's data files by absolute path —
    zero data copied, O(files) metadata. The clone then evolves
    independently (its own log; appends/merges land under its own
    data/ dir). Contract (same as Delta): the source must not VACUUM
    past the cloned version while the clone lives — document-level
    coupling, checked lazily at read time by the missing-file error."""
    if _versions(dst_path):
        raise FileExistsError(f"tx table already exists at {dst_path}")
    if version is not None and version < _vacuum_horizon(src_path):
        raise ValueError(
            f"cannot clone {src_path} at version {version}: below its "
            f"vacuum horizon {_vacuum_horizon(src_path)} (data reclaimed)"
        )
    src = _fold(src_path, version)
    # store absolute paths: snapshot_files only path-joins relative
    # names, and os.path.join passes absolute components through.
    entry = {"op": "clone", "add": src.files, "remove": [],
             "clone_of": {"path": src_path, "version": version}}
    data_root = os.path.join(src_path, "data")
    stats = {os.path.join(data_root, rel): per for rel, per in src.stats.items()}
    if stats:
        entry["stats"] = stats
    if not _try_commit(dst_path, 0, entry):
        raise FileExistsError(f"concurrent create at {dst_path}")
    return 0


def replicate_incremental(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols: list[str],
    stats_cols: list[str] | None = None,
) -> dict:
    """Incremental CDC replication between tx tables: apply the
    SOURCE's net row changes since the replica's last applied source
    version, through the file-pruned ACID merge. The applied-version
    watermark needs no side store — it IS the idempotent-writer stamp
    (app = 'cdc', epoch = source version) in the REPLICA's own log,
    so replication is exactly-once under retries and crash-replays by
    the same mechanism as the streaming sink. Cost per cycle:
    O(source commit delta) + O(replica files holding changed keys) —
    a 100 TB replica follows a busy source by reading neither table
    in full. The replica must be initialized from the source (clone
    or create from a snapshot read) so the watermark baseline is the
    cloned version."""
    from pyspark.sql import functions as F

    app = "cdc"
    v_to = (_versions(src_path) or [-1])[-1]
    v_from = last_committed_txn(dst_path, app)
    if v_from < 0:
        # baseline: the version the replica was initialized from
        e0 = _read_entry(dst_path, 0)
        clone_of = e0.get("clone_of") or {}
        if clone_of.get("path") != src_path:
            raise ValueError(
                f"replica {dst_path} was not initialized from {src_path}; "
                "clone_table it first or seed a cdc txn stamp"
            )
        v_from = clone_of.get("version")
        if v_from is None:
            v_from = 0
    if v_from >= v_to:
        return {"applied_from": v_from, "applied_to": v_from, "skipped": True}
    try:
        ch = net_changes(spark, src_path, v_from, v_to)
    except ValueError:
        # commits in the window touched no files (restore-to-self,
        # empty micro-batch append): advance the watermark only
        append_txn(
            txlog_empty_like(spark, dst_path), dst_path, app, v_to
        )
        return {"applied_from": v_from, "applied_to": v_to, "skipped": False}
    cols = [c for c in ch.columns if c not in ("change", "n")]
    ins = ch.filter(F.col("change") == "insert").select(*cols).withColumn(
        "_cdc_del", F.lit(False)
    )
    dels = (
        ch.filter(F.col("change") == "delete")
        .join(
            ch.filter(F.col("change") == "insert").select(*key_cols),
            key_cols,
            "left_anti",
        )
        .select(*cols)
        .withColumn("_cdc_del", F.lit(True))
    )
    res = merge_into_table(
        spark,
        dst_path,
        ins.unionByName(dels),
        key_cols,
        delete_col="_cdc_del",
        stats_cols=stats_cols,
        txn=(app, v_to),
    )
    return {"applied_from": v_from, "applied_to": v_to, "skipped": res["skipped"]}


def maybe_compact(
    spark: SparkSession, path: str, max_live_files: int = 16
) -> int | None:
    """Compaction POLICY: OPTIMIZE only when the live file count
    exceeds ``max_live_files`` (the small-file tax a streaming sink
    accrues). Returns the commit version or None if under threshold.
    Call after drains/refresh cycles; the check is one metadata fold."""
    if len(snapshot_files(path)) <= max_live_files:
        return None
    return compact(spark, path, target_files=max(1, max_live_files // 4))


def maybe_checkpoint(path: str, every_n_commits: int = 10) -> int | None:
    """Checkpoint POLICY (Delta's default cadence): write a log
    checkpoint when >= ``every_n_commits`` entries accumulated since
    the newest one. Returns the checkpointed version or None."""
    head = (_versions(path) or [-1])[-1]
    if head < 0:
        return None
    ck = _latest_checkpoint(path)
    since = head - (ck[0] if ck else -1)
    if since < every_n_commits:
        return None
    return checkpoint_log(path)


def txlog_empty_like(spark: SparkSession, path: str) -> DataFrame:
    """Zero-row DataFrame with ``path``'s current schema — the body of
    a metadata-only (watermark-advancing) commit."""
    return read(spark, path).limit(0)


def rename_column(path: str, old: str, new: str, max_retries: int = 10) -> int:
    """Delta column-mapping-style RENAME without rewriting a byte:
    commit a metadata entry recording physical->logical name mapping;
    :func:`read` applies the folded mapping after the parquet scan.
    Chained renames compose (a->b then b->c reads physical a as c);
    time travel below the rename sees the old name. O(1) metadata."""
    entry = {"op": "rename", "add": [], "remove": [], "rename": [old, new]}

    def entry_at(head: int) -> dict:
        if head < 0:
            raise ValueError(f"no tx table at {path}")
        return entry

    return _commit_next(path, entry_at, "rename", max_retries)


def _logical_names(names: list[str], renames: list) -> list[str]:
    """Fold the rename chain onto physical column names — the
    logical-schema resolution every snapshot reader applies (a reader
    that skips it exposes physical names)."""
    out = []
    for name in names:
        for old_name, new_name in renames:
            if name == old_name:
                name = new_name
        out.append(name)
    return out


def _physical_names(names: list[str] | None, renames: list) -> list[str]:
    """Inverse of :func:`_logical_names`: LOGICAL names back to the
    PHYSICAL names data files (and so parquet footers and logged
    stats) carry — writes keep every data file in the physical schema
    all snapshot readers resolve from. None reads as no names."""
    out = []
    for name in names or []:
        for old_name, new_name in reversed(renames):
            if name == new_name:
                name = old_name
        out.append(name)
    return out


def _rename_to(df: DataFrame, names: list[str]) -> DataFrame:
    return df if names == df.columns else df.toDF(*names)


def _unapply_renames(df: DataFrame, renames: list) -> DataFrame:
    """A LOGICAL-schema DataFrame in the physical column names, for the
    rewrite jobs (compact/zorder/merge/delete/update)."""
    return _rename_to(df, _physical_names(df.columns, renames))


def _unapply_renames_checked(names: list[str], path: str, renames: list) -> list[str]:
    """:func:`_physical_names` for PUBLIC write entry points (append and
    the ``format("txlog")`` writers): rejects columns carrying MORE
    THAN ONE name from the same rename chain (folding would create
    duplicate physical columns). The guard walks the TRANSITIVE
    closure — after v->label->tag, a frame carrying 'v' and 'tag'
    collides even though no single rename entry pairs them. No-op for
    already-physical input."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for old_name, new_name in renames:
        parent[find(new_name)] = find(old_name)
    groups: dict[str, set[str]] = {}
    for name in parent:
        groups.setdefault(find(name), set()).add(name)
    for g in groups.values():
        hit = sorted(g & set(names))
        if len(hit) > 1:
            raise ValueError(
                f"append to {path}: DataFrame carries {hit} — multiple "
                f"generations of the same renamed column; drop or "
                f"rename all but one before writing"
            )
    return _physical_names(names, renames)


def _physical_candidates(col: str, renames: list) -> list[str]:
    """Every physical column name that folds to LOGICAL ``col`` under
    ``renames``, newest first: a file written before rename a->b
    stores (and logged stats under) ``a``; one written after stores
    ``b``. Pruning must consult whichever name the file actually
    carries."""
    names = [col]
    for old_name, new_name in reversed(renames):
        if names[-1] == new_name:
            names.append(old_name)
    return names


def read_pruned_multi(
    spark: SparkSession,
    path: str,
    ranges: dict,
    version: int | None = None,
) -> DataFrame:
    """Multi-column data skipping: keep a file only if EVERY
    ``{col: (lo, hi)}`` range can overlap its logged stats (AND of
    per-column pruning — the multi-dimensional planning step Z-ordered
    layouts exist to serve). Statless files/columns are always kept
    (no false negatives); the ranges are also applied as real
    filters. Columns are LOGICAL names: stats are consulted under
    every physical name that folds to each, and the result carries
    :func:`read`'s rename-resolved schema."""
    from pyspark.sql import functions as F

    snap = _fold(path, version)
    keep, _ = _prune(snap, ranges)
    if not keep:
        raise ValueError(f"no files overlap {ranges} at {path}")
    df = _scan(spark, snap, keep)
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df
