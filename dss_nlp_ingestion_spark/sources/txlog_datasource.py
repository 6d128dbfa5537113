"""Spark-native front door for the tx-log table format: a Python
Data Source (Spark 4 ``pyspark.sql.datasource`` API) so consumers use
the ENGINE'S OWN surface —

    spark.dataSource.register(TxLogDataSource)
    spark.read.format("txlog").option("path", p).load()            # batch
    spark.read.format("txlog").option("version", "3")...            # travel
    spark.readStream.format("txlog").option("path", p).load()       # CDC

instead of calling library functions. The batch reader plans one
input partition per live data file from the LOG (same snapshot
isolation as txlog.read) and yields Arrow RecordBatches (the
vectorized path of the Python source API — no per-row Python tuples).
The stream reader treats LOG VERSIONS as offsets: each microbatch is
exactly the files ADDED by commits in (start, end] — an exactly-once
append-feed over the table, with offsets checkpointed by the engine.

Every read takes its files and rename chain from the library's one
log fold, and every write folds logical column names back to the
physical ones and commits through the library's one commit loop, so
this surface cannot drift from ``txlog.read`` / ``txlog.append``
(renamed columns, the vacuum horizon, the physical-schema invariant).

Scale honesty: a Python data source moves bytes through Arrow between
the JVM and a Python worker, so for raw throughput the explicit
file-list readers (txlog.read) remain the fast path — this module is
the INTEGRATION surface (catalog/readStream/SQL), and its planning
work (log fold, file pruning) is identical driver-side metadata.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from dss_nlp_ingestion_spark.sources import txlog


class _FilePartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


def _snapshot(options: dict) -> txlog._Snapshot:
    """The snapshot a batch read sees — the same fold and the same
    vacuum-horizon / empty-snapshot errors as ``txlog.read``."""
    v = options.get("version")
    return txlog._read_snapshot(options["path"], int(v) if v is not None else None)


def _logical(batch, snap: txlog._Snapshot):
    """A data file's RecordBatch under the snapshot's LOGICAL names."""
    return batch.rename_columns(txlog._logical_names(batch.schema.names, snap.renames))


def _unified_arrow_schema(snap: txlog._Snapshot):
    """Footer-merged LOGICAL schema over ALL live files — a snapshot
    spanning an additive schema evolution must read as the WIDEST
    schema (the same resolution txlog.read performs via mergeSchema),
    not as whichever file happens to be listed first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    merged = pa.unify_schemas([pq.ParquetFile(f).schema_arrow for f in snap.files])
    names = txlog._logical_names(merged.names, snap.renames)
    return pa.schema([f.with_name(n) for f, n in zip(merged, names)])


def _pad_batch(batch, schema):
    """Project a RecordBatch onto the unified schema: missing columns
    become nulls, order follows the declared schema."""
    import pyarrow as pa

    cols = []
    for field in schema:
        idx = batch.schema.get_field_index(field.name)
        if idx >= 0:
            cols.append(batch.column(idx).cast(field.type))
        else:
            cols.append(pa.nulls(batch.num_rows, type=field.type))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


class _TxLogBatchReader(DataSourceReader):
    def __init__(self, options: dict, arrow_schema):
        self.snap = _snapshot(options)  # one fold plans every partition
        self.arrow_schema = arrow_schema

    def partitions(self):
        return [_FilePartition(f) for f in self.snap.files]

    def read(self, partition):  # executor-side: Arrow batches, not rows
        import pyarrow.parquet as pq

        for batch in pq.ParquetFile(partition.file).iter_batches():
            yield _pad_batch(_logical(batch, self.snap), self.arrow_schema)


class _TxLogStreamReader(SimpleDataSourceStreamReader):
    """Versions-as-offsets CDC append feed: offset {"version": v}
    means 'everything through commit v has been delivered'. Only
    create/append/overwrite commits emit rows; rewrite-family commits
    (compact/zorder/delete) are layout/removal changes an append-only
    feed cannot represent and are skipped (see
    txlog.append_feed_files_between)."""

    def __init__(self, options: dict, field_names: list):
        self.path = options["path"]
        self.field_names = list(field_names)
        start = options.get("startingversion")
        self.start_version = int(start) if start is not None else -1

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _added_rows(self, v_from: int, v_to: int) -> list[tuple]:
        # Materialized (not a generator): the Simple stream API ships
        # the batch through a pickle boundary. Microbatch = commit
        # delta, so the prefetch is bounded by commit size, not table
        # size.
        import pyarrow.parquet as pq

        snap = txlog._fold(self.path, v_to)
        if v_from < 0:
            # initial load: the snapshot as of the first observed head
            files = snap.files
        else:
            # incremental: NEW-row files by LOG OPERATION — a raw
            # file diff would re-deliver every row a compaction or
            # delete-rewrite merely copied (exactly-once would break
            # the first time OPTIMIZE ran inside an offset window)
            files = txlog.append_feed_files_between(self.path, v_from, v_to)
        rows: list[tuple] = []
        names = self.field_names
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches():
                # name-keyed projection: schema-evolved files may have
                # extra/missing/reordered columns vs the stream schema
                rows.extend(
                    tuple(r.get(n) for n in names)
                    for r in _logical(batch, snap).to_pylist()
                )
        return rows

    def read(self, start: dict):
        versions = [h["version"] for h in txlog.history(self.path)]
        head = versions[-1] if versions else -1
        v_from = int(start["version"])
        if head <= v_from:
            return iter([]), start
        # iter() over a materialized list: the engine wrapper needs a
        # real iterator (it probes next() on no-advance) AND pickles
        # the prefetched entry (list_iterator pickles; generators
        # don't).
        return iter(self._added_rows(v_from, head)), {"version": head}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._added_rows(int(start["version"]), int(end["version"])))


class TxLogDataSource(DataSource):
    """``format("txlog")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(_unified_arrow_schema(_snapshot(self.options)))

    def reader(self, schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        return _TxLogBatchReader(self.options, to_arrow_schema(schema))

    def simpleStreamReader(self, schema):
        return _TxLogStreamReader(self.options, [f.name for f in schema.fields])

    def writer(self, schema, overwrite: bool):
        return _TxLogWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        if overwrite:
            raise ValueError("txlog streaming writer supports append mode only")
        return _TxLogStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(TxLogDataSource)


# ---------------------------------------------------------------------------
# Writers: df.write.format("txlog").mode("append"|"overwrite").save(path)
# and df.writeStream.format("txlog").start(...)
# ---------------------------------------------------------------------------
# The Python writer API is EXACTLY the log's two-phase commit: each
# task stages one parquet file and reports it in its commit message;
# the driver's commit() writes the O_EXCL log entry referencing only
# reported files. Speculative/retried task leftovers are never
# referenced (vacuum cleans them) — the same crash story as the
# library write path, now behind Spark's own writer surface.
#
# The streaming writer additionally gets the batchId, which maps 1:1
# onto the log's idempotent-writer txn stamp: commit() skips any
# batchId at or below the app's last committed epoch, so a replayed
# micro-batch (restart, checkpoint loss) lands ZERO rows. This is the
# engine-native form of streaming.pipeline.stream_merge_to_txlog_table's
# foreachBatch sink, for the append case.


@dataclass
class _StagedFile(WriterCommitMessage):
    rel: str  # staged file, relative to <path>/data/


class _Stager:
    """The half both writers share. The driver folds the incoming
    LOGICAL schema back to the table's physical column names (the
    guard ``txlog.append`` uses), so every staged file keeps the
    physical-schema invariant; each task stages its rows as one
    parquet file under data/<txn>/."""

    def __init__(self, options: dict, schema):
        import uuid

        from pyspark.sql.types import StructField, StructType

        self.path = options["path"]
        self.txn = uuid.uuid4().hex[:12]
        names = txlog._unapply_renames_checked(
            schema.names, self.path, txlog._fold(self.path).renames
        )
        self.schema = StructType(
            [StructField(n, f.dataType, f.nullable) for n, f in zip(names, schema)]
        )

    def write(self, iterator):  # executor-side
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        names = self.schema.names
        tbl = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in iterator], schema=to_arrow_schema(self.schema)
        )
        staged_dir = os.path.join(self.path, "data", self.txn)
        os.makedirs(staged_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(tbl, os.path.join(staged_dir, name))
        return _StagedFile(rel=f"{self.txn}/{name}")

    def _remove_staged(self, messages) -> None:
        """Abort: nothing referenced -> nothing visible; drop the files."""
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, "data", m.rel))
                except OSError:
                    pass


class _TxLogWriter(_Stager, DataSourceWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        super().__init__(options, schema)
        self.overwrite = overwrite

    def commit(self, messages):  # driver-side: the atomic log commit
        files = [m.rel for m in messages if m is not None]
        if not self.overwrite:
            entry = {"op": "append", "add": files, "remove": []}
            txlog._commit_next(self.path, lambda head: entry, "append")
            return

        def entry_at(head: int) -> dict:
            remove = txlog._fold(self.path, head).live if head >= 0 else []
            return {"op": "overwrite", "add": files, "remove": remove}

        txlog._commit_next(self.path, entry_at, "overwrite")

    def abort(self, messages):
        self._remove_staged(messages)


class _TxLogStreamWriter(_Stager, DataSourceStreamWriter):
    def __init__(self, options: dict, schema):
        super().__init__(options, schema)
        self.app = options.get("appid", "txlog_stream")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        if txlog.last_committed_txn(self.path, self.app) >= batchId:
            # Replayed epoch: files were staged by this batch's tasks
            # but must never become visible; leave them to vacuum.
            return
        entry = {
            "op": "append",
            "add": [m.rel for m in messages if m is not None],
            "remove": [],
            "txn": {"app": self.app, "epoch": int(batchId)},
        }
        txlog._commit_next(self.path, lambda head: entry, "stream append")
        # bound log-replay cost on long-lived streaming tables
        txlog.maybe_checkpoint(self.path)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._remove_staged(messages)
