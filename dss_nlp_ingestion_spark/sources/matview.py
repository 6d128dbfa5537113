"""Incrementally-maintained aggregate MATERIALIZED VIEWS over the
transaction-log table format.

The missing piece between the CDF (``txlog.net_changes``) and the
ACID merge (``txlog.merge_into_table``): define a grouped aggregate
over a tx table once, materialize it as its OWN tx table, and refresh
it by folding only the source's commit delta —

    refresh cost = O(source churn) + O(view groups touched),

never O(source). The refresh watermark is the idempotent-writer stamp
(app='matview', epoch=source version) in the VIEW's log, so a crashed
or repeated refresh is exactly-once by the same mechanism the
streaming sink and CDC replication use. This is the
DBSP/Materialize-style delta-aggregation loop expressed with Spark
relational ops over the lakehouse log (reference scope: the reference
recomputes its dashboards from scratch; a 100 TB pipeline cannot).

Determinism: only SUM (over DECIMAL(18,2)-cast inputs, exact under
any partial-agg order) and COUNT (BIGINT) aggregates are supported —
the two with well-defined signed deltas. AVG derives at read time;
MIN/MAX are not delta-maintainable through deletes without keeping
per-group heaps (documented non-goal; recompute those).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.sources import txlog

_APP = "matview"


def _agg_exprs(agg_specs: dict) -> list:
    out = []
    for name, (kind, col) in agg_specs.items():
        if kind == "count":
            out.append(F.count(F.lit(1)).cast("long").alias(name))
        elif kind == "sum":
            out.append(
                F.sum(F.col(col).cast("decimal(18,2)"))
                .cast("decimal(38,2)")
                .alias(name)
            )
        else:
            raise ValueError(f"unsupported aggregate kind: {kind}")
    return out


def _delta_exprs(agg_specs: dict) -> list:
    """Signed per-group fold of a net_changes feed: each feed row
    counts ``n`` times with sign +/-1."""
    sign = F.when(F.col("change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    out = []
    for name, (kind, col) in agg_specs.items():
        if kind == "count":
            out.append(F.sum(sign * F.col("n")).cast("long").alias(name))
        else:
            out.append(
                F.sum(
                    sign.cast("decimal(18,2)")
                    * F.col(col).cast("decimal(18,2)")
                    * F.col("n").cast("decimal(18,0)")
                )
                .cast("decimal(38,2)")
                .alias(name)
            )
    return out


def create_matview(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    group_cols: list[str],
    agg_specs: dict,
) -> int:
    """Materialize the grouped aggregate of ``src_path``'s CURRENT
    head as a new tx table at ``view_path``; the head version rides
    the create as the refresh watermark. ``agg_specs``:
    {out_col: ("count", None) | ("sum", src_col)}."""
    head = txlog._versions(src_path)[-1]
    base = (
        txlog.read(spark, src_path, version=head)
        .groupBy(*group_cols)
        .agg(*_agg_exprs(agg_specs))
    )
    v = txlog.create_table(base, view_path, stats_cols=list(group_cols[:1]))
    # stamp the watermark as a separate metadata-only commit (create
    # has no txn slot; an empty-delta append carries it)
    txlog.append_txn(base.limit(0), view_path, _APP, head)
    return v


def refresh_matview(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    group_cols: list[str],
    agg_specs: dict,
) -> dict:
    """Fold the source's net changes since the last refresh into the
    view: one partial aggregation of the delta per group, one join
    against ONLY the touched view groups, one file-pruned ACID merge
    (update changed groups, insert new ones, delete groups whose
    count reaches zero). Watermarked exactly-once."""
    head = txlog._versions(src_path)[-1]
    applied = txlog.last_committed_txn(view_path, _APP)
    if applied < 0:
        raise ValueError(f"{view_path} is not a matview (no watermark)")
    if applied >= head:
        return {"from": applied, "to": applied, "skipped": True}
    try:
        feed = txlog.net_changes(spark, src_path, applied, head)
    except ValueError:
        # window advanced with zero file changes (restore-to-self,
        # empty append): advance the watermark, view is already exact
        txlog.append_txn(
            txlog.txlog_empty_like(spark, view_path), view_path, _APP, head
        )
        return {"from": applied, "to": head, "skipped": False}
    delta = feed.groupBy(*group_cols).agg(*_delta_exprs(agg_specs))
    # GROUP-BY keys can legitimately be NULL, and NULL is ONE group —
    # every key comparison below must be null-safe (<=>), else the
    # NULL group's delta never matches its view row and gets inserted
    # NEXT TO the stale one (r5 advisor finding, verified repro).
    dkeys = {c: f"_dk_{c}" for c in group_cols}
    dcols = {c: f"_d_{c}" for c in agg_specs}
    dren = delta.select(
        *[F.col(c).alias(dkeys[c]) for c in group_cols],
        *[F.col(c).alias(dcols[c]) for c in agg_specs],
    )
    view_df = txlog.read(spark, view_path)
    # Fresh attribute names for the semi-join keys: touched_keys and
    # dren share the delta's lineage, and reusing dren's _dk_* output
    # attributes on both sides of the downstream full-outer trips
    # Spark's ambiguous-self-join detection.
    touched_keys = dren.select(
        *[F.col(dkeys[c]).alias(f"_tk_{c}") for c in group_cols]
    )
    sem = reduce(
        lambda a, b: a & b,
        [view_df[c].eqNullSafe(touched_keys[f"_tk_{c}"]) for c in group_cols],
    )
    cur = view_df.join(touched_keys, sem, "left_semi").alias("_mv_cur")
    dlt = dren.alias("_mv_dlt")
    # Qualified (SubqueryAlias) resolution: cur and dlt share the
    # delta's lineage, and attribute-based resolution trips Spark's
    # ambiguous-self-join detection.
    cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"_mv_cur.{c}").eqNullSafe(F.col(f"_mv_dlt.{dkeys[c]}"))
            for c in group_cols
        ],
    )
    merged = cur.join(dlt, cond, "full_outer")
    # Coalesce key sides explicitly (a USING join would do this, but
    # USING full-outer matches keys with plain equality).
    sels = [
        F.coalesce(F.col(f"_mv_cur.{c}"), F.col(f"_mv_dlt.{dkeys[c]}")).alias(c)
        for c in group_cols
    ]
    for name, (kind, _col) in agg_specs.items():
        z = F.lit(0).cast("long" if kind == "count" else "decimal(38,2)")
        sels.append(
            (
                F.coalesce(F.col(name), z)
                + F.coalesce(F.col(dcols[name]), z)
            )
            .cast("long" if kind == "count" else "decimal(38,2)")
            .alias(name)
        )
    count_cols = [n for n, (k, _c) in agg_specs.items() if k == "count"]
    if not count_cols:
        raise ValueError("matview needs at least one count aggregate "
                         "(group-liveness tracking)")
    src = merged.select(*sels).withColumn(
        "_mv_del", F.col(count_cols[0]) == 0
    )
    res = txlog.merge_into_table(
        spark,
        view_path,
        src,
        list(group_cols),
        delete_col="_mv_del",
        stats_cols=list(group_cols[:1]),
        txn=(_APP, head),
        null_safe=True,
    )
    return {"from": applied, "to": head, "skipped": res["skipped"]}
