"""MERGE INTO (upsert) semantics as a pure DataFrame transform.

The reference's store writes are upserts: ``_id``-keyed index calls
that overwrite matched documents and insert new ones
(src/base.py:239-253 bulk index with explicit ``_id``). The lakehouse
twin of that sink semantics is ``MERGE INTO`` — re-expressed here as a
single full-outer join so it runs on any DataFrame source, returns the
merged relation, and stays oracle-checkable. The store write path is
``sources.txlog.merge_into_table``: it runs this transform on the
files holding matched keys only, and its insert-only mode appends the
unmatched source rows without rewriting any file.

Scale shape: one shuffle of each side on the merge key (or a broadcast
of the source when it is delta-sized, which is the common case —
Catalyst/AQE picks that automatically when the source fits); no other
stage touches the full target. This is exactly the join Delta/Iceberg
MERGE compiles to before file rewriting, minus the transaction log.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _key_cond(tgt: DataFrame, src: DataFrame, key_cols: Sequence[str],
              null_safe: bool) -> Column:
    if null_safe:
        terms = [tgt[k].eqNullSafe(src[f"_s_{k}"]) for k in key_cols]
    else:
        terms = [tgt[k] == src[f"_s_{k}"] for k in key_cols]
    return reduce(lambda a, b: a & b, terms)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: Sequence[str],
    insert_only: bool = False,
    null_safe: bool = False,
    delete_col: str | None = None,
) -> DataFrame:
    """Return ``target`` merged with ``source`` on ``key_cols``:

    - matched rows take the source's values (WHEN MATCHED THEN UPDATE
      SET *) — unless ``insert_only``, which keeps the target row
      (the reference's replicate-if-absent / K4 semantics);
    - source rows with no match are inserted (WHEN NOT MATCHED THEN
      INSERT *);
    - target rows with no match are kept.

    ``delete_col`` names a boolean tombstone column on ``source`` (the
    CDC convention): a flagged source row DELETEs its matched target
    row (WHEN MATCHED AND <flag> THEN DELETE), and a flagged row whose
    key is absent from the target is a no-op, as in Delta/Iceberg
    MERGE. The clause is a filter on the joined relation, not a stage.

    ``source`` must have (at least) the target's columns. By default
    the join is PLAIN equality, so NULL merge keys never match (SQL
    MERGE semantics): a NULL-keyed source row falls out as an
    unmatched source row and is INSERTED with its values intact.
    ``null_safe`` switches the key comparison to ``<=>`` (eqNullSafe)
    for callers whose keys are GROUP-BY outputs — there NULL is an
    ordinary key value and plain equality silently duplicates the
    NULL-keyed group (r5 advisor finding on the matview refresh).
    Which side a joined row carries is decided by always-non-null
    presence markers added before the join — never by key-null
    inspection, so NULL source values are not mistaken for "no match".
    """
    cols = target.columns
    flag = [] if delete_col is None else [F.col(delete_col).alias("_s_del")]
    src = source.select(
        [F.col(c).alias(f"_s_{c}") for c in cols] + flag
    ).withColumn("_s_present", F.lit(True))
    tgt = target.withColumn("_t_present", F.lit(True))
    cond = _key_cond(tgt, src, key_cols, null_safe)
    joined = tgt.join(src, cond, "full_outer")
    has_source = src["_s_present"].isNotNull()
    take_source = has_source
    if insert_only:
        take_source = has_source & tgt["_t_present"].isNull()
    if delete_col is not None:
        joined = joined.filter(~(has_source & F.coalesce(src["_s_del"], F.lit(False))))
    return joined.select(
        *[F.when(take_source, src[f"_s_{c}"]).otherwise(tgt[c]).alias(c) for c in cols]
    )
