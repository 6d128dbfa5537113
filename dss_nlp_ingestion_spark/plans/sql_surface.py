"""SQL-API surface queries: the same engine through ``spark.sql`` over
registered views (SURVEY.md §7.1: "DataFrame/SQL first") — proving the
catalog registration path, and an IVF-style ANN query combining the
LSH bucketing with per-query top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import load_all, table
from dss_nlp_ingestion_spark.operators.similarity import (
    cosine,
    hyperplane_bucket,
    plane_weight_sql,
)
from dss_nlp_ingestion_spark.plans.registry import (
    TAGS,
    fround,
    fround_sql,
    register,
    register_split,
)
from dss_nlp_ingestion_spark.plans.similarity_queries import _DIM, _dot_sql

# ---------------------------------------------------------------------------
# Pure-SQL query through spark.sql over registered views
# ---------------------------------------------------------------------------

_SQL_SURFACE = """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > 0
GROUP BY n.n_name
"""


@register("sql_surface_nation_balances", _SQL_SURFACE)
def sql_surface_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: identical text runs on
    ``spark.sql`` (over views registered by ``catalog.load_all``) and
    on DuckDB — the oracle string IS the Spark query."""
    load_all(spark, sf_dir)
    return spark.sql(_SQL_SURFACE)


# ---------------------------------------------------------------------------
# IVF-style ANN: bucket-pruned top-k (scale path of similarity search)
# ---------------------------------------------------------------------------

_N_PLANES = 8

_plane_projs = []
for p in range(_N_PLANES):
    prods = (
        f"[CAST(0.0 AS DOUBLE)] || list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {plane_weight_sql(p)})"
    )
    _plane_projs.append(
        f"(CASE WHEN list_reduce({prods}, (x, y) -> x + y) > 0 THEN {2**p} ELSE 0 END)"
    )
_BUCKET_SQL = "CAST(" + " + ".join(_plane_projs) + " AS BIGINT)"

_COS = (
    f"{_dot_sql('qv', 'cv')} / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))"
)

_ANN_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b
), scored AS (
  SELECT query_id, neighbor_id, {_COS} AS score
  FROM q JOIN c USING (bucket)
  WHERE neighbor_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= 3
"""


@register("ann_bucket_topk", _ANN_ORACLE)
def ann_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: each query probes only
    its own LSH bucket (vs. the brute-force full scan in
    ``cosine_topk_bruteforce``) — candidate work is bucket-sized, the
    join shuffles on bucket id. The approximation trade-off is the
    standard one: recall bounded by bucket recall."""
    emb = table(spark, sf_dir, "embeddings")
    with_b = emb.select(
        "vec_id",
        "embedding",
        hyperplane_bucket(F.col("embedding"), _N_PLANES, _DIM).alias("bucket"),
    )
    q = with_b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = with_b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "bucket"
    )
    scored = (
        q.join(c, ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank")
    )


_EXISTS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
)
"""


@register("correlated_exists_big_spenders", _EXISTS_SQL)
def correlated_exists_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — Catalyst decorrelates it into a
    semi-join (a class the reference's hand-written Python could never
    express); identical SQL text runs on both engines."""
    load_all(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_SCALAR_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
"""


@register("scalar_subquery_above_avg", _SCALAR_SQL)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: the average is computed once
    and broadcast into the filter. (Comparison against the avg is
    engine-safe here: output columns are raw parquet values, and rows
    near the double-avg boundary resolve identically because both
    engines aggregate the same 1500 doubles — asserted by the oracle
    gate itself.)"""
    load_all(spark, sf_dir)
    return spark.sql(_SCALAR_SQL)


# ---------------------------------------------------------------------------
# MERGE INTO (upsert) — Delta-style merge as a full-outer join
# ---------------------------------------------------------------------------

_MERGE_SRC_SQL = """
src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
         'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 1000 = 0
)"""

_MERGE_ORACLE = f"""
WITH {_MERGE_SRC_SQL}
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
            ELSE t.o_custkey END AS o_custkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus,
       {fround_sql("CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END", 2)} AS o_totalprice
FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
"""

_MERGE_INSERT_ONLY_ORACLE = f"""
WITH {_MERGE_SRC_SQL}
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey
            ELSE s.o_custkey END AS o_custkey,
       CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderstatus
            ELSE s.o_orderstatus END AS o_orderstatus,
       {fround_sql("CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_totalprice ELSE s.o_totalprice END", 2)} AS o_totalprice
FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
"""


def _merge_frames(spark: SparkSession, sf_dir: str):
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(100_000_000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return orders, updates.unionByName(inserts)


@register("merge_upsert_orders", _MERGE_ORACLE)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO: a delta of status updates (every 7th
    order) plus fresh inserts (offset keys) merged into orders — one
    full-outer join on the key, matched rows take the delta, unmatched
    target rows survive (operators.merge). The sink-side twin of the
    reference's _id-keyed index upserts (base.py:239-253)."""
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    target, source = _merge_frames(spark, sf_dir)
    merged = merge_into(target, source, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
    )


@register("merge_insert_only_orders", _MERGE_INSERT_ONLY_ORACLE)
def merge_insert_only_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The insert-only MERGE mode (WHEN NOT MATCHED THEN INSERT, no
    update clause): matched target rows are kept verbatim — the
    reference's replicate-if-absent semantics (K4) as a relational
    transform with a full oracle."""
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    target, source = _merge_frames(spark, sf_dir)
    merged = merge_into(target, source, ["o_orderkey"], insert_only=True)
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# Copy-on-write MERGE into the tx-log table — the store-level twin of
# merge_upsert_orders: same merge relation, run by
# sources.txlog.merge_into_table, which rewrites only the data files
# that hold matched keys and commits them in one log entry.
# ---------------------------------------------------------------------------

_COW_HOT = "('1-URGENT', '2-HIGH')"

_MERGE_COW_ORACLE = f"""
WITH src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CAST(o_totalprice + 100 AS DECIMAL(15,2)) AS o_totalprice,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 7 = 0 AND o_orderpriority IN {_COW_HOT}
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, o_orderpriority
  FROM orders
  WHERE o_orderkey % 1000 = 0 AND o_orderpriority IN {_COW_HOT}
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
            ELSE t.o_custkey END AS o_custkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus,
       {fround_sql("CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END", 2)} AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
            ELSE t.o_orderpriority END AS o_orderpriority
FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
"""


def _cow_setup(spark: SparkSession, sf_dir: str):
    """SETUP: materialize orders as the tx table the merge targets,
    with commit-logged o_orderkey stats."""
    import tempfile

    from dss_nlp_ingestion_spark.sources import txlog

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    orders = table(spark, sf_dir, "orders").select(*cols)
    path = tempfile.mkdtemp(prefix="dss_cow_store_") + "/orders"
    txlog.create_table(orders, path, stats_cols=["o_orderkey"])
    return path, orders


def _cow_probe(spark: SparkSession, ctx) -> DataFrame:
    """PROBE — MERGE as the store write path: a delta of the two hot
    priorities (updates plus new keys) is merged by
    ``txlog.merge_into_table``, which rewrites only the files holding
    matched keys in one atomic commit (the relational
    `merge_upsert_orders` form remains the pure transform). The delta
    bumps prices by an exact +100.00 so the schema stays decimal(15,2)
    across rewritten and untouched files. Returned relation = the
    table read back after the merge."""
    from dss_nlp_ingestion_spark.sources import txlog

    path, orders = ctx
    hot = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    updates = orders.filter((F.col("o_orderkey") % 7 == 0) & hot).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(100)).cast("decimal(15,2)").alias("o_totalprice"),
        "o_orderpriority",
    )
    inserts = orders.filter((F.col("o_orderkey") % 1000 == 0) & hot).select(
        (F.col("o_orderkey") + F.lit(100_000_000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderpriority",
    )
    txlog.merge_into_table(
        spark, path, updates.unionByName(inserts), ["o_orderkey"],
        stats_cols=["o_orderkey"],
    )
    return txlog.read(spark, path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "o_orderpriority",
    )


register_split("merge_cow_orders", _cow_setup, _cow_probe, _MERGE_COW_ORACLE)


_PROBE_LIST = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(_N_PLANES)])

_MULTIPROBE_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         unnest([{_PROBE_LIST}]) AS bucket
  FROM b WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b
), scored AS (
  SELECT query_id, neighbor_id, {_COS} AS score
  FROM q JOIN c USING (bucket)
  WHERE neighbor_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {fround_sql('score', 6)} AS score, rank
FROM ranked WHERE rank <= 5
"""


@register("ann_multiprobe_topk", _MULTIPROBE_ORACLE)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: queries probe their own bucket plus all 8
    Hamming-distance-1 buckets (one hyperplane sign flipped each),
    recovering the boundary misses single-bucket probing drops —
    recall goes up ~(n_planes+1)x candidate volume, corpus still
    scanned once, probes broadcast (operators.similarity
    .multiprobe_bucket_topk)."""
    from dss_nlp_ingestion_spark.operators.similarity import multiprobe_bucket_topk

    emb = table(spark, sf_dir, "embeddings")
    out = multiprobe_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        n_planes=_N_PLANES, dim=_DIM, k=5,
    )
    return out.select(
        "query_id", "neighbor_id", fround(F.col("score"), 6).alias("score"), "rank"
    )


_ANN_FIXED_LAYOUT_NOTE = (
    "FIXED 8-plane layout BY DESIGN (operators.similarity"
    ".PLANE_COUNT_POLICY): the bucket layout is the persisted index "
    "definition query-time probes must match (multiprobe's neighbor "
    "set is bucket XOR (1 << p) over the fixed bit width), and "
    "per-query candidate work is LINEAR in bucket size; production "
    "re-picks the plane count at index BUILD time with the same "
    "n/2^p <= cap rule."
)
TAGS["ann_bucket_topk"] = _ANN_FIXED_LAYOUT_NOTE
TAGS["ann_multiprobe_topk"] = _ANN_FIXED_LAYOUT_NOTE


# ---------------------------------------------------------------------------
# SCD2 (slowly-changing-dimension) history build
# ---------------------------------------------------------------------------

_SCD2_ORACLE = f"""
WITH hist AS (
  SELECT c_custkey, CAST(1 AS BIGINT) AS version,
         {fround_sql('c_acctbal', 2)} AS acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey, CAST(2 AS BIGINT) AS version,
         {fround_sql('c_acctbal * 1.05', 2)} AS acctbal
  FROM customer WHERE c_custkey % 11 = 0
)
SELECT c_custkey, version, acctbal,
       lead(version) OVER (PARTITION BY c_custkey ORDER BY version ASC) - 1
         AS valid_to,
       lead(version) OVER (PARTITION BY c_custkey ORDER BY version ASC) IS NULL
         AS is_current
FROM hist
"""


@register("scd2_customer_history", _SCD2_ORACLE)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: an update batch (every 11th
    customer re-rated) appended as version 2; one per-key window
    derives valid_to/is_current so point-in-time joins can pick the
    version in effect. Union + a single window partitioned on the
    key — the lakehouse history-table build without a transaction
    log."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.lit(1).cast("long").alias("version"),
        fround(F.col("c_acctbal"), 2).alias("acctbal"),
    )
    upd = c.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        F.lit(2).cast("long").alias("version"),
        fround(F.col("c_acctbal") * F.lit(1.05), 2).alias("acctbal"),
    )
    hist = base.unionByName(upd)
    w = Window.partitionBy("c_custkey").orderBy(F.col("version").asc())
    nxt = F.lead("version").over(w)
    return hist.select(
        "c_custkey",
        "version",
        "acctbal",
        (nxt - 1).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD2 history
# ---------------------------------------------------------------------------

_PIT_ORACLE = f"""
WITH hist AS (
  SELECT c_custkey, CAST(1 AS BIGINT) AS version,
         {fround_sql('c_acctbal', 2)} AS acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey, CAST(2 AS BIGINT) AS version,
         {fround_sql('c_acctbal * 1.05', 2)} AS acctbal
  FROM customer WHERE c_custkey % 11 = 0
), versioned AS (
  SELECT c_custkey, version, acctbal,
         lead(version) OVER (PARTITION BY c_custkey ORDER BY version ASC) - 1
           AS valid_to
  FROM hist
), o AS (
  SELECT o_custkey, o_orderpriority,
         CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 2 END
           AS epoch
  FROM orders
)
SELECT o.o_orderpriority,
       CAST(o.epoch AS BIGINT) AS epoch,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(v.acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM o JOIN versioned v
  ON v.c_custkey = o.o_custkey
 AND v.version <= o.epoch
 AND (v.valid_to IS NULL OR v.valid_to >= o.epoch)
GROUP BY o.o_orderpriority, o.epoch
"""


@register("pit_join_scd2", _PIT_ORACLE)
def pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each order picks the customer-dimension
    VERSION in effect at its epoch (pre-1997 orders see version 1,
    later ones see the re-rated version 2 where it exists) — the
    query SCD2 history exists to serve. Equi-join on the key with the
    version-validity residual; aggregated per (priority, epoch) with
    exact decimal sums."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    hist = (
        c.select(
            "c_custkey",
            F.lit(1).cast("long").alias("version"),
            fround(F.col("c_acctbal"), 2).alias("acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).select(
                "c_custkey",
                F.lit(2).cast("long").alias("version"),
                fround(F.col("c_acctbal") * F.lit(1.05), 2).alias("acctbal"),
            )
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("version").asc())
    versioned = hist.select(
        "c_custkey", "version", "acctbal",
        (F.lead("version").over(w) - 1).alias("valid_to"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.when(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), 1)
        .otherwise(2)
        .cast("long")
        .alias("epoch"),
    )
    joined = o.join(
        versioned,
        (versioned["c_custkey"] == o["o_custkey"])
        & (versioned["version"] <= o["epoch"])
        & (versioned["valid_to"].isNull() | (versioned["valid_to"] >= o["epoch"])),
    )
    return joined.groupBy("o_orderpriority", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("acctbal").cast("decimal(18,2)")).cast("double").alias(
            "total_acctbal"
        ),
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide metrics -> long (entity, metric, value) rows
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT c_nationkey,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_total,
         CAST(count(*) AS DOUBLE) AS customer_count
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, 'balance_total' AS metric, balance_total AS value FROM wide
UNION ALL
SELECT c_nationkey, 'customer_count' AS metric, customer_count AS value FROM wide
"""


@register("unpivot_nation_metrics", _UNPIVOT_ORACLE)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of pivot_event_counts: per-nation
    wide metrics (decimal-exact balance total, customer count) melted
    into long (entity, metric, value) rows with Spark's native
    ``unpivot``; the oracle is the UNION ALL it desugars to."""
    cust = table(spark, sf_dir, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("balance_total"),
        F.count(F.lit(1)).cast("double").alias("customer_count"),
    )
    return wide.unpivot(
        ["c_nationkey"], ["balance_total", "customer_count"], "metric", "value"
    )


_MERGE_DEL_ORACLE = """
WITH src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         (o_orderkey % 13 = 0) AS is_delete
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice,
         (o_orderkey % 3000 = 0)
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
            ELSE t.o_custkey END AS o_custkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus,
       {price} AS o_totalprice
FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE NOT (s.o_orderkey IS NOT NULL AND s.is_delete)
""".format(price=fround_sql(
    "CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END", 2
))


@register("merge_delete_orders", _MERGE_DEL_ORACLE)
def merge_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full three-clause MERGE: tombstone-flagged source rows
    DELETE their matched target row (and no-op when unmatched — the
    CDC convention), unflagged matched rows UPDATE, unmatched rows
    INSERT (operators/merge.py:merge_into with ``delete_col``). Still ONE
    full-outer join on the merge key; the delete clause is a filter
    on the joined relation, not an extra stage."""
    from dss_nlp_ingestion_spark.operators.merge import merge_into

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        (F.col("o_orderkey") % 13 == 0).alias("is_delete"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(100_000_000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        (F.col("o_orderkey") % 3000 == 0).alias("is_delete"),
    )
    merged = merge_into(
        orders, updates.unionByName(inserts), ["o_orderkey"], delete_col="is_delete"
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
    )
