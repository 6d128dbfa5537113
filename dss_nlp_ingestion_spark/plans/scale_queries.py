"""Physical-layout & series scale surface: zero-exchange bucketed
joins, global-sort-free dense ID assignment, interval coalescing, and
integer-exact autocorrelation.

The reference ingests into ES/Mongo and never co-locates joins
(src/res/models/datamodels.py bulk writers); on Spark the same
pipelines get layout control for free — bucketed tables remove the
per-join fact shuffle entirely, and range-partitioned ID assignment
replaces the single-partition ``row_number() OVER (ORDER BY ...)``
collapse that kills global sequence numbering at corpus scale.

Determinism notes (registry.py rules): bucketing changes the physical
plan only, so the bucketed join's oracle is the plain join SQL; dense
ids are a rank over a UNIQUE key (partition-boundary independent);
interval arithmetic is integer ms; ACF sums are exact BIGINTs with
one shared closed-form double expression at the end.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import table
from dss_nlp_ingestion_spark.functions.dates import epoch_ms
from dss_nlp_ingestion_spark.operators.fulltext import TOKEN_PATTERN
from dss_nlp_ingestion_spark.operators.graph import unroll
from dss_nlp_ingestion_spark.plans.mining_queries import basket_item_pairs
from dss_nlp_ingestion_spark.operators.relational import (
    coalesce_intervals,
    dense_ids_by_key,
    exact_rank_values,
)
from dss_nlp_ingestion_spark.plans.registry import (
    dsum_sql,
    fround,
    fround_sql,
    register,
)

# ---------------------------------------------------------------------------
# Zero-exchange bucketed sort-merge join
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = f"""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS revenue
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def _bucketed_tag(sf_dir: str) -> str:
    return hashlib.sha256(sf_dir.encode()).hexdigest()[:10]


def bucketed_join_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Write ``customer`` and ``orders`` as bucketed+sorted tables on
    the join key and return the catalog-backed scans.  Both sides
    hash into the same ``n_buckets`` on custkey, so a sort-merge join
    between them needs NO Exchange on either side (plan-asserted in
    tests/test_explain_plans.py) — at 100 TB this is the difference
    between shuffling the fact table on every join and shuffling it
    once at layout time, amortized over every subsequent join on the
    same key.  Fault story: bucket files are written once per
    (sf_dir, layout) tag and reused; `mode("overwrite")` keeps the
    write idempotent."""
    tag = _bucketed_tag(sf_dir)
    base = f"{tempfile.gettempdir()}/dss_bucketed_{tag}"
    tc, to = f"bj_customer_{tag}", f"bj_orders_{tag}"
    if not (
        spark.catalog.tableExists(tc) and spark.catalog.tableExists(to)
    ):
        (
            table(spark, sf_dir, "customer")
            .repartition(n_buckets, "c_custkey")
            .write.bucketBy(n_buckets, "c_custkey")
            .sortBy("c_custkey")
            .option("path", f"{base}/customer")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tc)
        )
        (
            table(spark, sf_dir, "orders")
            .repartition(n_buckets, "o_custkey")
            .write.bucketBy(n_buckets, "o_custkey")
            .sortBy("o_custkey")
            .option("path", f"{base}/orders")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(to)
        )
    return spark.table(tc), spark.table(to)


@register("bucketed_join_segments", _BUCKETED_ORACLE)
def bucketed_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a BUCKETED sort-merge join:
    both tables are laid out bucketed+sorted on custkey, so the join
    reads co-located buckets with zero Exchange (the `merge` hint
    pins SMJ so tiny-sf broadcast doesn't mask the layout path; the
    result is identical either way, which is what the oracle
    checks).  The only shuffle in the whole query is the final tiny
    segment rollup."""
    cust, orders = bucketed_join_tables(spark, sf_dir)
    j = cust.hint("merge").join(
        orders.hint("merge"),
        cust["c_custkey"] == orders["o_custkey"],
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Dense sequence IDs without a global sort
# ---------------------------------------------------------------------------

_DENSE_IDS_ORACLE = """
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS seq_id
FROM orders
"""


@register("dense_ids_orders", _DENSE_IDS_ORACLE)
def dense_ids_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 1..N sequence IDs in o_orderkey order WITHOUT the
    single-partition collapse of ``row_number() OVER (ORDER BY ...)``
    (operators/relational.py:dense_ids_by_key — range exchange +
    local sort + partition-count offsets; every stage parallel).
    The oracle is the textbook single-partition window, so the
    distributed path is verified against the sequential definition."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    return dense_ids_by_key(orders, "o_orderkey", num_parts=8).select(
        "o_orderkey", F.col("seq_id").cast("long").alias("seq_id")
    )


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands over activity windows)
# ---------------------------------------------------------------------------

_INTERVALS_ORACLE = """
WITH iv AS (
  SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 900000 AS e
  FROM events
), m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM m
), g AS (
  SELECT user_id, island, min(s) AS st, max(e) AS en
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(en - st) AS BIGINT) AS covered_ms
FROM g GROUP BY user_id
"""


@register("merged_activity_intervals", _INTERVALS_ORACLE)
def merged_activity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce each user's overlapping 15-minute activity intervals
    (gaps-and-islands) and report interval count + total covered
    wall-clock ms — the session-coverage metric rate limiters and
    billing pipelines need.  One user-keyed shuffle; the running-max
    island detection is a frame over the user's own rows
    (operators/relational.py:coalesce_intervals)."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        epoch_ms("ts").alias("s"),
        (epoch_ms("ts") + F.lit(900000)).alias("e"),
    )
    g = coalesce_intervals(iv, ["user_id"], "s", "e")
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("iv_end") - F.col("iv_start"))
        .cast("long")
        .alias("covered_ms"),
    )


# ---------------------------------------------------------------------------
# Hourly autocorrelation (integer-exact ACF)
# ---------------------------------------------------------------------------

_ACF_CORR = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))"
)

_ACF_ORACLE = f"""
WITH h AS (
  SELECT epoch_ms(ts) // 3600000 AS hb, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY hb
), p AS (
  SELECT l.lag, x.c AS cx, y.c AS cy
  FROM h x
  JOIN (SELECT unnest(range(1, 7)) AS lag) l ON true
  JOIN h y ON y.hb = x.hb + l.lag
), s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cx) AS BIGINT) AS sx, CAST(sum(cy) AS BIGINT) AS sy,
         CAST(sum(cx * cy) AS BIGINT) AS sxy,
         CAST(sum(cx * cx) AS BIGINT) AS sxx,
         CAST(sum(cy * cy) AS BIGINT) AS syy
  FROM p GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, n AS n_pairs,
       {fround_sql(_ACF_CORR, 6)} AS acf
FROM s
"""


@register("hourly_acf_lags", _ACF_ORACLE)
def hourly_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1-6 —
    the seasonality diagnostic behind anomaly thresholds and forecast
    model selection.  All moment sums are exact BIGINTs over the
    (calendar-bounded) hourly series; the single closed-form Pearson
    expression at the end is the same IEEE double arithmetic in both
    engines (registry rule 2).  Scale shape: one partial-aggregated
    shuffle on hour buckets; the lag self-join runs on the AGGREGATED
    series, bounded by calendar hours, not event volume."""
    ev = table(spark, sf_dir, "events")
    h = (
        ev.select(F.floor(epoch_ms("ts") / 3600000).cast("long").alias("hb"))
        .groupBy("hb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    x = h.select(
        "hb",
        F.col("c").alias("cx"),
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("lag"),
    )
    y = h.select(F.col("hb").alias("hb2"), F.col("c").alias("cy"))
    p = x.join(y, F.col("hb") + F.col("lag") == F.col("hb2"))
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cx").cast("long").alias("sx"),
        F.sum("cy").cast("long").alias("sy"),
        F.sum(F.col("cx") * F.col("cy")).cast("long").alias("sxy"),
        F.sum(F.col("cx") * F.col("cx")).cast("long").alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).cast("long").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        fround(num / den, 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Seasonal (hour-of-day) anomaly detection, integer z^2 gate
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = f"""
WITH cell AS (
  SELECT epoch_ms(ts) // 86400000 AS day,
         CAST((epoch_ms(ts) // 3600000) % 24 AS INT) AS hod,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY day, hod
), base AS (
  SELECT hod, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS scc
  FROM cell GROUP BY hod
)
SELECT cell.day, cell.hod, cell.c,
       {fround_sql('CAST(base.sc AS DOUBLE) / base.n', 4)} AS hod_mean
FROM cell JOIN base ON base.hod = cell.hod
WHERE base.n >= 8
  AND (cell.c * base.n - base.sc) * (cell.c * base.n - base.sc)
      > 9 * (base.n * base.scc - base.sc * base.sc)
"""


@register("seasonal_hour_anomalies", _SEASONAL_ORACLE)
def seasonal_hour_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, hour) cells whose event count sits more than 3 sigma from
    the same-hour-of-day baseline — the seasonality-aware variant of
    the plain rate anomaly (a 9 AM spike is judged against other
    9 AMs, not the overnight lull).  The 3-sigma gate is evaluated as
    the INTEGER inequality (c*n - sum)^2 > 9*(n*sumsq - sum^2) — no
    sqrt, no float compare, so the flag set is bit-exact under any
    aggregation order.  Two calendar-bounded rollups; the baseline
    (24 rows) broadcasts."""
    ev = table(spark, sf_dir, "events")
    cell = (
        ev.select(
            F.floor(epoch_ms("ts") / 86400000).cast("long").alias("day"),
            (F.floor(epoch_ms("ts") / 3600000) % 24).cast("int").alias("hod"),
        )
        .groupBy("day", "hod")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    base = cell.groupBy("hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    j = cell.join(F.broadcast(base), "hod")
    dev = F.col("c") * F.col("n") - F.col("sc")
    var_n2 = F.col("n") * F.col("scc") - F.col("sc") * F.col("sc")
    return (
        j.filter((F.col("n") >= 8) & (dev * dev > 9 * var_n2))
        .select(
            "day",
            "hod",
            "c",
            fround(F.col("sc").cast("double") / F.col("n"), 4).alias(
                "hod_mean"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bounded k-core peeling over the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    sql = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING count(*) >= 2
), e0 AS (
  SELECT pa AS a, pb AS b FROM pairs
  UNION ALL
  SELECT pb AS a, pa AS b FROM pairs
)"""
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
k{r} AS (
  SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {_KCORE_K}
),
e{r} AS (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{r} x ON e.a = x.a JOIN k{r} y ON e.b = y.a
)"""
        prev = f"e{r}"
    sql += f"""
SELECT a AS part, CAST(count(*) AS BIGINT) AS degree
FROM {prev} GROUP BY a
"""
    return sql


def _peel_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """At most ``rounds`` k-core peel rounds over ``edges`` (a, b),
    which lists each undirected edge in both orientations, so a node's
    degree is its count as ``a`` and equally its count as ``b``.

    The rounds run on :func:`unroll` over the state (a, b, _dead): a
    round drops the previous round's dead edges, counts the degrees of
    what is left and flags the edges that lose an endpoint (degree <
    ``k``). Edges shrink monotonically, and a round that flags nothing
    is a fixpoint, so stopping there returns what the full unroll
    returns. The driver checkpoints each round: without the lineage
    cut, round r replays pair generation and all r-1 prior rounds —
    the 4-round plan was re-deriving the basket explode 4x over (43s
    -> ~4s at sf0.1)."""

    deg = lambda c: F.count(F.lit(1)).over(Window.partitionBy(c))  # noqa: E731
    dead = (deg("a") < k) | (deg("b") < k)

    def peel(state: DataFrame) -> DataFrame:
        return state.filter(~F.col("_dead")).select("a", "b", dead.alias("_dead"))

    state = edges.select("a", "b", F.lit(False).alias("_dead"))
    state = unroll(state, peel, rounds, F.col("_dead"), "k-core peel")
    return state.filter(~F.col("_dead")).select("a", "b")


@register("kcore_copurchase_parts", _kcore_oracle())
def kcore_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, at most 4 rounds) over the
    co-purchase graph: iteratively drop parts with fewer than 3
    co-purchase partners, keeping only edges between survivors — the
    dense-cluster extraction step behind community mining and spam
    ring detection.  The rounds run on the round driver of
    operators/graph.py (``converge``), which stops early once a round
    peels nothing; the peel is deterministic, so the early stop
    returns exactly the 4-round unroll and the oracle stays an exact
    chained-CTE replay.  Degrees are window counts over the current
    edge set; no round materializes anything bigger than it."""
    pairs = basket_item_pairs(table(spark, sf_dir, "lineitem")).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    # r11: both orientations from ONE pass over the pair table (a
    # two-branch union re-runs the pair aggregation's post-exchange
    # merge once per branch; the explode emits both in a single
    # traversal).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("a"), F.col("pb").alias("b")),
                F.struct(F.col("pb").alias("a"), F.col("pa").alias("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    edges = _peel_rounds(edges, _KCORE_K, _KCORE_ROUNDS)
    return edges.groupBy(F.col("a").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert quantiles (sort-free rank selection)
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, min(epoch_ms(ts)) AS vt FROM events
  WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT e.user_id, min(epoch_ms(e.ts)) AS pt
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > v.vt
  GROUP BY e.user_id
), d AS (
  SELECT p.user_id, p.pt - v.vt AS delta_ms
  FROM p JOIN v ON v.user_id = p.user_id
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
r AS (
  SELECT 50 AS rank_idx, CAST((50 * n.n + 99) // 100 AS BIGINT) AS rank_pos FROM n
  UNION ALL
  SELECT 90, CAST((90 * n.n + 99) // 100 AS BIGINT) FROM n
), s AS (
  SELECT delta_ms, row_number() OVER (ORDER BY delta_ms) AS rn FROM d
)
SELECT CAST(r.rank_idx AS INT) AS rank_idx, r.rank_pos,
       CAST(s.delta_ms AS DOUBLE) AS value
FROM r JOIN s ON s.rn = r.rank_pos
"""


@register("funnel_time_to_convert", _TTC_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of each converting user's first-view ->
    first-subsequent-purchase latency, selected by the sort-free rank
    operator (operators/relational.py:exact_rank_values) instead of a
    single-partition ordering — funnel SLO reporting that stays
    parallel at any user count.  Deltas are integer ms; the rank
    positions are ceil(q*n/100)."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(epoch_ms("ts")).alias("vt"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", epoch_ms("ts").alias("pt"))
        .join(v, "user_id")
        .filter(F.col("pt") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("pt").alias("pt"), F.min("vt").alias("vt"))
    )
    d = p.select((F.col("pt") - F.col("vt")).alias("delta_ms"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranks = (
        spark.createDataFrame([(50,), (90,)], "rank_idx int")
        .crossJoin(F.broadcast(n))
        .select(
            "rank_idx",
            F.floor((F.col("rank_idx") * F.col("_n") + 99) / 100)
            .cast("long")
            .alias("rank_pos"),
        )
    )
    out = exact_rank_values(
        d.select(F.col("delta_ms").cast("double").alias("delta_ms")),
        "delta_ms",
        ranks,
    )
    return out.select(
        F.col("rank_idx").cast("int").alias("rank_idx"),
        "rank_pos",
        F.col("value").cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# Quantile-binned feature rates (rank selection -> broadcast bins)
# ---------------------------------------------------------------------------

_BINNED_ORACLE = f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
r AS (
  SELECT CAST(i AS INT) AS rank_idx,
         CAST((i * n.n + 3) // 4 AS BIGINT) AS rank_pos
  FROM range(1, 4) t(i), n
), s AS (
  SELECT o_totalprice AS v, row_number() OVER (ORDER BY o_totalprice) AS rn
  FROM orders
), b AS (
  SELECT max(CASE WHEN r.rank_idx = 1 THEN s.v END) AS b1,
         max(CASE WHEN r.rank_idx = 2 THEN s.v END) AS b2,
         max(CASE WHEN r.rank_idx = 3 THEN s.v END) AS b3
  FROM r JOIN s ON s.rn = r.rank_pos
), binned AS (
  SELECT CASE WHEN o.o_totalprice <= b.b1 THEN 1
              WHEN o.o_totalprice <= b.b2 THEN 2
              WHEN o.o_totalprice <= b.b3 THEN 3
              ELSE 4 END AS bin,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders o CROSS JOIN b
)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(u) AS BIGINT) AS n_urgent,
       {fround_sql('CAST(sum(u) AS DOUBLE) / count(*)', 6)} AS urgent_rate
FROM binned GROUP BY bin
"""


@register("quantile_binned_priority_rates", _BINNED_ORACLE)
def quantile_binned_priority_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature discretization by EXACT quartile boundaries (the
    sort-free rank selector supplies them; they broadcast as one row)
    followed by a per-bin outcome rate — the binning + target-rate
    pattern behind WOE encoding and calibration checks, composed
    entirely from scale-safe parts: no global sort, a 3-value
    broadcast, one partial-agg shuffle onto 4 bins."""
    orders = table(spark, sf_dir, "orders")
    n = orders.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranks = (
        spark.range(1, 4)
        .select(F.col("id").cast("int").alias("rank_idx"))
        .crossJoin(F.broadcast(n))
        .select(
            "rank_idx",
            F.floor((F.col("rank_idx") * F.col("_n") + 3) / 4)
            .cast("long")
            .alias("rank_pos"),
        )
    )
    qs = exact_rank_values(orders, "o_totalprice", ranks)
    b = qs.agg(
        F.max(F.when(F.col("rank_idx") == 1, F.col("value"))).alias("b1"),
        F.max(F.when(F.col("rank_idx") == 2, F.col("value"))).alias("b2"),
        F.max(F.when(F.col("rank_idx") == 3, F.col("value"))).alias("b3"),
    )
    binned = orders.crossJoin(F.broadcast(b)).select(
        F.when(F.col("o_totalprice") <= F.col("b1"), 1)
        .when(F.col("o_totalprice") <= F.col("b2"), 2)
        .when(F.col("o_totalprice") <= F.col("b3"), 3)
        .otherwise(4)
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("u"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("u").cast("long").alias("n_urgent"),
        fround(
            F.sum("u").cast("double") / F.count(F.lit(1)), 6
        ).alias("urgent_rate"),
    )


# ---------------------------------------------------------------------------
# Corpus drift: per-term document-frequency ratio between halves
# ---------------------------------------------------------------------------

_DRIFT_RATIO = "(CAST(df0 AS DOUBLE) + 1.0) / (CAST(df1 AS DOUBLE) + 1.0)"

_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, doc_id % 2 AS half,
         unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
  FROM documents
), df AS (
  SELECT term,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS df1
  FROM toks GROUP BY term
  HAVING count(*) >= 5
)
SELECT term, df0, df1, {fround_sql(_DRIFT_RATIO, 6)} AS ratio
FROM df
ORDER BY {_DRIFT_RATIO} DESC, term
LIMIT 50
"""


@register("term_drift_topk", _DRIFT_ORACLE)
def term_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift probe between two corpus halves (doc_id
    parity split): per-term document frequencies in each half, ranked
    by the add-one-smoothed ratio — the drift alarm a training-data
    pipeline runs between ingest batches before mixing them.  The
    ratio is ONE double division (identical IEEE both engines, no
    libm); frequencies are integers; top-50 tie-broken by term.
    Scale shape: distinct (doc, term) then one term-keyed partial-agg
    shuffle; ranking runs on the term VOCABULARY, not the corpus."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2).alias("half"),
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(TOKEN_PATTERN), F.lit(0)
                )
            ).alias("term"),
        )
        .distinct()
    )
    df = (
        toks.groupBy("term")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long")
            .alias("df0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("df1"),
        )
        .filter(F.col("df0") + F.col("df1") >= 5)
    )
    ratio = (F.col("df0").cast("double") + F.lit(1.0)) / (
        F.col("df1").cast("double") + F.lit(1.0)
    )
    return (
        df.orderBy(ratio.desc(), "term")
        .limit(50)
        .select("term", "df0", "df1", fround(ratio, 6).alias("ratio"))
    )


# ---------------------------------------------------------------------------
# Percent-rank quality normalization per language
# ---------------------------------------------------------------------------

_PRANK_ORACLE = f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           AS pr
  FROM documents
)
SELECT doc_id, lang, n_chars, {fround_sql('pr', 6)} AS quality_pr
FROM r
"""


@register("quality_percent_rank_by_lang", _PRANK_ORACLE)
def quality_percent_rank_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rank-normalize a quality signal (n_chars) within each
    language: percent_rank puts every language's docs on a common
    [0,1] scale, the normalization curriculum mixing needs before
    cross-language thresholding (a 2000-char Chinese doc and a
    2000-char English doc sit at very different percentiles).
    (rank-1)/(n-1) is an integer ratio — deterministic; ties are
    broken by doc_id so ranks are total.  One lang-keyed shuffle."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        fround(F.percent_rank().over(w), 6).alias("quality_pr"),
    )


# ---------------------------------------------------------------------------
# Ingest gap detection (missing-hour islands -> backfill plan)
# ---------------------------------------------------------------------------

_GAPS_ORACLE = """
WITH h AS (
  SELECT DISTINCT epoch_ms(ts) // 3600000 AS hb FROM events
), span AS (
  SELECT min(hb) AS mn, max(hb) AS mx FROM h
), allh AS (
  SELECT unnest(range(span.mn, span.mx + 1)) AS hb FROM span
), miss AS (
  SELECT a.hb FROM allh a LEFT JOIN h ON h.hb = a.hb WHERE h.hb IS NULL
), isl AS (
  SELECT hb, hb - row_number() OVER (ORDER BY hb) AS grp FROM miss
)
SELECT min(hb) AS gap_start_hb, CAST(count(*) AS BIGINT) AS gap_hours
FROM isl GROUP BY grp
"""


@register("missing_hour_gaps", _GAPS_ORACLE)
def missing_hour_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner input: contiguous runs of hours with NO
    events between the stream's first and last hour (the islands of
    the complement) — what an ingest monitor pages on and a backfill
    job consumes as work units.  The candidate grid is generated
    from the 2-value span (calendar-bounded), anti-joined against
    observed hours; islands come from the hb - row_number key.  All
    windows run over the calendar-bounded hour series."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        F.floor(epoch_ms("ts") / 3600000).cast("long").alias("hb")
    ).distinct()
    span = h.agg(F.min("hb").alias("mn"), F.max("hb").alias("mx"))
    allh = span.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("hb")
    )
    miss = allh.join(h, "hb", "left_anti")
    isl = miss.select(
        "hb",
        (F.col("hb") - F.row_number().over(Window.orderBy("hb"))).alias(
            "grp"
        ),
    )
    return isl.groupBy("grp").agg(
        F.min("hb").alias("gap_start_hb"),
        F.count(F.lit(1)).cast("long").alias("gap_hours"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Chi-square association for co-purchase pairs (integer contingency)
# ---------------------------------------------------------------------------

_CHI2_EXPR = (
    "(CAST(n_orders AS DOUBLE) * ad_bc * ad_bc) / "
    "(CAST(sa * (n_orders - sa) AS DOUBLE) * CAST(sb * (n_orders - sb) AS DOUBLE))"
)

_CHI2_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), nn AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
), supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b HAVING count(*) >= 2
), ct AS (
  SELECT p.part_a, p.part_b, p.support, sa.s AS sa, sb.s AS sb, nn.n_orders,
         p.support * (nn.n_orders - sa.s - sb.s + p.support)
           - (sa.s - p.support) * (sb.s - p.support) AS ad_bc
  FROM pairs p
  JOIN supp sa ON sa.l_partkey = p.part_a
  JOIN supp sb ON sb.l_partkey = p.part_b
  CROSS JOIN nn
)
SELECT part_a, part_b, support, {fround_sql(_CHI2_EXPR, 4)} AS chi2
FROM ct
ORDER BY {_CHI2_EXPR} DESC, part_a, part_b
LIMIT 50
"""


@register("copurchase_chi2_topk", _CHI2_ORACLE)
def copurchase_chi2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association strength for frequent co-purchase
    pairs: the full 2x2 contingency table per pair derives from
    (support, supp_a, supp_b, N) alone, ad-bc stays an exact BIGINT,
    and the statistic is one shared double expression — significance
    ranking without any approximation library.  Supports broadcast;
    pair generation is basket-local as in the lift query."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    nn = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    pairs = basket_item_pairs(li)
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    ct = (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "ad_bc",
            F.col("support")
            * (F.col("n_orders") - F.col("sa") - F.col("sb") + F.col("support"))
            - (F.col("sa") - F.col("support"))
            * (F.col("sb") - F.col("support")),
        )
    )
    chi2 = (
        F.col("n_orders").cast("double") * F.col("ad_bc") * F.col("ad_bc")
    ) / (
        (F.col("sa") * (F.col("n_orders") - F.col("sa"))).cast("double")
        * (F.col("sb") * (F.col("n_orders") - F.col("sb"))).cast("double")
    )
    return (
        ct.orderBy(chi2.desc(), "part_a", "part_b")
        .limit(50)
        .select("part_a", "part_b", "support", fround(chi2, 4).alias("chi2"))
    )


# ---------------------------------------------------------------------------
# Exact two-sample KS statistic (integer cross-multiplied CDFs)
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
WITH o AS (
  SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
), k AS (
  SELECT v,
         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS k2
  FROM o GROUP BY v
), c AS (
  SELECT sum(k1) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         sum(k2) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM k
), t AS (
  SELECT CAST(sum(k1) AS BIGINT) AS n1, CAST(sum(k2) AS BIGINT) AS n2 FROM k
)
SELECT t.n1, t.n2,
       CAST(max(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS ks_num,
       {fround_sql('CAST(max(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n2)', 6)} AS ks
FROM c CROSS JOIN t
GROUP BY t.n1, t.n2
"""


@register("ks_price_by_segment", _KS_ORACLE)
def ks_price_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the
    BUILDING and MACHINERY order-value distributions: empirical CDFs
    compare through the INTEGER cross-product |c1*n2 - c2*n1| (no
    float CDF, no tie ambiguity — counts aggregate per distinct
    value first), so the supremum is found over exact integers and
    only the final normalization divides.  The cumulative window
    runs over the distinct-VALUE series, already reduced by the
    group-by."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        orders.join(
            F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("v"),
        )
    )
    k = o.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = k.select(
        F.sum("k1").over(w).alias("c1"), F.sum("k2").over(w).alias("c2")
    )
    t = k.agg(
        F.sum("k1").cast("long").alias("n1"),
        F.sum("k2").cast("long").alias("n2"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("long")
            .alias("ks_num")
        )
        .select(
            "n1",
            "n2",
            "ks_num",
            fround(
                F.col("ks_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                6,
            ).alias("ks"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder quota allocation per language
# ---------------------------------------------------------------------------

_QUOTA_TOTAL = 1000

_QUOTA_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang
), t AS (
  SELECT CAST(sum(c) AS BIGINT) AS total FROM c
), b AS (
  SELECT c.lang, c.c,
         (c.c * {_QUOTA_TOTAL}) // t.total AS base,
         (c.c * {_QUOTA_TOTAL}) % t.total AS rem
  FROM c CROSS JOIN t
), l AS (
  SELECT CAST({_QUOTA_TOTAL} - sum(base) AS BIGINT) AS leftover FROM b
), r AS (
  SELECT lang, c, base,
         row_number() OVER (ORDER BY rem DESC, lang) AS rn
  FROM b
)
SELECT r.lang, r.c AS n_docs,
       CAST(r.base + CASE WHEN r.rn <= l.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM r CROSS JOIN l
"""


@register("largest_remainder_allocation", _QUOTA_ORACLE)
def largest_remainder_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact proportional sample allocation across languages by the
    largest-remainder (Hamilton) method: floor quotas plus one extra
    seat to the biggest scaled remainders until the fixed total
    (1000) is hit — quotas sum EXACTLY to the target, all in integer
    arithmetic (the hash-threshold samplers elsewhere trade exactness
    for shuffle-freedom; this is the exact-allocation complement).
    Windows run over the language list (tiny); ties on remainder
    break by lang for a total order."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c"))
    t = c.agg(F.sum("c").cast("long").alias("total"))
    b = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "c",
        F.floor(F.col("c") * _QUOTA_TOTAL / F.col("total")).alias("base"),
        ((F.col("c") * _QUOTA_TOTAL) % F.col("total")).alias("rem"),
    )
    leftover = b.agg(
        (F.lit(_QUOTA_TOTAL) - F.sum("base")).cast("long").alias("leftover")
    )
    r = b.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "lang")),
    )
    return r.crossJoin(F.broadcast(leftover)).select(
        "lang",
        F.col("c").alias("n_docs"),
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )


# ---------------------------------------------------------------------------
# Vocabulary dense ID assignment (tokenizer artifact)
# ---------------------------------------------------------------------------

_VOCAB_IDS_ORACLE = f"""
WITH v AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
  FROM documents
)
SELECT term,
       CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS token_id
FROM v
"""


@register("vocab_dense_ids", _VOCAB_IDS_ORACLE)
def vocab_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's term -> id table: contiguous 1..|V| ids over
    the sorted corpus vocabulary, assigned by the global-sort-free
    dense ID operator (operators/relational.py:dense_ids_by_key) —
    the exact artifact an embedding layer consumes, built without
    ever collapsing the vocabulary into one task.  The oracle is the
    textbook single-partition row_number."""
    docs = table(spark, sf_dir, "documents")
    vocab = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term")
    ).distinct()
    return dense_ids_by_key(vocab, "term", num_parts=8).select(
        "term", F.col("seq_id").cast("long").alias("token_id")
    )


# ---------------------------------------------------------------------------
# Negative-sampling table (unigram^0.75 via nested exact sqrt)
# ---------------------------------------------------------------------------

_NEGSAMPLE_ORACLE = f"""
WITH tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
    FROM documents
  ) GROUP BY term HAVING count(*) >= 5
), w AS (
  SELECT term, c,
         CAST(floor(sqrt(sqrt(CAST(c AS DOUBLE) * c * c))) AS BIGINT)
           AS weight
  FROM tf
)
SELECT term, c AS term_count, weight,
       CAST(sum(weight) OVER (ORDER BY term
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cum_weight
FROM w
"""


@register("negative_sampling_table", _NEGSAMPLE_ORACLE)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: per-term weight
    floor(count^(3/4)) with the 3/4 power computed as
    sqrt(sqrt(c^3)) — IEEE sqrt is correctly rounded in BOTH engines
    (unlike pow/exp/ln, whose libm implementations differ in the last
    ulp), and c^3 is an exact BIGINT, so the weights and the
    cumulative table (the binary-search draw structure) are bit-exact
    cross-engine.  One term rollup; the cumulative window runs over
    the vocabulary, tie-free because term is the order key."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(TOKEN_PATTERN), F.lit(0)
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 5)
    )
    w = tf.select(
        "term",
        "c",
        F.floor(
            F.sqrt(
                F.sqrt(
                    F.col("c").cast("double") * F.col("c") * F.col("c")
                )
            )
        )
        .cast("long")
        .alias("weight"),
    )
    win = Window.orderBy("term").rowsBetween(Window.unboundedPreceding, 0)
    return w.select(
        "term",
        F.col("c").alias("term_count"),
        "weight",
        F.sum("weight").over(win).cast("long").alias("cum_weight"),
    )


# ---------------------------------------------------------------------------
# RFM user segmentation (integer quartile scores)
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH m AS (
  SELECT user_id,
         max(epoch_ms(ts)) AS last_ms,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
r AS (
  SELECT m.user_id, m.last_ms, m.freq, m.cents, t.n,
         row_number() OVER (ORDER BY m.last_ms, m.user_id) AS rr,
         row_number() OVER (ORDER BY m.freq, m.user_id) AS rf,
         row_number() OVER (ORDER BY m.cents, m.user_id) AS rm
  FROM m CROSS JOIN t
)
SELECT user_id,
       CAST((rr * 4 + n - 1) // n AS BIGINT) AS r_score,
       CAST((rf * 4 + n - 1) // n AS BIGINT) AS f_score,
       CAST((rm * 4 + n - 1) // n AS BIGINT) AS m_score
FROM r
"""


@register("rfm_user_segments", _RFM_ORACLE)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quartile scores (1..4) per
    purchasing user: each dimension ranks totally (tie-break
    user_id) and maps to its quartile by the integer ceiling
    ceil(rank*4/n) — no percentile interpolation, no float compare.
    Money folds to integer cents with the shared rounding before
    summing.  The ranking windows are the one deliberate global
    ordering, over the PURCHASING-USER aggregate (already one row
    per user)."""
    ev = table(spark, sf_dir, "events")
    m = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(epoch_ms("ts")).alias("last_ms"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents"),
        )
    )
    t = m.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = m.crossJoin(F.broadcast(t)).select(
        "user_id",
        "n",
        F.row_number()
        .over(Window.orderBy("last_ms", "user_id"))
        .alias("rr"),
        F.row_number().over(Window.orderBy("freq", "user_id")).alias("rf"),
        F.row_number().over(Window.orderBy("cents", "user_id")).alias("rm"),
    )
    def _score(rank_col: str):
        return (
            F.floor((F.col(rank_col) * 4 + F.col("n") - 1) / F.col("n"))
            .cast("long")
        )
    return r.select(
        "user_id",
        _score("rr").alias("r_score"),
        _score("rf").alias("f_score"),
        _score("rm").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Weighted median price (cumulative-weight crossing)
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH b AS (
  SELECT l_extendedprice AS v, CAST(sum(l_quantity) AS BIGINT) AS wt
  FROM lineitem GROUP BY l_extendedprice
), t AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM b),
c AS (
  SELECT v, wt,
         CAST(sum(wt) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum
  FROM b
)
SELECT min(c.v) AS weighted_median, min(t.total) AS total_weight
FROM c CROSS JOIN t
WHERE c.cum * 2 >= t.total
"""


@register("weighted_median_price", _WMEDIAN_ORACLE)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price: the first value whose
    cumulative weight crosses half the total, found by the INTEGER
    inequality cum*2 >= total (weights are exact quantity sums, no
    float CDF).  Value-grain pre-aggregation bounds the cumulative
    window to the distinct-price series."""
    li = table(spark, sf_dir, "lineitem")
    b = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum("l_quantity").cast("long").alias("wt")
    )
    t = b.agg(F.sum("wt").cast("long").alias("total"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select("v", F.sum("wt").over(w).cast("long").alias("cum"))
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("cum") * 2 >= F.col("total"))
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("total").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Hive-style partitioned layout: dynamic overwrite + DPP
# ---------------------------------------------------------------------------


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf) orders partitioned by o_orderpriority —
    the directory layout whose partition values live in PATHS, so a
    filter on the partition column prunes whole directories at
    PLANNING time (PartitionFilters, no file I/O at all — one level
    stronger than the zonemap/footer-stats skipping elsewhere)."""
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"{tempfile.gettempdir()}/dss_part_orders_{tag}"
    marker = os.path.join(base, "_SUCCESS")
    if not os.path.exists(marker):
        (
            table(spark, sf_dir, "orders")
            .write.partitionBy("o_orderpriority")
            .mode("overwrite")
            .parquet(base)
        )
    return base


_PART_OVERWRITE_ORACLE = """
WITH cur AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM cur GROUP BY o_orderpriority
"""


@register("partitioned_overwrite_orders", _PART_OVERWRITE_ORACLE)
def partitioned_overwrite_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition overwrite: a repricing batch rewrites ONLY
    the '1-URGENT' partition directory (partitionOverwriteMode=
    dynamic — untouched priorities keep their original files; the
    static mode would truncate the whole table), then the read-back
    aggregate proves exactly one partition changed.  This is the
    partition-scoped COW idiom for Hive-style layouts, the
    directory-level complement of the file-level COW merge in
    sources/txlog.py.  The write moves only the repriced partition's
    rows; the final aggregate is one partial-agg shuffle."""
    orders = table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="dss_dynpart_") + "/orders"
    orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.partitionBy("o_orderpriority").mode("overwrite").parquet(base)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select(
                "o_orderkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                "o_orderpriority",
            )
            .write.partitionBy("o_orderpriority")
            .mode("overwrite")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    cur = spark.read.parquet(base)
    return cur.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


_DPP_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o.o_orderpriority
"""


@register("dpp_partitioned_join", _DPP_ORACLE)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partitioned fact scan receives
    its partition filter AT RUNTIME from the broadcast dim side of
    the join (Catalyst's dynamicpruningexpression — plan-asserted in
    tests/test_scale_layout.py), so only the dim-selected priority
    directories are read even though the fact query itself has no
    literal partition predicate.  At 100 TB a star join touching 2 of
    5 partitions scans 40% — without DPP it scans everything."""
    base = partitioned_orders_path(spark, sf_dir)
    fact = spark.read.parquet(base)
    # The dim must carry a SELECTIVE predicate over a real source for
    # Catalyst to judge pruning beneficial — an unfiltered local
    # relation never triggers DPP.
    dim = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
        .filter(F.col("prio").isin("1-URGENT", "2-HIGH"))
    )
    j = fact.join(
        F.broadcast(dim), fact["o_orderpriority"] == dim["prio"]
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) sharding: minimal movement on shard addition
# ---------------------------------------------------------------------------


def _hrw_score_sql(key: str, shard: str) -> str:
    return (
        f"(('0x' || substr(sha256('hrw:' || CAST({key} AS VARCHAR) || ':' "
        f"|| CAST({shard} AS VARCHAR)), 1, 13))::BIGINT)"
    )


_HRW_ORACLE = f"""
WITH s8 AS (
  SELECT doc_id, k AS shard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY {_hrw_score_sql('doc_id', 'k')} DESC, k)
           AS rn
  FROM documents, (SELECT unnest(range(0, 8)) AS k)
), s9 AS (
  SELECT doc_id, k AS shard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY {_hrw_score_sql('doc_id', 'k')} DESC, k)
           AS rn
  FROM documents, (SELECT unnest(range(0, 9)) AS k)
), a AS (
  SELECT s9.doc_id, s9.shard AS shard9, s8.shard AS shard8
  FROM s9 JOIN s8 ON s8.doc_id = s9.doc_id AND s8.rn = 1
  WHERE s9.rn = 1
)
SELECT CAST(shard9 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_in
FROM a GROUP BY shard9
"""


@register("rendezvous_shard_moves", _HRW_ORACLE)
def rendezvous_shard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding and its minimal-
    movement guarantee: every doc goes to the shard maximizing
    sha256('hrw:'||doc||':'||shard) — when the cluster grows 8 -> 9
    shards, ONLY docs whose new max is the NEW shard move (~1/9 of
    the corpus, pytest-asserted), versus mod-N hashing which moves
    ~8/9 of everything.  Scores are the repo's engine-exact 52-bit
    sha256 integers (operators/sampling.py idiom); the per-doc argmax
    is a bounded 8/9-way explode + one ranking, no shuffle beyond the
    doc key."""
    from dss_nlp_ingestion_spark.operators.sampling import hash_order_key

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def assign(n: int, out: str) -> DataFrame:
        e = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k"),
        )
        scored = e.select(
            "doc_id",
            "k",
            hash_order_key(
                F.concat_ws(":", F.col("doc_id"), F.col("k")), "hrw"
            ).alias("score"),
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), "k"
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("k").alias(out))
        )

    a = assign(8, "shard8").join(assign(9, "shard9"), "doc_id")
    return a.groupBy(F.col("shard9").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_moved_in"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics (whitening diagonal, fixed point)
# ---------------------------------------------------------------------------

_DIM_STATS_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0)
                                  AS BIGINT)) AS qv
  FROM embeddings
), a AS (
  SELECT i - 1 AS i, qv[i] AS vi FROM q, range(1, 65) t(i)
), s AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vi) AS BIGINT) AS s_fx,
         CAST(sum(vi * vi) AS BIGINT) AS ss_fx
  FROM a GROUP BY i
)
SELECT CAST(i AS INT) AS i, n, s_fx, ss_fx,
       {fround_sql('CAST(s_fx AS DOUBLE) / n / 1048576.0', 6)} AS mean,
       {fround_sql(
           '(CAST(ss_fx AS DOUBLE) / n'
           ' - (CAST(s_fx AS DOUBLE) / n) * (CAST(s_fx AS DOUBLE) / n))'
           ' / (1048576.0 * 1048576.0)', 6
       )} AS var
FROM s
"""


@register("embedding_dim_stats", _DIM_STATS_ORACLE)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus — the
    whitening DIAGONAL (the scatter matrix's cheap sibling, enough
    for per-dim standardization before quantization).  Sums are
    fixed-point BIGINTs (order-independent); mean and population
    variance derive in one shared double expression.  Scan-side
    posexplode, one 64-key rollup (sums upgrade to DECIMAL(38,0)
    past ~10^6 rows per the registry's exact-aggregation rule)."""
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * F.lit(1048576.0)).cast(
                    "long"
                ),
            )
        ).alias("i", "vi")
    )
    s = a.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vi").cast("long").alias("s_fx"),
        F.sum(F.col("vi") * F.col("vi")).cast("long").alias("ss_fx"),
    )
    return s.select(
        F.col("i").cast("int").alias("i"),
        "n",
        "s_fx",
        "ss_fx",
        fround(
            F.col("s_fx").cast("double") / F.col("n") / F.lit(1048576.0), 6
        ).alias("mean"),
        fround(
            (
                F.col("ss_fx").cast("double") / F.col("n")
                - (F.col("s_fx").cast("double") / F.col("n"))
                * (F.col("s_fx").cast("double") / F.col("n"))
            )
            / (F.lit(1048576.0) * F.lit(1048576.0)),
            6,
        ).alias("var"),
    )


# ---------------------------------------------------------------------------
# Winsorized mean (position-selected caps, integer cents)
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH o AS (
  SELECT o_totalprice AS v, o_orderkey FROM orders
), r AS (
  SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM o
), caps AS (
  SELECT max(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS lo,
         max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS hi
  FROM r
), w AS (
  SELECT CAST(floor(
           CASE WHEN o.v < caps.lo THEN caps.lo
                WHEN o.v > caps.hi THEN caps.hi
                ELSE o.v END * 100 + 0.5) AS BIGINT) AS cents
  FROM o CROSS JOIN caps
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS winsor_cents,
       CAST(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS DOUBLE)
         AS winsor_mean
FROM w
"""


@register("winsorized_mean_price", _WINSOR_ORACLE)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust mean with P5/P95 winsorization: cap values at the
    position-selected percentiles (ranks ceil(5n/100), ceil(95n/100)
    via the sort-free rank selector — exact data values, no
    interpolation, no single-partition ordering), fold to integer
    cents with the shared rounding, sum exactly.  The mean is one
    final division.  The caps broadcast as one row; the clamp is
    scan-side."""
    orders = table(spark, sf_dir, "orders")
    o = orders.select(F.col("o_totalprice").alias("v"), "o_orderkey")
    n = o.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranks = (
        spark.createDataFrame([(5,), (95,)], "rank_idx int")
        .crossJoin(F.broadcast(n))
        .select(
            "rank_idx",
            F.floor((F.col("rank_idx") * F.col("_n") + 99) / 100)
            .cast("long")
            .alias("rank_pos"),
        )
    )
    sel = exact_rank_values(o, "v", ranks)
    caps = sel.agg(
        F.max(F.when(F.col("rank_idx") == 5, F.col("value"))).alias("lo"),
        F.max(F.when(F.col("rank_idx") == 95, F.col("value"))).alias("hi"),
    )
    clamped = o.crossJoin(F.broadcast(caps)).select(
        F.floor(
            F.when(F.col("v") < F.col("lo"), F.col("lo"))
            .when(F.col("v") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("v"))
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cents")
    )
    return clamped.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("winsor_cents"),
        (
            F.sum("cents").cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        )
        .cast("double")
        .alias("winsor_mean"),
    )


# ---------------------------------------------------------------------------
# Order-independent table content checksums (replication verification)
# ---------------------------------------------------------------------------


def _row_hash_sql(concat_expr: str) -> str:
    return (
        f"(('0x' || substr(sha256({concat_expr}), 1, 13))::BIGINT)"
    )


_CHECKSUM_ORACLE = f"""
WITH o AS (
  SELECT {_row_hash_sql(
      "'ck:' || CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus"
      " || ':' || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
      " AS VARCHAR)"
  )} AS h
  FROM orders
), l AS (
  SELECT {_row_hash_sql(
      "'ck:' || CAST(l_orderkey AS VARCHAR) || ':'"
      " || CAST(l_linenumber AS VARCHAR) || ':'"
      " || CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
      " AS VARCHAR)"
  )} AS h
  FROM lineitem
)
SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM o
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT),
       CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR)
FROM l
"""


@register("table_content_checksum", _CHECKSUM_ORACLE)
def table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per table: each row folds
    to the repo's 52-bit sha256 integer over its key columns +
    rounded money, and the table fingerprint is the EXACT
    DECIMAL(38) sum — commutative, so 1000 executors summing in any
    order agree, and two replicas compare with one row each (the
    verification handshake replicate_incremental needs; a mismatch
    localizes by re-checksumming partitions).  Money folds through
    the shared floor-rounding before hashing so both engines hash
    identical strings."""
    from dss_nlp_ingestion_spark.operators.sampling import hash_order_key

    def _ck(df: DataFrame, concat, name: str) -> DataFrame:
        h = hash_order_key(concat, "ck")
        return (
            df.select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("string")
                .alias("checksum"),
            )
            .select(F.lit(name).alias("tbl"), "n_rows", "checksum")
        )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o_concat = F.concat_ws(
        ":",
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
    )
    l_concat = F.concat_ws(
        ":",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
    )
    return _ck(orders, o_concat, "orders").unionAll(
        _ck(li, l_concat, "lineitem")
    )


# ---------------------------------------------------------------------------
# Join-skew diagnosis report (salt-factor recommendation)
# ---------------------------------------------------------------------------

_SKEW_ORACLE = f"""
WITH f AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS freq
  FROM orders GROUP BY o_custkey
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(freq) AS BIGINT) AS n_rows,
         CAST(max(freq) AS BIGINT) AS max_freq
  FROM f
), p AS (
  SELECT freq, row_number() OVER (ORDER BY freq, key) AS rn,
         count(*) OVER () AS n
  FROM f
), p99 AS (
  SELECT max(CASE WHEN rn = (99 * n + 99) // 100 THEN freq END) AS p99_freq
  FROM p
)
SELECT s.n_keys, s.n_rows, s.max_freq,
       CAST(p99.p99_freq AS BIGINT) AS p99_freq,
       CAST((s.max_freq * s.n_keys + s.n_rows - 1) // s.n_rows AS BIGINT)
         AS salt_factor
FROM s CROSS JOIN p99
"""


@register("skew_diagnosis_orders", _SKEW_ORACLE)
def skew_diagnosis_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis for the o_custkey key: key count, row
    count, hottest-key frequency, position-selected p99 frequency,
    and the recommended salt factor ceil(max_freq / mean_freq) — the
    number the salted-join operators (operators/skew.py) take as
    input, derived from data instead of guessed.  All integer
    arithmetic; one key rollup plus a key-frequency ranking over the
    (already aggregated) key table."""
    orders = table(spark, sf_dir, "orders")
    f = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    s = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("n_rows"),
        F.max("freq").cast("long").alias("max_freq"),
    )
    p = f.select(
        "freq",
        F.row_number().over(Window.orderBy("freq", "key")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    p99 = p.agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((99 * F.col("n") + 99) / 100),
                F.col("freq"),
            )
        )
        .cast("long")
        .alias("p99_freq")
    )
    return s.crossJoin(F.broadcast(p99)).select(
        "n_keys",
        "n_rows",
        "max_freq",
        "p99_freq",
        F.floor(
            (F.col("max_freq") * F.col("n_keys") + F.col("n_rows") - 1)
            / F.col("n_rows")
        )
        .cast("long")
        .alias("salt_factor"),
    )


# ---------------------------------------------------------------------------
# LATERAL join surface (correlated per-row top-k subquery)
# ---------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON true
"""


@register("lateral_top_orders", _LATERAL_ORACLE)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL surface: each customer's top-2 orders via a
    correlated lateral derived table with ORDER BY/LIMIT — the ANSI
    spelling users port from DuckDB/Postgres verbatim.  Catalyst
    rewrites the correlated limit into the same windowed group-limit
    the DataFrame form plans (DomainJoin -> WindowGroupLimit), so the
    SQL front door costs what the native top-k costs — there is no
    per-customer re-execution at any scale."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Streaming sink into MULTI-TABLE transactions
# ---------------------------------------------------------------------------

_STREAM_MULTITXN_ORACLE = """
SELECT epoch_ms(ts) // 3600000 AS hb, CAST(count(*) AS BIGINT) AS c
FROM events GROUP BY hb
"""


@register("streaming_multitxn_sink", _STREAM_MULTITXN_ORACLE)
def streaming_multitxn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest with CROSS-TABLE atomic visibility: every
    micro-batch commits its raw rows to one ACID table and its hourly
    partial counts to another, then publishes the (raw@v, agg@v)
    vector (streaming/pipeline.py:stream_to_multitxn_tables) — a
    consumer reading the latest txn always sees raw and rollup from
    the SAME batch boundary, never the raw table one batch ahead of
    its rollup.  The returned series folds the delta table's partial
    counts at the pinned version; availableNow drains everything, so
    the batch oracle over events is the exact expectation."""
    import tempfile as _tf

    from dss_nlp_ingestion_spark.sources import multitxn
    from dss_nlp_ingestion_spark.streaming.pipeline import (
        read_events_stream,
        stream_to_multitxn_tables,
    )

    events = table(spark, sf_dir, "events")
    src = _tf.mkdtemp(prefix="dss_multitxn_src_")
    events.write.mode("overwrite").parquet(src)
    root = _tf.mkdtemp(prefix="dss_multitxn_sink_")
    stream = read_events_stream(spark, src, schema=events.schema)
    stream_to_multitxn_tables(
        stream, root, _tf.mkdtemp(prefix="dss_multitxn_ckpt_")
    )
    snap = multitxn.read_consistent(spark, root)
    return (
        snap["hourly_delta"]
        .groupBy("hb")
        .agg(F.sum("c").cast("long").alias("c"))
    )


# ---------------------------------------------------------------------------
# Association rules with confidence (directional A -> B)
# ---------------------------------------------------------------------------

_CONF_EXPR = "CAST(support AS DOUBLE) / s_ante"

_RULES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), supp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b HAVING count(*) >= 2
), rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, support, sa.s AS s_ante
  FROM pairs JOIN supp sa ON sa.l_partkey = pairs.part_a
  UNION ALL
  SELECT part_b, part_a, support, sb.s
  FROM pairs JOIN supp sb ON sb.l_partkey = pairs.part_b
)
SELECT antecedent, consequent, support, s_ante,
       {fround_sql(_CONF_EXPR, 6)} AS confidence
FROM rules
ORDER BY {_CONF_EXPR} DESC, antecedent, consequent
LIMIT 50
"""


@register("association_rules_confidence", _RULES_ORACLE)
def association_rules_confidence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directional association rules A -> B ranked by confidence =
    support(A,B)/support(A): each frequent pair yields both rule
    directions (different denominators), confidence is one shared
    division, top-50 with a total (confidence, rule) order.
    Completes the rules suite: support (copurchase_pairs_support),
    lift (copurchase_lift_topk), significance (copurchase_chi2_topk),
    confidence here — all from the same basket-local pair table."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    pairs = basket_item_pairs(li)
    # r11: both rule directions from ONE pass over the pair table
    # (the fwd/rev union re-ran the pair aggregation's post-exchange
    # merge per branch and paid two broadcast joins); one explode +
    # one broadcast join on the antecedent produces the identical
    # rule multiset.
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("antecedent"),
                    F.col("part_b").alias("consequent"),
                ),
                F.struct(
                    F.col("part_b").alias("antecedent"),
                    F.col("part_a").alias("consequent"),
                ),
            )
        ).alias("_r"),
        "support",
    ).select("_r.antecedent", "_r.consequent", "support")
    sante = supp.select(
        F.col("l_partkey").alias("antecedent"), F.col("s").alias("s_ante")
    )
    rules = both.join(F.broadcast(sante), "antecedent")
    conf = F.col("support").cast("double") / F.col("s_ante")
    return (
        rules.orderBy(conf.desc(), "antecedent", "consequent")
        .limit(50)
        .select(
            "antecedent",
            "consequent",
            "support",
            "s_ante",
            fround(conf, 6).alias("confidence"),
        )
    )


# ---------------------------------------------------------------------------
# Degree distribution in log2 buckets (power-law tail audit)
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING count(*) >= 2
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
  ) GROUP BY node
)
SELECT CAST(length(printf('%b', d)) - 1 AS INT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree
FROM deg GROUP BY log2_bucket
"""


@register("degree_distribution_log2", _DEGREE_ORACLE)
def degree_distribution_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in log2 buckets
    (floor(log2(d)) computed as binary-string length minus one — an
    INTEGER, no libm log) — the power-law tail audit that decides
    whether the graph operators need hub mitigation
    (operators/graph.py's degree-oriented triangle bound consumes
    exactly this shape).  Two bounded rollups."""
    pairs = basket_item_pairs(table(spark, sf_dir, "lineitem")).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    # r11: both endpoints from ONE pass over the pair table (the
    # union form re-ran the pair aggregation's post-exchange merge
    # once per branch).
    deg = (
        pairs.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return deg.groupBy(
        (F.length(F.conv(F.col("d"), 10, 2)) - 1)
        .cast("int")
        .alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/data-quality probe)
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
)
SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS first_digit,
       CAST(count(*) AS BIGINT) AS n
FROM c GROUP BY first_digit
"""


@register("benford_first_digit_counts", _BENFORD_ORACLE)
def benford_first_digit_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order values — the
    Benford's-law audit fraud and synthetic-data checks start from.
    The digit is taken from the BIGINT cents' decimal string (both
    engines print integers identically; never from double formatting,
    which differs cross-engine).  One 9-key rollup."""
    orders = table(spark, sf_dir, "orders")
    c = orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    return (
        c.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit (schema-profiling)
# ---------------------------------------------------------------------------

_FD_ORACLE = """
WITH nat AS (
  SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_lhs,
         CAST(count(DISTINCT (CAST(n_nationkey AS VARCHAR) || ':'
                              || CAST(n_regionkey AS VARCHAR))) AS BIGINT)
           AS n_pairs
  FROM nation
), ord AS (
  SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_lhs,
         CAST(count(DISTINCT (CAST(o_custkey AS VARCHAR) || ':'
                              || o_orderpriority)) AS BIGINT) AS n_pairs
  FROM orders
)
SELECT 'n_nationkey->n_regionkey' AS fd, n_lhs, n_pairs,
       n_pairs - n_lhs AS violations FROM nat
UNION ALL
SELECT 'o_custkey->o_orderpriority', n_lhs, n_pairs,
       n_pairs - n_lhs FROM ord
"""


@register("fd_violation_audit", _FD_ORACLE)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: a candidate FD X -> Y holds iff
    distinct(X, Y) == distinct(X); the violation count is the
    difference — zero for the real schema FD (nation -> region),
    large for the non-FD control (customer -> priority).  This is
    the profiling primitive schema-inference and normalization
    checks run table-wide; two distinct-aggregations per candidate,
    no joins."""

    def _fd(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        return (
            df.agg(
                F.countDistinct(F.col(lhs)).cast("long").alias("n_lhs"),
                # F.concat propagates NULLs like the oracle's ||
                # (concat_ws would SKIP a NULL rhs and miscount pairs
                # on dirty data — r5 review finding)
                F.countDistinct(
                    F.concat(
                        F.col(lhs).cast("string"),
                        F.lit(":"),
                        F.col(rhs).cast("string"),
                    )
                )
                .cast("long")
                .alias("n_pairs"),
            )
            .select(
                F.lit(name).alias("fd"),
                "n_lhs",
                "n_pairs",
                (F.col("n_pairs") - F.col("n_lhs")).alias("violations"),
            )
        )

    nat = _fd(
        table(spark, sf_dir, "nation"),
        "n_nationkey",
        "n_regionkey",
        "n_nationkey->n_regionkey",
    )
    orders = _fd(
        table(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderpriority",
        "o_custkey->o_orderpriority",
    )
    return nat.unionAll(orders)


# ---------------------------------------------------------------------------
# Data-freshness SLA report
# ---------------------------------------------------------------------------

_FRESHNESS_ORACLE = """
WITH m AS (
  SELECT event_type, max(epoch_ms(ts)) AS last_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), g AS (SELECT max(epoch_ms(ts)) AS head_ms FROM events)
SELECT m.event_type, m.n_events,
       CAST((g.head_ms - m.last_ms) // 3600000 AS BIGINT)
         AS staleness_hours,
       CAST(CASE WHEN g.head_ms - m.last_ms > 86400000 THEN 1 ELSE 0 END
            AS BIGINT) AS sla_breach
FROM m CROSS JOIN g
"""


@register("freshness_report", _FRESHNESS_ORACLE)
def freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness against the pipeline head: hours since
    each event type's last arrival relative to the newest event
    anywhere, with a 24h SLA breach flag — the ingest-monitoring
    complement of missing_hour_gaps (that finds holes inside the
    stream; this finds sources that STOPPED).  Integer ms and an
    integer threshold; the head watermark broadcasts as one row."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.max(epoch_ms("ts")).alias("last_ms"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    g = ev.agg(F.max(epoch_ms("ts")).alias("head_ms"))
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        F.floor((F.col("head_ms") - F.col("last_ms")) / 3600000)
        .cast("long")
        .alias("staleness_hours"),
        F.when(F.col("head_ms") - F.col("last_ms") > 86400000, 1)
        .otherwise(0)
        .cast("long")
        .alias("sla_breach"),
    )


# ---------------------------------------------------------------------------
# Numeric column correlation profile (integer-scaled Pearson)
# ---------------------------------------------------------------------------

# Second-order sums ride DECIMAL(38,0): sum(pc^2) brushes int64 max
# at sf0.1 and exceeds it at sf1 — Spark's long sum would WRAP while
# DuckDB's would error (registry rule 1 applied to moments).
_CORR_FORMULA = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * sy) / "
    "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * sx) * "
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * sy))"
)

_CORR_PROFILE_ORACLE = f"""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tc
  FROM lineitem
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(pc) AS BIGINT) AS spc,
         CAST(sum(q * pc) AS DECIMAL(38,0)) AS sqpc,
         CAST(sum(q * q) AS DECIMAL(38,0)) AS sqq,
         CAST(sum(pc * pc) AS DECIMAL(38,0)) AS spcpc,
         CAST(sum(dc) AS BIGINT) AS sdc, CAST(sum(tc) AS BIGINT) AS stc,
         CAST(sum(dc * tc) AS DECIMAL(38,0)) AS sdctc,
         CAST(sum(dc * dc) AS DECIMAL(38,0)) AS sdcdc,
         CAST(sum(tc * tc) AS DECIMAL(38,0)) AS stctc
  FROM v
), s AS (
  SELECT 'quantity~price' AS pair, n, sq AS sx, spc AS sy,
         sqpc AS sxy, sqq AS sxx, spcpc AS syy FROM m
  UNION ALL
  SELECT 'discount~tax', n, sdc, stc, sdctc, sdcdc, stctc FROM m
)
SELECT pair, n, {fround_sql(_CORR_FORMULA, 6)} AS corr
FROM s
"""


@register("column_corr_profile", _CORR_PROFILE_ORACLE)
def column_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-profiling correlations between column pairs, exact to
    the last bit before one shared closed-form expression: every
    moment is an integer sum over integer-scaled values (quantity is
    integral; money/rates fold to cents with the shared rounding), so
    1000-way partial aggregation cannot perturb the Pearson inputs —
    unlike F.corr, whose float accumulator is order-dependent.  One
    scan computes every moment; the two pair rows are projections of
    that single aggregate."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("dc"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long").alias("tc"),
    )

    # ONE scan computes all 11 moments; the two pair rows project
    # from the single aggregate (r5 review: the per-pair agg form
    # read lineitem twice).
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("pc").cast("long").alias("spc"),
        F.sum((F.col("q") * F.col("pc")).cast("decimal(38,0)")).alias("sqpc"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("sqq"),
        F.sum((F.col("pc") * F.col("pc")).cast("decimal(38,0)")).alias(
            "spcpc"
        ),
        F.sum("dc").cast("long").alias("sdc"),
        F.sum("tc").cast("long").alias("stc"),
        F.sum((F.col("dc") * F.col("tc")).cast("decimal(38,0)")).alias(
            "sdctc"
        ),
        F.sum((F.col("dc") * F.col("dc")).cast("decimal(38,0)")).alias(
            "sdcdc"
        ),
        F.sum((F.col("tc") * F.col("tc")).cast("decimal(38,0)")).alias(
            "stctc"
        ),
    )
    s = m.select(
        F.lit("quantity~price").alias("pair"),
        "n",
        F.col("sq").alias("sx"),
        F.col("spc").alias("sy"),
        F.col("sqpc").alias("sxy"),
        F.col("sqq").alias("sxx"),
        F.col("spcpc").alias("syy"),
    ).unionAll(
        m.select(
            F.lit("discount~tax").alias("pair"),
            "n",
            F.col("sdc").alias("sx"),
            F.col("stc").alias("sy"),
            F.col("sdctc").alias("sxy"),
            F.col("sdcdc").alias("sxx"),
            F.col("stctc").alias("syy"),
        )
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy")
    den = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return s.select("pair", "n", fround(num / den, 6).alias("corr"))


# ---------------------------------------------------------------------------
# Clamped running balance (nonlinear fold inside codegen)
# ---------------------------------------------------------------------------

_BALANCE_ORACLE = """
WITH d AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
              WHEN event_type = 'error'
              THEN -CAST(floor(value * 100 + 0.5) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS delta
  FROM events
), seqs AS (
  SELECT user_id,
         list(struct_pack(ms := ms, eid := event_id, delta := delta)
              ORDER BY ms, event_id) AS s
  FROM d GROUP BY user_id
), folded AS (
  -- DuckDB list_reduce evaluates struct fields IN PLACE: a later
  -- field expression sees earlier fields already overwritten, so
  -- peak (which reads the OLD bal) must come FIRST and the fold must
  -- be branch-free (CASE branches amplified the hazard).
  SELECT user_id, list_reduce(
    [struct_pack(peak := CAST(0 AS BIGINT), bal := CAST(0 AS BIGINT))] ||
    list_transform(s, e -> struct_pack(peak := CAST(0 AS BIGINT),
                                       bal := e.delta)),
    (acc, e) -> struct_pack(
      peak := greatest(acc.peak, greatest(acc.bal + e.bal,
                                          CAST(0 AS BIGINT))),
      bal := greatest(acc.bal + e.bal, CAST(0 AS BIGINT)))
  ) AS r
  FROM seqs
)
SELECT user_id, CAST(r.bal AS BIGINT) AS final_cents,
       CAST(r.peak AS BIGINT) AS peak_cents
FROM folded
"""


@register("clamped_running_balance", _BALANCE_ORACLE)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-clamped running balance per user (purchases credit,
    errors debit, balance never below zero) plus the peak — the
    inventory / credit-limit fold that no window frame can express
    (the clamp makes it non-linear), run as F.aggregate over each
    user's time-sorted struct array so the fold executes INSIDE
    whole-stage codegen (no UDF), with the DuckDB twin replaying the
    identical list_reduce.  The clamp is expressed branch-free via
    greatest() with the peak field ordered FIRST — DuckDB 1.0's
    list_reduce updates struct fields in place, so any field reading
    a previously-assigned field silently folds with the NEW value
    (found by the hash gate; the crafted pytest pins it).  One
    user-keyed shuffle; per-user state is one struct."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        epoch_ms("ts").alias("ms"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .when(
            F.col("event_type") == "error",
            -F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("delta"),
    )
    seqs = d.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ms", F.col("event_id").alias("eid"), "delta"))
        ).alias("s")
    )

    def _pack(peak, bal):
        return F.struct(
            peak.cast("long").alias("peak"), bal.cast("long").alias("bal")
        )

    init = _pack(F.lit(0), F.lit(0))

    def fold(acc, e):
        nb = F.greatest(acc["bal"] + e["delta"], F.lit(0).cast("long"))
        return _pack(F.greatest(acc["peak"], nb), nb)

    r = seqs.select(
        "user_id", F.aggregate("s", init, fold).alias("r")
    )
    return r.select(
        "user_id",
        F.col("r.bal").cast("long").alias("final_cents"),
        F.col("r.peak").cast("long").alias("peak_cents"),
    )


# ---------------------------------------------------------------------------
# Column-masking governance view
# ---------------------------------------------------------------------------

_MASKED_ORACLE = """
SELECT c_custkey,
       'cust_' || substr(sha256('mask:' || c_name), 1, 8) AS masked_name,
       CAST(c_nationkey // 5 AS BIGINT) AS geo_bucket,
       CAST(floor(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100000.0)
            AS BIGINT) * 1000 AS acctbal_bucket,
       c_mktsegment
FROM customer
"""


@register("masked_customer_view", _MASKED_ORACLE)
def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking for the governance tier below row
    erasure (the GDPR cascade handles deletion; analysts still need
    a JOINABLE but de-identified dimension): names become salted
    sha256 tokens (stable -> still groupable), nation keys
    generalize to 5-nation geo buckets (the k-anonymity hierarchy
    step), balances coarsen to $1000 buckets via integer cents
    (floor through the shared rounding — no double formatting).
    Pure scan-side expressions; the masked view costs a projection."""
    cust = table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    return cust.select(
        "c_custkey",
        F.concat(
            F.lit("cust_"),
            F.substring(
                F.sha2(F.concat(F.lit("mask:"), F.col("c_name")), 256), 1, 8
            ),
        ).alias("masked_name"),
        F.floor(F.col("c_nationkey") / 5).cast("long").alias("geo_bucket"),
        (F.floor(cents / F.lit(100000.0)).cast("long") * 1000).alias(
            "acctbal_bucket"
        ),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Cold-start recommendation fallback (personal top part else segment's)
# ---------------------------------------------------------------------------

_RECO_ORACLE = """
WITH cust_part AS (
  SELECT c.c_custkey, c.c_mktsegment, l.l_partkey,
         CAST(count(*) AS BIGINT) AS n
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY c.c_custkey, c.c_mktsegment, l.l_partkey
), personal AS (
  SELECT c_custkey, l_partkey, n FROM (
    SELECT c_custkey, l_partkey, n,
           row_number() OVER (PARTITION BY c_custkey
                              ORDER BY n DESC, l_partkey) AS rn
    FROM cust_part
  ) WHERE rn = 1 AND n >= 2
), seg_pop AS (
  SELECT c_mktsegment, l_partkey FROM (
    SELECT c_mktsegment, l_partkey,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY sum(n) DESC, l_partkey) AS rn
    FROM cust_part GROUP BY c_mktsegment, l_partkey
  ) WHERE rn = 1
)
SELECT c.c_custkey,
       COALESCE(p.l_partkey, s.l_partkey) AS reco_part,
       CAST(CASE WHEN p.l_partkey IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS personalized
FROM customer c
JOIN seg_pop s ON s.c_mktsegment = c.c_mktsegment
LEFT JOIN personal p ON p.c_custkey = c.c_custkey
"""


@register("reco_fallback_parts", _RECO_ORACLE)
def reco_fallback_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start-safe recommendation: each customer gets their own
    most-purchased part when the signal is strong (>= 2 purchases of
    it), else the segment's most popular part — the
    personal-else-population COALESCE pattern every serving layer
    needs.  Segment winners are a 5-row broadcast; the personal
    ranking is a customer-keyed window over pre-aggregated counts.
    Total (count, part) tie-break both levels."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        cust.join(orders, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("c_custkey", "c_mktsegment", "l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    personal = (
        cp.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_custkey").orderBy(
                    F.col("n").desc(), "l_partkey"
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("n") >= 2))
        .select("c_custkey", F.col("l_partkey").alias("p_part"))
    )
    seg_pop = (
        cp.groupBy("c_mktsegment", "l_partkey")
        .agg(F.sum("n").alias("sn"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_mktsegment").orderBy(
                    F.col("sn").desc(), "l_partkey"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("l_partkey").alias("s_part"))
    )
    return (
        cust.join(F.broadcast(seg_pop), "c_mktsegment")
        .join(personal, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("p_part"), F.col("s_part")).alias("reco_part"),
            F.when(F.col("p_part").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("personalized"),
        )
    )


# ---------------------------------------------------------------------------
# Week-over-week revenue growth per segment
# ---------------------------------------------------------------------------

_WOW_ORACLE = f"""
WITH w AS (
  SELECT c.c_mktsegment AS seg,
         (epoch_ms(o.o_orderdate) // 86400000) // 7 AS wk,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY seg, wk
), g AS (
  SELECT seg, wk, rev_cents,
         lag(rev_cents) OVER (PARTITION BY seg ORDER BY wk) AS prev
  FROM w
)
SELECT seg, wk, rev_cents,
       {fround_sql('(CAST(rev_cents AS DOUBLE) - prev) / prev', 6)}
         AS wow_growth
FROM g
"""


@register("wow_revenue_growth", _WOW_ORACLE)
def wow_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per market segment: integer-cent
    weekly sums (exact under any aggregation order), then lag over
    each segment's week series — the previous EXISTING week, so
    calendar gaps compare against the last observed week on both
    engines identically.  First week per segment reports NULL
    growth.  One partial-agg shuffle; the lag runs on the
    calendar-bounded aggregate."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = (
        orders.join(
            F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.floor(epoch_ms("o_orderdate") / 86400000) / 7)
            .cast("long")
            .alias("wk"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("rev_cents")
        )
    )
    prev = F.lag("rev_cents").over(Window.partitionBy("seg").orderBy("wk"))
    return w.select(
        "seg",
        "wk",
        "rev_cents",
        fround(
            (F.col("rev_cents").cast("double") - prev) / prev, 6
        ).alias("wow_growth"),
    )


# ---------------------------------------------------------------------------
# Cent-exact proportional allocation (largest remainder per order)
# ---------------------------------------------------------------------------

_ALLOC_ORACLE = """
WITH l AS (
  SELECT l.l_orderkey, l.l_linenumber,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS w,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), t AS (
  SELECT l_orderkey, CAST(sum(w) AS BIGINT) AS bigw,
         min(total_cents) AS total_cents
  FROM l GROUP BY l_orderkey
), b AS (
  SELECT l.l_orderkey, l.l_linenumber,
         (t.total_cents * l.w) // t.bigw AS base,
         (t.total_cents * l.w) % t.bigw AS rem,
         t.total_cents
  FROM l JOIN t ON t.l_orderkey = l.l_orderkey
), lo AS (
  SELECT l_orderkey,
         CAST(min(total_cents) - sum(base) AS BIGINT) AS leftover
  FROM b GROUP BY l_orderkey
), a AS (
  SELECT b.l_orderkey, b.total_cents,
         b.base + CASE WHEN row_number() OVER (
             PARTITION BY b.l_orderkey
             ORDER BY b.rem DESC, b.l_linenumber) <= lo.leftover
           THEN 1 ELSE 0 END AS alloc
  FROM b JOIN lo ON lo.l_orderkey = b.l_orderkey
), chk AS (
  SELECT l_orderkey, min(total_cents) AS total_cents,
         CAST(sum(alloc) AS BIGINT) AS allocated,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM a GROUP BY l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN allocated = total_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact,
       CAST(sum(allocated) AS BIGINT) AS allocated_cents
FROM chk
"""


@register("cent_exact_allocation", _ALLOC_ORACLE)
def cent_exact_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial-grade proportional allocation: each order's total
    (in cents) is distributed across its lines proportional to
    extended price using the largest-remainder method — floor shares
    plus one extra cent to the biggest remainders — so every order's
    allocations sum EXACTLY to its total (n_exact == n_orders by
    construction; the query reports the invariant so the gate checks
    it).  All integer arithmetic; the only windows partition by
    order key over that order's own lines."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("total_cents"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("w"),
    )
    l = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey", "l_linenumber", "w", "total_cents"
    )
    t = l.groupBy("l_orderkey").agg(
        F.sum("w").cast("long").alias("bigw"),
        F.min("total_cents").alias("tc"),
    )
    b = l.join(t, "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("tc") * F.col("w")) % F.col("bigw")).alias("rem"),
        F.col("tc").alias("total_cents"),
        (F.col("tc") * F.col("w")).alias("prod"),
        F.col("bigw"),
    )
    # exact floor division via the modulus: (prod - rem) is an exact
    # multiple of bigw, and both operands stay under 2^53, so the
    # double division is exact
    b = b.select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("prod") - F.col("rem")) / F.col("bigw"))
        .cast("long")
        .alias("base"),
        "rem",
        "total_cents",
    )
    lo = b.groupBy("l_orderkey").agg(
        (F.min("total_cents") - F.sum("base")).cast("long").alias("leftover")
    )
    rn = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy(
            F.col("rem").desc(), "l_linenumber"
        )
    )
    a = (
        b.join(lo, "l_orderkey")
        .withColumn("rn", rn)
        .select(
            "l_orderkey",
            "total_cents",
            (
                F.col("base")
                + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc"),
        )
    )
    chk = a.groupBy("l_orderkey").agg(
        F.min("total_cents").alias("total_cents"),
        F.sum("alloc").cast("long").alias("allocated"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    return chk.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum(
            F.when(F.col("allocated") == F.col("total_cents"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_exact"),
        F.sum("allocated").cast("long").alias("allocated_cents"),
    )
