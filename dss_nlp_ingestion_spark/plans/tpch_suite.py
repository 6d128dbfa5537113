"""TPC-H shape suite (SQL-surface breadth beyond q1/q3/q5/q18).

Eighteen more canonical TPC-H query SHAPES — semi/anti joins,
correlated aggregates, scalar subqueries, case-sum pivots, ratio-of-
sums, distribution-of-counts, bracketed OR predicates — adapted to
the synthetic schema (no partsupp table, no ship/commit/receipt date
triple, so q4/q12's date-pair predicates are re-expressed on the
columns that exist; every query keeps its namesake's join/aggregation
topology). q2/q11/q16/q20/q21's partsupp leg is re-expressed over the
**lineitem-derived part-supplier association**: distinct
``(l_partkey, l_suppkey)`` pairs with ``MIN(l_extendedprice)`` as the
supply-cost surrogate (a pure MIN of a stored double — exact and
order-independent, so the correlated-minimum comparisons in q2 are
bit-identical cross-engine) and decimal-exact quantity/value sums as
the availqty/value surrogates for q11/q20.

Scale notes baked into each plan: region/nation are bounded (5/25
rows at ANY scale factor) and always broadcast; supplier/part/
customer scale with SF, so they shuffle-join (AQE may still decide to
broadcast at small SF — that's the right call at that size, and the
plan doesn't force it). Sums ride DECIMAL casts so partial-agg order
can't flip a bit (registry.py rule 1); every LIMIT has a full-key
deterministic order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import table
from dss_nlp_ingestion_spark.plans.registry import (
    TAGS,
    dsum,
    dsum_sql,
    fround,
    fround_sql,
    register,
)

# Q21 is the heaviest query in the standard TPC-H suite by design
# (lineitem joined to itself twice via the EXISTS / NOT EXISTS legs,
# even after the one-aggregate re-plan below): ~2 s at sf0.1 sits
# within sweep-contention noise of the 2 s audit threshold. Cost is
# the single lineitem shuffle on l_orderkey — partial-agg map-side
# combined, no pair blowup — so it scales with the fact table like
# every other shuffle-bound TPC-H row.
TAGS["q21_waiting_suppliers"] = (
    "TPC-H Q21 — the suite's heaviest query by design (EXISTS/NOT "
    "EXISTS legs collapsed into one per-order aggregate over "
    "lineitem); scales as a single map-combined shuffle on l_orderkey"
)

TAGS["q2_min_cost_supplier"] = (
    "TPC-H Q2 — correlated min-cost subquery: partsupp scanned twice "
    "(once for the per-part min, once re-joined at the minimum) plus "
    "the 4-way dim join; both partsupp legs are broadcast-dim joins + one "
    "map-combined shuffle on ps_partkey, so it scales like the other "
    "shuffle-bound TPC-H rows"
)

_REV_SQL = "l_extendedprice * (1 - l_discount)"


def _rev():
    # built lazily — Column construction needs an active SparkContext,
    # and this module imports at registry load time (no session yet).
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# q4: priority count over an EXISTS semi-join
# ---------------------------------------------------------------------------

_Q4 = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS becomes a LEFT SEMI join (one shuffle on
    l_orderkey, no row multiplication — the semi join short-circuits
    on first match, exactly what EXISTS means)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    l = table(spark, sf_dir, "lineitem")
    hit = o.join(
        l,
        (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


# ---------------------------------------------------------------------------
# q6: single-table predicate revenue (pushdown showcase)
# ---------------------------------------------------------------------------

_Q6 = f"""
SELECT {dsum_sql(f"l_extendedprice * l_discount", 6)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate reaches the parquet scan as a
    pushed filter; the aggregate is a map-side partial -> single
    exchange of one row per partition. The 100 TB plan IS this plan."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q7: volume shipping between two nations (double nation role join)
# ---------------------------------------------------------------------------

_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       {dsum_sql(_REV_SQL, 6)} AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
"""


@register("q7_volume_shipping", _Q7)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation plays two roles (supplier side and
    customer side) -> two broadcast copies with independent aliases;
    the OR'd nation-pair predicate prunes before the group-by."""
    n1 = F.broadcast(table(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(table(spark, sf_dir, "nation")).alias("n2")
    s = table(spark, sf_dir, "supplier").alias("s")
    l = table(spark, sf_dir, "lineitem").alias("l")
    o = table(spark, sf_dir, "orders").alias("o")
    c = table(spark, sf_dir, "customer").alias("c")
    j = (
        s.join(l, F.col("s.s_suppkey") == F.col("l.l_suppkey"))
        .join(o, F.col("o.o_orderkey") == F.col("l.l_orderkey"))
        .join(c, F.col("c.c_custkey") == F.col("o.o_custkey"))
        .join(n1, F.col("n1.n_nationkey") == F.col("s.s_nationkey"))
        .join(n2, F.col("n2.n_nationkey") == F.col("c.c_nationkey"))
        .filter(
            (
                (F.col("n1.n_name") == "NATION_1")
                & (F.col("n2.n_name") == "NATION_2")
            )
            | (
                (F.col("n1.n_name") == "NATION_2")
                & (F.col("n2.n_name") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        F.col("n1.n_name").alias("supp_nation"),
        F.col("n2.n_name").alias("cust_nation"),
        F.year("l.l_shipdate").cast("int").alias("l_year"),
    ).agg(dsum(_rev(), 6).alias("revenue"))


# ---------------------------------------------------------------------------
# q8: market share (ratio of conditional sum to total, per year)
# ---------------------------------------------------------------------------

_Q8 = f"""
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST({_REV_SQL} AS DECIMAL(18,6)) AS v,
         n1.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
)
SELECT o_year,
       {fround_sql("CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN v ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) / CAST(sum(v) AS DOUBLE)", 6)} AS mkt_share
FROM vol GROUP BY o_year
"""


@register("q8_market_share", _Q8)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 7-way star with nation in two roles; the
    market share is a ratio of two exact decimal sums (conditional /
    total) so the division is the only float op."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").alias("p")
    l = table(spark, sf_dir, "lineitem").alias("l")
    s = table(spark, sf_dir, "supplier").alias("s")
    o = table(spark, sf_dir, "orders").alias("o")
    c = table(spark, sf_dir, "customer").alias("c")
    n1 = F.broadcast(table(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(table(spark, sf_dir, "nation")).alias("n2")
    r = F.broadcast(
        table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ).alias("r")
    j = (
        p.join(l, F.col("p.p_partkey") == F.col("l.l_partkey"))
        .join(s, F.col("s.s_suppkey") == F.col("l.l_suppkey"))
        .join(o, F.col("o.o_orderkey") == F.col("l.l_orderkey"))
        .join(c, F.col("c.c_custkey") == F.col("o.o_custkey"))
        .join(n2, F.col("n2.n_nationkey") == F.col("c.c_nationkey"))
        .join(r, F.col("r.r_regionkey") == F.col("n2.n_regionkey"))
        .join(n1, F.col("n1.n_nationkey") == F.col("s.s_nationkey"))
    )
    v = _rev().cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    agg = j.groupBy(F.year("o.o_orderdate").cast("int").alias("o_year")).agg(
        F.sum(F.when(F.col("n1.n_name") == "NATION_7", v).otherwise(zero))
        .cast("double")
        .alias("_nat"),
        F.sum(v).cast("double").alias("_all"),
    )
    return agg.select(
        "o_year", fround(F.col("_nat") / F.col("_all"), 6).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q9: profit by (supplier nation, year)
# ---------------------------------------------------------------------------

_Q9 = f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       {dsum_sql(_REV_SQL, 6)} AS sum_profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_type = 'STANDARD'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@register("q9_profit_by_nation", _Q9)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp's supplycost leg): part filter
    prunes before the fact joins; profit aggregates per (nation,
    year) with exact decimal sums."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").alias("p")
    l = table(spark, sf_dir, "lineitem").alias("l")
    s = table(spark, sf_dir, "supplier").alias("s")
    o = table(spark, sf_dir, "orders").alias("o")
    n = F.broadcast(table(spark, sf_dir, "nation")).alias("n")
    j = (
        p.join(l, F.col("p.p_partkey") == F.col("l.l_partkey"))
        .join(s, F.col("s.s_suppkey") == F.col("l.l_suppkey"))
        .join(o, F.col("o.o_orderkey") == F.col("l.l_orderkey"))
        .join(n, F.col("n.n_nationkey") == F.col("s.s_nationkey"))
    )
    return j.groupBy(
        F.col("n.n_name").alias("nation"),
        F.year("o.o_orderdate").cast("int").alias("o_year"),
    ).agg(dsum(_rev(), 6).alias("sum_profit"))


# ---------------------------------------------------------------------------
# q10: returned-item top customers (top-k over a 4-way join)
# ---------------------------------------------------------------------------

_Q10 = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {dsum_sql(_REV_SQL, 6)} AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q10_returned_top_customers", _Q10)
def q10_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: date + returnflag predicates prune the facts
    before the joins; global top-20 with a full deterministic order
    (exact revenue desc, then custkey)."""
    c = table(spark, sf_dir, "customer").alias("c")
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1996-07-01"))
        )
        .alias("o")
    )
    l = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .alias("l")
    )
    n = F.broadcast(table(spark, sf_dir, "nation")).alias("n")
    j = (
        c.join(o, F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(l, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(n, F.col("n.n_nationkey") == F.col("c.c_nationkey"))
    )
    agg = j.groupBy("c.c_custkey", "c.c_name", "n.n_name").agg(
        dsum(_rev(), 6).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


# ---------------------------------------------------------------------------
# q12: case-sum pivot over a join (shipmode stand-in: linestatus)
# ---------------------------------------------------------------------------

_Q12 = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
"""


@register("q12_priority_line_counts", _Q12)
def q12_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: the classic case-sum pivot (conditional
    counts computed map-side inside the partial aggregate — one
    shuffle of 2-int rows per group, however many TB of lineitem)."""
    o = table(spark, sf_dir, "orders").alias("o")
    l = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .alias("l")
    )
    high = F.col("o.o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = o.join(l, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
    return j.groupBy("l.l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# q13: distribution of orders-per-customer (left join + double group)
# ---------------------------------------------------------------------------

_Q13 = """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


@register("q13_customer_distribution", _Q13)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join keeps zero-order customers
    (count(o_orderkey) ignores the null rows), then a second
    aggregation turns per-customer counts into a distribution —
    two shuffles total, second one on a tiny domain."""
    c = table(spark, sf_dir, "customer").alias("c")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .alias("o")
    )
    per_cust = (
        c.join(o, F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .groupBy("c.c_custkey")
        .agg(F.count("o.o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


# ---------------------------------------------------------------------------
# q14: promo revenue ratio (conditional / total over one month)
# ---------------------------------------------------------------------------

_Q14 = f"""
SELECT {fround_sql(f"100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN CAST({_REV_SQL} AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) / CAST(sum(CAST({_REV_SQL} AS DECIMAL(18,6))) AS DOUBLE)", 6)} AS promo_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
"""


@register("q14_promo_revenue", _Q14)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage = ratio of exact decimal sums; the
    one-month shipdate window prunes lineitem at the scan."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = table(spark, sf_dir, "part").alias("p")
    j = l.join(p, F.col("p.p_partkey") == F.col("l_partkey"))
    v = _rev().cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    agg = j.agg(
        F.sum(F.when(F.col("p.p_type") == "PROMO", v).otherwise(zero))
        .cast("double")
        .alias("_promo"),
        F.sum(v).cast("double").alias("_all"),
    )
    return agg.select(
        fround(F.lit(100.0) * F.col("_promo") / F.col("_all"), 6).alias(
            "promo_revenue"
        )
    )


# ---------------------------------------------------------------------------
# q15: top supplier(s) by quarterly revenue (agg vs its own max)
# ---------------------------------------------------------------------------

_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {dsum_sql(_REV_SQL, 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", _Q15)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue 'view' aggregates once and is
    compared against its own max — the 1-row max broadcast-joins back
    (no second scan of lineitem, no window over the whole table).
    Exact decimal revenue makes the equality well-defined."""
    rev = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_rev(), 6).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = table(spark, sf_dir, "supplier").alias("s")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(s, F.col("s.s_suppkey") == F.col("supplier_no"))
        .select("s.s_suppkey", "s.s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# q17: small-quantity parts vs their own average (correlated agg)
# ---------------------------------------------------------------------------

_Q17 = f"""
WITH pavg AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {fround_sql(f"{dsum_sql('l.l_extendedprice', 6)} / 7.0", 4)} AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pavg ON pavg.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#15' AND l.l_quantity < 0.5 * pavg.avg_qty
"""


@register("q17_small_quantity_revenue", _Q17)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated per-part average becomes a
    grouped aggregate joined back on partkey (one extra shuffle of
    |parts| rows instead of a per-row subquery); the average itself
    is exact-decimal-sum / count so the 0.5x threshold is identical
    cross-engine."""
    l = table(spark, sf_dir, "lineitem").alias("l")
    pavg = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_qty")
        )
        .alias("pavg")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#15")
        .alias("p")
    )
    j = (
        l.join(p, F.col("p.p_partkey") == F.col("l.l_partkey"))
        .join(pavg, F.col("pavg.l_partkey") == F.col("l.l_partkey"))
        .filter(F.col("l.l_quantity") < 0.5 * F.col("pavg.avg_qty"))
    )
    return j.agg(
        fround(dsum(F.col("l.l_extendedprice"), 6) / F.lit(7.0), 4).alias(
            "avg_yearly"
        )
    )


# ---------------------------------------------------------------------------
# q19: bracketed OR predicates across a join
# ---------------------------------------------------------------------------

_Q19 = f"""
SELECT {dsum_sql(_REV_SQL, 6)} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 20 AND 35)
"""


@register("q19_bracket_revenue", _Q19)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd predicate brackets spanning both
    join sides. Catalyst splits the parts of each bracket that
    reference only one table and pushes them below the join (CNF
    conversion) — the reason this classic is a planner test."""
    l = table(spark, sf_dir, "lineitem").alias("l")
    p = table(spark, sf_dir, "part").alias("p")
    j = l.join(p, F.col("p.p_partkey") == F.col("l.l_partkey"))

    def bracket(brand: str, smax: int, qlo: int, qhi: int):
        return (
            (F.col("p.p_brand") == brand)
            & F.col("p.p_size").between(1, smax)
            & F.col("l.l_quantity").between(qlo, qhi)
        )

    j = j.filter(
        bracket("Brand#11", 10, 1, 15)
        | bracket("Brand#15", 20, 10, 25)
        | bracket("Brand#22", 30, 20, 35)
    )
    return j.agg(dsum(_rev(), 6).alias("revenue"))


# ---------------------------------------------------------------------------
# q22: above-average idle customers (scalar subquery + anti join)
# ---------------------------------------------------------------------------

_Q22 = """
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_mktsegment
"""


@register("q22_idle_rich_customers", _Q22)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (cntrycode -> mktsegment): the scalar
    average is a 1-row aggregate cross-broadcast into the filter;
    NOT EXISTS is a LEFT ANTI join on custkey. Exact decimal sum /
    count makes the threshold bit-identical cross-engine."""
    c = table(spark, sf_dir, "customer").alias("c")
    avg_bal = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("a")
        )
    )
    o = table(spark, sf_dir, "orders").alias("o")
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c.c_acctbal") > F.col("a"))
    idle = rich.join(
        o, F.col("o.o_custkey") == F.col("c.c_custkey"), "left_anti"
    )
    return idle.groupBy(F.col("c.c_mktsegment").alias("segment")).agg(
        F.count("*").cast("long").alias("numcust"),
        F.sum(F.col("c.c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# q2: minimum-cost supplier per part within a region (correlated MIN)
# ---------------------------------------------------------------------------

_Q2 = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eur AS (
  SELECT ps.l_partkey AS pk, ps.supplycost, s.s_name, s.s_acctbal, n.n_name
  FROM ps
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
j AS (
  SELECT e.supplycost, e.s_name, e.s_acctbal, e.n_name,
         p.p_partkey, p.p_type,
         MIN(e.supplycost) OVER (PARTITION BY p.p_partkey) AS mincost
  FROM eur e JOIN part p ON e.pk = p.p_partkey
  WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type <> 'PROMO'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost
FROM j WHERE supplycost = mincost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", _Q2)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated ``= (SELECT MIN(...))`` becomes a
    MIN window over p_partkey — ONE shuffle on partkey instead of a
    second aggregate + self-join. The partsupp surrogate is the
    lineitem pair aggregate (module docstring); nation/region are
    bounded dims and broadcast; supplier scales with SF and rides the
    pair join. Comparing ``supplycost = mincost`` is exact: both are
    the same stored double selected by MIN, no arithmetic."""
    l = table(spark, sf_dir, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        ps.join(s, ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "supplycost", "s_name", "s_acctbal", "n_name")
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") != "PROMO")
    )
    j = eur.join(p, eur.l_partkey == p.p_partkey).select(
        "supplycost", "s_name", "s_acctbal", "n_name", "p_partkey", "p_type"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey")
    j = j.withColumn("mincost", F.min("supplycost").over(w))
    return (
        j.filter(F.col("supplycost") == F.col("mincost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "supplycost")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q11: important stock — group value vs a global-fraction threshold
# ---------------------------------------------------------------------------

_Q11 = """
WITH eur AS (
  SELECT l.l_partkey, l.l_extendedprice
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
tot AS (
  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS t
  FROM eur
)
SELECT l_partkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM eur, tot
GROUP BY l_partkey, tot.t
HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > tot.t * 0.005
ORDER BY part_value DESC, l_partkey
"""


@register("q11_important_stock", _Q11)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery. The global
    total is a 1-row aggregate cross-broadcast into the HAVING filter
    (no second scan shuffle); per-part and total sums are decimal-
    exact then cast to double, so ``> t * 0.005`` is the same IEEE
    comparison in both engines. At 100 TB both aggregates are
    map-side partials over one scan lineage."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "l_extendedprice")
    )
    tot = eur.agg(dsum(F.col("l_extendedprice")).alias("t"))
    per_part = eur.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("part_value")
    )
    return (
        per_part.join(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("t") * 0.005)
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), F.col("l_partkey"))
    )


# ---------------------------------------------------------------------------
# q16: supplier count per part attribute with a NOT-IN exclusion
# ---------------------------------------------------------------------------

_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("q16_supplier_part_counts", _Q16)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN over a key subquery becomes a LEFT ANTI
    join (s_suppkey is non-null, so NOT IN == anti-join semantics);
    the count is COUNT(DISTINCT) after the association distinct. The
    complaints-comment exclusion is surrogated by an s_name pattern
    (schema has no comment column). Part filter prunes at the scan;
    the excluded-supplier set is tiny and broadcast-anti-joined."""
    l = table(spark, sf_dir, "lineitem")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    excluded = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    j = ps.join(
        F.broadcast(excluded),
        ps.l_suppkey == excluded.s_suppkey,
        "left_anti",
    ).join(p, ps.l_partkey == p.p_partkey)
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
    )


# ---------------------------------------------------------------------------
# q20: suppliers with excess shipped quantity of a part family (nested IN)
# ---------------------------------------------------------------------------

_Q20 = """
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'cold%'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 45.0)
ORDER BY s.s_name
"""


@register("q20_excess_quantity_suppliers", _Q20)
def q20_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested IN (parts of a name family whose
    per-(supplier, part) shipped quantity exceeds the availqty
    threshold) becomes aggregate -> HAVING -> LEFT SEMI join on
    suppkey. Part-name filter prunes before the pair aggregate;
    date range reaches the lineitem scan; decimal-exact quantity sum
    keeps the threshold bit-identical cross-engine."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("cold%"))
    qualifying = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 45.0)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS on lineitem)
# ---------------------------------------------------------------------------

_Q21 = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS nsupp,
         count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS nlate
  FROM lo GROUP BY l_orderkey
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lo
JOIN per_order po ON lo.l_orderkey = po.l_orderkey
JOIN supplier s ON lo.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND lo.is_late = 1 AND po.nsupp >= 2 AND po.nlate = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@register("q21_waiting_suppliers", _Q21)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape re-planned without correlated subqueries: the
    EXISTS (another supplier in the order) and NOT EXISTS (no OTHER
    late supplier) legs collapse into ONE per-order aggregate —
    nsupp >= 2 encodes EXISTS, nlate = 1 together with this row being
    late encodes NOT EXISTS (the row's supplier IS the unique late
    one). That turns the classic double self-join into a single
    orderkey aggregate re-joined on the same key (co-partitioned
    exchange reuse), which is the 100 TB-sane plan: lineitem is
    touched twice on one key, never N times. 'Late' is a pure
    timestamp comparison (no float math). The commit/receipt-date
    pair is surrogated by shipdate vs orderdate + 75 days (schema has
    one date per line)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lo = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")
            )
            .cast("int")
            .alias("is_late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("nlate"),
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    waits = (
        lo.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("nsupp") >= 2) & (F.col("nlate") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        waits.groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )
