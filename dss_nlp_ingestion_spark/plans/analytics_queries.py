"""Analytics surface: full window-function suite, exact grouped
statistics (variance/stddev/median without float-order hazards), and
int8 embedding quantization (the storage-compression step of an
embedding pipeline).

Determinism notes (registry.py rules): every window has a total
order (unique key tie-break); variance comes from exact decimal
Σx/Σx² so only the final division/sqrt are float; the disc-median is
row_number-based (no interpolation arithmetic — Spark and DuckDB
disagree on quantile_cont's float expression, so we don't use it);
quantization codes are integers from an identical IEEE expression
tree on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.catalog import table
from dss_nlp_ingestion_spark.plans.registry import fround, fround_sql, register

# ---------------------------------------------------------------------------
# W-suite: lag/lead/ntile/percent_rank/cume_dist/first_value in one pass
# ---------------------------------------------------------------------------

_WINDOW_SUITE = """
WITH w AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         lag(o_totalprice) OVER win AS prev_price,
         lead(o_totalprice) OVER win AS next_price,
         ntile(4) OVER win AS quartile,
         percent_rank() OVER win AS pct_rank,
         cume_dist() OVER win AS cume,
         first_value(o_orderkey) OVER win AS first_key,
         row_number() OVER win AS rn
  FROM orders
  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
)
SELECT o_orderkey, o_orderpriority, o_totalprice, prev_price, next_price,
       CAST(quartile AS INT) AS quartile,
       {pct} AS pct_rank, {cume} AS cume,
       first_key, CAST(rn AS BIGINT) AS rn
FROM w WHERE o_orderkey % 5 = 0
""".format(pct=fround_sql("pct_rank", 6), cume=fround_sql("cume", 6))


@register("window_function_suite", _WINDOW_SUITE)
def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/navigation window family in ONE window spec (one
    sort, one shuffle on the partition key — Spark reuses the
    ordering for all eight functions; a per-function window would
    re-sort). Total order via (o_orderdate, o_orderkey) so every
    offset function is deterministic."""
    o = table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    out = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lag("o_totalprice").over(win).alias("prev_price"),
        F.lead("o_totalprice").over(win).alias("next_price"),
        F.ntile(4).over(win).cast("int").alias("quartile"),
        fround(F.percent_rank().over(win), 6).alias("pct_rank"),
        fround(F.cume_dist().over(win), 6).alias("cume"),
        F.first("o_orderkey").over(win).alias("first_key"),
        F.row_number().over(win).cast("long").alias("rn"),
    )
    return out.filter(F.col("o_orderkey") % 5 == 0)


# ---------------------------------------------------------------------------
# Exact grouped statistics: mean/var/stddev from decimal power sums
# ---------------------------------------------------------------------------

_GROUP_STATS = f"""
WITH s AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s1,
         sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS s2
  FROM customer GROUP BY c_mktsegment
), med AS (
  SELECT c_mktsegment, c_acctbal AS median_bal FROM (
    SELECT c_mktsegment, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS rn,
           count(*) OVER (PARTITION BY c_mktsegment) AS cnt
    FROM customer
  ) WHERE rn = (cnt + 1) // 2
)
SELECT s.c_mktsegment, s.n,
       {fround_sql('CAST(s.s1 AS DOUBLE) / s.n', 4)} AS mean_bal,
       {fround_sql('sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n) / (s.n - 1))', 4)} AS stddev_bal,
       med.median_bal
FROM s JOIN med ON med.c_mktsegment = s.c_mktsegment
"""


@register("grouped_stats_exact", _GROUP_STATS)
def grouped_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean/stddev/median WITHOUT float-order hazards: the
    power sums Σx and Σx² aggregate as exact decimals (partial-agg
    order can't change a bit), variance derives in one fixed float
    expression, and the median is the DISC definition via
    row_number (engines disagree on quantile_cont's interpolation
    arithmetic, so interpolation is off the table). At scale: one
    shuffle for the sums, one sort for the median — both on the
    group key."""
    c = table(spark, sf_dir, "customer")
    d = F.col("c_acctbal").cast("decimal(18,2)")
    s = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
    )
    win = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    cw = Window.partitionBy("c_mktsegment")
    med = (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(win).alias("rn"),
            F.count("*").over(cw).alias("cnt"),
        )
        .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .select("c_mktsegment", F.col("c_acctbal").alias("median_bal"))
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    out = s.join(med, "c_mktsegment").select(
        "c_mktsegment",
        "n",
        fround(s1d / F.col("n"), 4).alias("mean_bal"),
        fround(
            F.sqrt((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)), 4
        ).alias("stddev_bal"),
        "median_bal",
    )
    return out


# ---------------------------------------------------------------------------
# Embedding int8 scalar quantization (storage compression step)
# ---------------------------------------------------------------------------

_QUANT = f"""
WITH base AS (
  SELECT vec_id,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx,
         embedding
  FROM embeddings
), coded AS (
  SELECT vec_id, mn, mx,
         list_transform(embedding, x ->
           CAST(CASE WHEN mx = mn THEN 0 ELSE
             least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)))
           END AS BIGINT)) AS codes,
         list_transform(embedding, x ->
           CAST(CASE WHEN mx = mn THEN CAST(0 AS DOUBLE) ELSE
             (CAST(x AS DOUBLE) - (mn + least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) * (mx - mn) / 255.0))
             * (CAST(x AS DOUBLE) - (mn + least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))) * (mx - mn) / 255.0))
           END AS DECIMAL(30,25))) AS errs
  FROM base
)
SELECT vec_id,
       {fround_sql('mn', 6)} AS qmin,
       {fround_sql('mx', 6)} AS qmax,
       list_aggregate(list_transform(codes, c -> CAST(c AS VARCHAR)), 'string_agg', ',') AS codes,
       {fround_sql('CAST(list_sum(errs) AS DOUBLE)', 10)} AS recon_err
FROM coded
"""


@register("embedding_int8_quantization", _QUANT)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the 4x storage
    compression every 100 TB embedding corpus applies before ANN
    serving: code_i = round255((x_i - min) / (max - min)), plus the
    reconstruction squared error. All array math is higher-order
    transforms (JVM codegen, no Python, no explode-shuffle); the
    code expression is the identical IEEE tree on both engines so
    the integer codes hash-match exactly, and the error terms ride
    DECIMAL so the 64-term sum is order-independent."""
    e = table(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    base = e.select("vec_id", mn.alias("mn"), mx.alias("mx"), "embedding")

    def code(x):
        raw = F.floor(
            (x.cast("double") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))
            + 0.5
        ).cast("long")
        bounded = F.least(F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), raw))
        return F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long")).otherwise(
            bounded
        )

    def err(x):
        recon = F.col("mn") + code(x) * (F.col("mx") - F.col("mn")) / 255.0
        diff = x.cast("double") - recon
        return F.when(
            F.col("mx") == F.col("mn"), F.lit(0).cast("double")
        ).otherwise(diff * diff).cast("decimal(30,25)")

    coded = base.select(
        "vec_id",
        "mn",
        "mx",
        F.transform("embedding", code).alias("codes"),
        F.transform("embedding", err).alias("errs"),
    )
    return coded.select(
        "vec_id",
        fround(F.col("mn"), 6).alias("qmin"),
        fround(F.col("mx"), 6).alias("qmax"),
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        fround(
            F.aggregate(
                "errs",
                F.lit(0).cast("decimal(30,25)"),
                # decimal + widens to (31,25); cast back so the fold
                # type-checks — headroom is ample (terms < 4, 64 of them)
                lambda acc, x: (acc + x).cast("decimal(30,25)"),
            ).cast("double"),
            10,
        ).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog under the oracle gate (operators/sketches.py)
# ---------------------------------------------------------------------------

def _hll_oracle(key_sql: str, src: str) -> str:
    """DuckDB twin of operators/sketches.py:hll_estimate — the same
    sha256 nibble arithmetic, register fold, exact-decimal harmonic
    sum and correction constants, generated from one place so the
    two engines can't drift."""
    m, p_hex, rho_nibbles = 256, 2, 6
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    nv = lambda i: f"(strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1)"
    # first nonzero nibble of the rho window (positions p_hex+1 ..)
    first_nz = "0"
    for i in range(rho_nibbles, 0, -1):
        first_nz = f"CASE WHEN {nv(p_hex + i)} > 0 THEN {i} ELSE {first_nz} END"
    nib_at = f"(strpos('0123456789abcdef', substr(hx, {p_hex} + first_nz, 1)) - 1)"
    in_lz = (
        f"CASE WHEN {nib_at} >= 8 THEN 0 WHEN {nib_at} >= 4 THEN 1 "
        f"WHEN {nib_at} >= 2 THEN 2 ELSE 3 END"
    )
    bucket = " + ".join(
        f"{nv(i + 1)} * {16 ** (p_hex - 1 - i)}" for i in range(p_hex)
    )
    return f"""
WITH h AS (
  SELECT sha256(CAST({key_sql} AS VARCHAR)) AS hx FROM {src}
), fz AS (
  SELECT hx, {bucket} AS bucket, ({first_nz}) AS first_nz FROM h
), br AS (
  SELECT bucket,
         CASE WHEN first_nz = 0 THEN {4 * rho_nibbles + 1}
              ELSE (first_nz - 1) * 4 + {in_lz} + 1 END AS rho
  FROM fz
), regs AS (
  SELECT bucket, max(rho) AS m_reg FROM br GROUP BY bucket
), agg AS (
  SELECT sum(CAST(1.0 / (CAST(1 AS BIGINT) << m_reg) AS DECIMAL(38,28))) AS s,
         CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zp
  FROM regs
), est AS (
  SELECT {alpha_m2!r} / (CAST(s AS DOUBLE) + ({m} - present)) AS raw,
         ({m} - present + zp) AS n_zero
  FROM agg
)
SELECT {fround_sql(f'CASE WHEN raw <= {2.5 * m!r} AND n_zero > 0 THEN {float(m)!r} * ln({float(m)!r} / n_zero) ELSE raw END', 4)} AS hll_estimate,
       CAST(n_zero AS BIGINT) AS n_zero_registers,
       (SELECT CAST(count(DISTINCT {key_sql}) AS BIGINT) FROM {src}) AS exact_distinct
FROM est
"""


@register("hll_distinct_custkeys", _hll_oracle("o_custkey", "orders"))
def hll_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed cardinality sketch UNDER THE HASH GATE: the
    built-in approx_count_distinct can never cross-check against
    DuckDB (different sketches), so this HLL derives its registers
    from sha256 nibbles both engines compute identically
    (operators/sketches.py). One shuffle of <= 256 rows regardless
    of input size — at 100 TB that's the difference between a sketch
    and the exact count's O(distinct) exchange. The exact distinct
    rides along to show the estimate lands (~2% typical error at
    m=256)."""
    from dss_nlp_ingestion_spark.operators.sketches import hll_estimate

    o = table(spark, sf_dir, "orders")
    est = hll_estimate(o, F.col("o_custkey"))
    exact = o.agg(
        F.count_distinct(F.col("o_custkey")).cast("long").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        fround(F.col("hll_raw"), 4).alias("hll_estimate"),
        "n_zero_registers",
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# Count-min sketch under the oracle gate (all-integer -> bit-exact)
# ---------------------------------------------------------------------------

def _cms_oracle() -> str:
    cell = lambda r, k: (
        f"((strpos('0123456789abcdef', substr(sha256(CAST({r} AS VARCHAR) || ':' || CAST({k} AS VARCHAR)), 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(sha256(CAST({r} AS VARCHAR) || ':' || CAST({k} AS VARCHAR)), 2, 1)) - 1)) % 256"
    )
    return f"""
WITH items AS (
  SELECT user_id AS k, unnest(generate_series(0, 3)) AS r FROM events
), cells AS (
  SELECT r, {cell('r', 'k')} AS c FROM items
), sketch AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY r, c
), keys AS (
  SELECT DISTINCT user_id FROM events WHERE user_id < 20
), probes AS (
  SELECT user_id, g.r, {cell('g.r', 'user_id')} AS c
  FROM keys, (SELECT unnest(generate_series(0, 3)) AS r) g
), est AS (
  SELECT user_id, min(coalesce(n, 0)) AS cms_estimate
  FROM probes LEFT JOIN sketch USING (r, c) GROUP BY user_id
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events WHERE user_id < 20 GROUP BY user_id
)
SELECT est.user_id, CAST(est.cms_estimate AS BIGINT) AS cms_estimate, exact.exact_n
FROM est JOIN exact USING (user_id)
"""


@register("cms_user_frequencies", _cms_oracle())
def cms_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketches.py): frequency estimates
    for the probed user keys from a DEPTH x WIDTH = 4x256 counter
    table. The build shuffle carries <= 1024 rows at ANY input size
    (map-side partials do the heavy counting), the probe join
    broadcasts the sketch, and everything is integer arithmetic off
    sha256 — bit-exact cross-engine, estimates >= exact by
    construction (collisions only add). The exact counts ride along
    to expose the overestimate."""
    from dss_nlp_ingestion_spark.operators.sketches import (
        cms_build,
        cms_point_query,
    )

    ev = table(spark, sf_dir, "events")
    sketch = cms_build(ev, F.col("user_id"))
    keys = ev.filter(F.col("user_id") < 20).select("user_id").distinct()
    est = cms_point_query(sketch, keys, "user_id")
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    return est.join(exact, "user_id")


# ---------------------------------------------------------------------------
# GROUPING SETS + pivot (SQL-surface breadth beyond ROLLUP/CUBE/UNPIVOT)
# ---------------------------------------------------------------------------

# Identical SQL text runs on spark.sql and DuckDB (the sql_surface
# pattern): the oracle string IS the Spark query.
_GROUPING_SETS = """
SELECT c_mktsegment, n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(grouping(c_mktsegment) AS INT) AS g_seg,
       CAST(grouping(n_name) AS INT) AS g_nat
FROM customer JOIN nation ON n_nationkey = c_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
"""


@register("grouping_sets_customers", _GROUPING_SETS)
def grouping_sets_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (the general form ROLLUP/CUBE sugar over):
    three aggregation grains in ONE scan + ONE expand+shuffle
    (Catalyst's Expand emits a row per grouping set before the
    partial agg — cheaper than 3 scans at any scale), with
    grouping() flags disambiguating real NULLs from subtotal rows.
    Same SQL text on both engines."""
    from dss_nlp_ingestion_spark.catalog import load_all

    load_all(spark, sf_dir)
    return spark.sql(_GROUPING_SETS)


_PIVOT_ORACLE = """
SELECT n_name,
       CAST(count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS automobile,
       CAST(count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS building,
       CAST(count(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS BIGINT) AS furniture,
       CAST(count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS BIGINT) AS household,
       CAST(count(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS BIGINT) AS machinery
FROM customer JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
"""


@register("pivot_segment_counts", _PIVOT_ORACLE)
def pivot_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame pivot with an EXPLICIT value list — the at-scale
    discipline: without it Spark runs a blocking distinct scan to
    discover pivot columns before planning. With the list, the pivot
    lowers to the same one-pass conditional aggregation the oracle
    spells as FILTER clauses."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    out = j.groupBy("n_name").pivot("c_mktsegment", segs).count()
    cols = [F.col("n_name")] + [
        F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s.lower()) for s in segs
    ]
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Data-quality constraint suite (Deequ-style checks as one pass)
# ---------------------------------------------------------------------------

_DQ_ORACLE = f"""
WITH o AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_custkey) AS BIGINT) AS nn_cust,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS uniq_key,
         CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS bad_price,
         CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT) AS bad_status
  FROM orders
), ri AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM orders LEFT JOIN customer ON c_custkey = o_custkey
  WHERE c_custkey IS NULL
)
SELECT c.constraint, c.metric, c.passed FROM (
  SELECT 'completeness(o_custkey)' AS constraint,
         {fround_sql('CAST(nn_cust AS DOUBLE) / n', 6)} AS metric,
         nn_cust = n AS passed FROM o
  UNION ALL
  SELECT 'uniqueness(o_orderkey)',
         {fround_sql('CAST(uniq_key AS DOUBLE) / n', 6)},
         uniq_key = n FROM o
  UNION ALL
  SELECT 'range(o_totalprice > 0)',
         {fround_sql('1.0 - CAST(bad_price AS DOUBLE) / n', 6)},
         bad_price = 0 FROM o
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)',
         {fround_sql('1.0 - CAST(bad_status AS DOUBLE) / n', 6)},
         bad_status = 0 FROM o
  UNION ALL
  SELECT 'referential(o_custkey -> customer)',
         {fround_sql('1.0 - CAST(ri.orphans AS DOUBLE) / o.n', 6)},
         ri.orphans = 0 FROM o, ri
) c
"""


@register("data_quality_report", _DQ_ORACLE)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint verification as ONE pass per table:
    completeness, key uniqueness, range, accepted values, and
    referential integrity (anti-join orphan count) — the pre-training
    data-contract gate a 100 TB pipeline runs before anything else.
    All metrics are single-agg counts (map-side partials; the RI
    check is the only join), emitted as (constraint, metric, passed)
    rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    agg = o.agg(
        F.count("*").cast("long").alias("n"),
        F.count("o_custkey").cast("long").alias("nn_cust"),
        F.count_distinct("o_orderkey").cast("long").alias("uniq_key"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("bad_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
    )
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("long").alias("orphans"))
    )
    base = agg.crossJoin(orphans)
    n = F.col("n").cast("double")

    def row(name, metric, passed):
        return base.select(
            F.lit(name).alias("constraint"),
            fround(metric, 6).alias("metric"),
            passed.alias("passed"),
        )

    return (
        row(
            "completeness(o_custkey)",
            F.col("nn_cust") / n,
            F.col("nn_cust") == F.col("n"),
        )
        .unionAll(
            row(
                "uniqueness(o_orderkey)",
                F.col("uniq_key") / n,
                F.col("uniq_key") == F.col("n"),
            )
        )
        .unionAll(
            row(
                "range(o_totalprice > 0)",
                F.lit(1.0) - F.col("bad_price") / n,
                F.col("bad_price") == 0,
            )
        )
        .unionAll(
            row(
                "accepted_values(o_orderstatus)",
                F.lit(1.0) - F.col("bad_status") / n,
                F.col("bad_status") == 0,
            )
        )
        .unionAll(
            row(
                "referential(o_custkey -> customer)",
                F.lit(1.0) - F.col("orphans") / n,
                F.col("orphans") == 0,
            )
        )
    )


# ---------------------------------------------------------------------------
# Histogram quantiles (fixed equi-width binning — the no-sort path)
# ---------------------------------------------------------------------------

_HIST_Q_ORACLE = f"""
WITH stats AS (
  SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
         CAST(max(o_totalprice) AS DOUBLE) AS mx,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
), binned AS (
  SELECT least(19, CAST(floor((o_totalprice - mn) * 20.0 / (mx - mn)) AS BIGINT)) AS bin
  FROM orders, stats
), counts AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY bin
), cum AS (
  SELECT bin, sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_n FROM counts
), qs AS (
  SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) t(q)
), hit AS (
  SELECT q, min(bin) AS bin
  FROM qs JOIN cum ON cum_n >= CAST(ceil(q * (SELECT n FROM stats)) AS BIGINT)
  GROUP BY q
)
SELECT hit.q, CAST(hit.bin AS BIGINT) AS bin,
       {fround_sql('stats.mn + hit.bin * (stats.mx - stats.mn) / 20.0', 4)} AS bin_lo,
       {fround_sql('stats.mn + (hit.bin + 1) * (stats.mx - stats.mn) / 20.0', 4)} AS bin_hi
FROM hit, stats
"""


@register("histogram_quantiles", _HIST_Q_ORACLE)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles WITHOUT a global sort: one pass builds a 20-bin
    equi-width histogram (shuffle carries 20 rows), the quantile is
    the first bin whose cumulative count crosses ceil(q*n). At 100 TB
    an exact percentile means a full sort or a fat t-digest; the
    fixed-bin histogram trades resolution (one bin width) for a plan
    that's two tiny aggregates — and unlike percentile_approx, every
    intermediate here is deterministic, so it hash-matches
    cross-engine."""
    o = table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").cast("double").alias("mn"),
        F.max("o_totalprice").cast("double").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    binned = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(19).cast("long"),
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                * 20.0
                / (F.col("mx") - F.col("mn"))
            ).cast("long"),
        ).alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = counts.select(
        "bin",
        F.sum("c")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_n"),
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    hit = (
        qs.crossJoin(F.broadcast(stats))
        .join(
            cum,
            F.col("cum_n") >= F.ceil(F.col("q") * F.col("n")).cast("long"),
        )
        .groupBy("q")
        .agg(F.min("bin").cast("long").alias("bin"))
    )
    width = (F.col("mx") - F.col("mn")) / 20.0
    return hit.crossJoin(F.broadcast(stats)).select(
        "q",
        "bin",
        fround(F.col("mn") + F.col("bin") * width, 4).alias("bin_lo"),
        fround(F.col("mn") + (F.col("bin") + 1) * width, 4).alias("bin_hi"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill / resample (hourly, zero-fill + forward fill)
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hr_ms,
         event_type, epoch_ms(ts) AS ms, event_id
  FROM events WHERE user_id < 50
), agg AS (
  SELECT user_id, hr_ms, CAST(count(*) AS BIGINT) AS n_events
  FROM ev GROUP BY user_id, hr_ms
), last_in_hour AS (
  SELECT user_id, hr_ms, event_type AS last_type FROM (
    SELECT user_id, hr_ms, event_type,
           row_number() OVER (PARTITION BY user_id, hr_ms
                              ORDER BY ms DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
), bounds AS (
  SELECT user_id, min(hr_ms) AS lo, max(hr_ms) AS hi FROM agg GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, 3600000)) AS hr_ms FROM bounds
)
SELECT g.user_id, g.hr_ms,
       CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
       last_value(l.last_type IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.hr_ms
               ROWS UNBOUNDED PRECEDING) AS last_type
FROM grid g
LEFT JOIN agg a ON a.user_id = g.user_id AND a.hr_ms = g.hr_ms
LEFT JOIN last_in_hour l ON l.user_id = g.user_id AND l.hr_ms = g.hr_ms
"""


@register("resample_fill_gaps", _RESAMPLE_ORACLE)
def resample_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user hourly resample over the
    user's own [first, last] hour — empty hours zero-filled, the
    last-seen event type forward-filled across them. The dense grid
    comes from sequence+explode per user (bounded by that user's
    span, never a global calendar cross join), the carry-forward is
    last(ignorenulls) over an ordered window — one sort per user
    partition. The standard prep step before windowed feature
    extraction on irregular event data."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms as _ems

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_type",
            "event_id",
            _ems(F.col("ts")).alias("ms"),
        )
        .withColumn("hr_ms", F.col("ms") - F.col("ms") % 3600000)
    )
    agg = ev.groupBy("user_id", "hr_ms").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    rn_win = Window.partitionBy("user_id", "hr_ms").orderBy(
        F.col("ms").desc(), F.col("event_id").desc()
    )
    last_in_hour = (
        ev.withColumn("rn", F.row_number().over(rn_win))
        .filter(F.col("rn") == 1)
        .select("user_id", "hr_ms", F.col("event_type").alias("last_type"))
    )
    grid = (
        agg.groupBy("user_id")
        .agg(F.min("hr_ms").alias("lo"), F.max("hr_ms").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(3600000))
            ).alias("hr_ms"),
        )
    )
    fill_win = (
        Window.partitionBy("user_id")
        .orderBy("hr_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(agg, ["user_id", "hr_ms"], "left")
        .join(last_in_hour, ["user_id", "hr_ms"], "left")
        .select(
            "user_id",
            "hr_ms",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            F.last("last_type", ignorenulls=True).over(fill_win).alias("last_type"),
        )
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table stats (CBO inputs: per-column profile in one job)
# ---------------------------------------------------------------------------

_ANALYZE_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority"]


def _analyze_oracle() -> str:
    parts = []
    for c in _ANALYZE_COLS:
        hll = _hll_oracle(c, "orders").strip().rstrip()
        parts.append(
            f"SELECT '{c}' AS column_name, CAST((SELECT count(*) FROM orders) AS BIGINT) AS n,\n"
            f"       CAST((SELECT count(*) - count({c}) FROM orders) AS BIGINT) AS n_nulls,\n"
            f"       h.hll_estimate AS ndv_estimate, h.exact_distinct AS ndv_exact\n"
            f"FROM ({hll}) h"
        )
    return "\nUNION ALL\n".join(parts)


@register("analyze_table_stats", _analyze_oracle())
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE: the per-column profile a cost-based optimizer
    feeds on — row count, null count, and distinct-count both exact
    and via the deterministic HLL sketch (what you'd actually run at
    100 TB: the sketch's register fold shuffles <= 256 rows per
    column where the exact NDV shuffles every distinct value). One
    row per profiled column."""
    from dss_nlp_ingestion_spark.operators.sketches import hll_estimate

    o = table(spark, sf_dir, "orders")
    outs = []
    for c in _ANALYZE_COLS:
        est = hll_estimate(o, F.col(c))
        counts = o.agg(
            F.count("*").cast("long").alias("n"),
            (F.count("*") - F.count(c)).cast("long").alias("n_nulls"),
            F.count_distinct(F.col(c)).cast("long").alias("ndv_exact"),
        )
        outs.append(
            est.crossJoin(counts).select(
                F.lit(c).alias("column_name"),
                "n",
                "n_nulls",
                fround(F.col("hll_raw"), 4).alias("ndv_estimate"),
                "ndv_exact",
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph (iterative graph ranking)
# ---------------------------------------------------------------------------

def _pr_iter_sql(prev: str, i: str, cur: str) -> str:
    """One integer-PageRank superstep as SQL (DOUBLE-cast damping so
    DuckDB's decimal literal arithmetic can't diverge from Spark's
    IEEE product — see operators/graph.py:pagerank)."""
    return f"""
{i} AS (
  SELECT e.dst, sum(CAST(floor(r.rank * e.w / e.wout) AS BIGINT)) AS insum
  FROM ew e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
),
{cur} AS (
  SELECT n.node,
         CAST(150000000 + floor(CAST(0.85 AS DOUBLE) * coalesce(i.insum, 0))
              AS BIGINT) AS rank
  FROM nodes n LEFT JOIN {i} i ON n.node = i.dst
)"""


_PAGERANK_ORACLE = f"""
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, o.wout FROM edges e JOIN outw o ON e.src = o.src),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
{_pr_iter_sql("r0", "i1", "r1")},
{_pr_iter_sql("r1", "i2", "r2")},
{_pr_iter_sql("r2", "i3", "r3")}
SELECT nn.n_name, r.rank
FROM r3 r JOIN nation nn ON r.node = nn.n_nationkey
ORDER BY rank DESC, n_name
"""


@register("pagerank_nation_trade", _PAGERANK_ORACLE)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 unrolled supersteps) over the customer-
    nation -> supplier-nation trade graph: which nations absorb the
    most order flow, transitively. Exercises the iterative join+agg
    graph pattern (operators/graph.py:pagerank) with an EXACT oracle:
    integer mass units make each superstep bit-identical, so a full
    fixed-point algorithm is hash-checkable cross-engine — the same
    trick that would verify rank computations feeding a crawl-
    frontier or dedup-authority pipeline at 100 TB."""
    from dss_nlp_ingestion_spark.operators.graph import pagerank

    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    ranks = pagerank(edges, "src", "dst", weight_col="w", iterations=3)
    n = table(spark, sf_dir, "nation")
    return (
        ranks.join(F.broadcast(n), ranks.node == n.n_nationkey)
        .select("n_name", "rank")
        .orderBy(F.col("rank").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Recursive-CTE shape: transitive ancestor closure (decimal-tree walk)
# ---------------------------------------------------------------------------

_CLOSURE_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey // 10 AS anc, 1 AS depth
  FROM customer WHERE c_custkey > 0
  UNION ALL
  SELECT node, anc // 10, depth + 1 FROM anc WHERE anc > 0
)
SELECT node, anc, CAST(depth AS INT) AS depth FROM anc
"""


@register("ancestor_closure_customers", _CLOSURE_ORACLE)
def ancestor_closure_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE re-expressed as the engine's iterative-frontier
    pattern: Spark has no recursive CTE, so the ancestor closure over
    the decimal tree (parent(k) = k div 10) is an expand-until-empty
    driver loop on the connected-components round driver
    (operators/graph.py ``converge``) — each round derives the next
    frontier from the localCheckpoint'd previous one (bounded lineage;
    the round's row count is observed on its checkpoint job, never row
    data on the driver). Depth is log10(max key), so the loop is ~6
    rounds at ANY scale factor. The oracle runs DuckDB's native WITH
    RECURSIVE; the hash match proves the loop computes exactly the
    fixpoint the SQL standard defines."""
    from dss_nlp_ingestion_spark.operators.graph import converge

    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") > 0)
    first = cust.select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey div 10").alias("anc"),
        F.lit(1).cast("int").alias("depth"),
    )

    def expand(frontier: DataFrame) -> DataFrame:
        return frontier.filter(F.col("anc") > 0).select(
            "node",
            F.expr("anc div 10").alias("anc"),
            (F.col("depth") + 1).cast("int").alias("depth"),
        )

    # 64 rounds is a safety cap (2^64 keys deep would exhaust BIGINT
    # long before); the loop stops at the first empty frontier.
    out = first
    for tier in converge(first, [expand] * 64, F.lit(True), "ancestor closure"):
        out = out.unionByName(tier)
    return out


def _hll_group_oracle(group_sql: str, key_sql: str, src: str) -> str:
    """GROUP BY twin of ``_hll_oracle`` — same generated nibble/
    register/correction arithmetic with the group key carried through
    every stage, plus the exact per-group distinct joined back."""
    m, p_hex, rho_nibbles = 256, 2, 6
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    nv = lambda i: f"(strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1)"
    first_nz = "0"
    for i in range(rho_nibbles, 0, -1):
        first_nz = f"CASE WHEN {nv(p_hex + i)} > 0 THEN {i} ELSE {first_nz} END"
    nib_at = f"(strpos('0123456789abcdef', substr(hx, {p_hex} + first_nz, 1)) - 1)"
    in_lz = (
        f"CASE WHEN {nib_at} >= 8 THEN 0 WHEN {nib_at} >= 4 THEN 1 "
        f"WHEN {nib_at} >= 2 THEN 2 ELSE 3 END"
    )
    bucket = " + ".join(
        f"{nv(i + 1)} * {16 ** (p_hex - 1 - i)}" for i in range(p_hex)
    )
    return f"""
WITH h AS (
  SELECT {group_sql} AS grp, sha256(CAST({key_sql} AS VARCHAR)) AS hx FROM {src}
), fz AS (
  SELECT grp, hx, {bucket} AS bucket, ({first_nz}) AS first_nz FROM h
), br AS (
  SELECT grp, bucket,
         CASE WHEN first_nz = 0 THEN {4 * rho_nibbles + 1}
              ELSE (first_nz - 1) * 4 + {in_lz} + 1 END AS rho
  FROM fz
), regs AS (
  SELECT grp, bucket, max(rho) AS m_reg FROM br GROUP BY grp, bucket
), agg AS (
  SELECT grp,
         sum(CAST(1.0 / (CAST(1 AS BIGINT) << m_reg) AS DECIMAL(38,28))) AS s,
         CAST(count(*) AS BIGINT) AS present,
         CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zp
  FROM regs GROUP BY grp
), est AS (
  SELECT grp, {alpha_m2!r} / (CAST(s AS DOUBLE) + ({m} - present)) AS raw,
         ({m} - present + zp) AS n_zero
  FROM agg
), ex AS (
  SELECT {group_sql} AS grp, CAST(count(DISTINCT {key_sql}) AS BIGINT) AS exact_distinct
  FROM {src} GROUP BY {group_sql}
)
SELECT est.grp AS event_type,
       {fround_sql(f'CASE WHEN raw <= {2.5 * m!r} AND n_zero > 0 THEN {float(m)!r} * ln({float(m)!r} / n_zero) ELSE raw END', 4)} AS hll_estimate,
       CAST(n_zero AS BIGINT) AS n_zero_registers,
       ex.exact_distinct
FROM est JOIN ex ON ex.grp = est.grp
"""


@register(
    "hll_distinct_users_by_type",
    _hll_group_oracle("event_type", "user_id", "events"),
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cardinality sketch: distinct users per event_type
    via the GROUP BY HLL fold (operators/sketches.py:
    hll_estimate_grouped). The sketch exchange is bounded at
    groups x 256 rows regardless of input size — the per-segment
    distinct-count pattern (DAU by surface, vocab by language) that
    an exact count makes an O(groups x distinct) shuffle. Exact
    per-group distincts ride along to show the estimates land."""
    from dss_nlp_ingestion_spark.operators.sketches import (
        hll_estimate_grouped,
    )

    ev = table(spark, sf_dir, "events")
    est = hll_estimate_grouped(ev, "event_type", F.col("user_id"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        fround(F.col("hll_raw"), 4).alias("hll_estimate"),
        "n_zero_registers",
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# Distributed global ranking (no single-partition sort)
# ---------------------------------------------------------------------------

_GR_BUCKETS = 256

_GLOBAL_RANK_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
            AS BIGINT) AS global_rank
FROM orders
"""


@register("global_rank_orders", _GLOBAL_RANK_ORACLE)
def global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order ranking WITHOUT a global sort: a naive
    ``row_number() OVER (ORDER BY ...)`` collapses the table into one
    partition — the classic 100 TB cliff. Here rank = two-level
    prefix sum: (1) value-range bucket from a 1-row min/max aggregate
    (monotone in the sort key, so bucket order == global order),
    (2) per-bucket counts -> cumulative offsets over the tiny bucket
    table, (3) within-bucket row_number under a bucket-partitioned
    (i.e. parallel) window, (4) rank = offset + local rank. Same
    decomposition as the shard-packing prefix sum; the only wide
    exchange is bucket-keyed. The oracle is the naive global window,
    so the hash match proves the decomposition is exact."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mm = o.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    b = o.crossJoin(F.broadcast(mm)).withColumn(
        "_bucket",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (F.col("_hi") - F.col("o_totalprice"))
                    / (F.col("_hi") - F.col("_lo"))
                    * _GR_BUCKETS
                ),
                F.lit(_GR_BUCKETS - 1),
            )
        ).cast("int"),
    )
    counts = b.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_local = Window.partitionBy("_bucket").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        b.join(F.broadcast(offsets), "_bucket")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("_offset") + F.row_number().over(w_local))
            .cast("long")
            .alias("global_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention (product-analytics staple)
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         CAST(min(epoch_ms(ts) // 604800000) AS BIGINT) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_week,
         CAST(epoch_ms(ts) // 604800000 - f.cohort_week AS BIGINT) AS week_k
  FROM events e JOIN firsts f USING (user_id)
)
SELECT cohort_week, week_k,
       CAST(count(*) AS BIGINT) AS n_active
FROM activity GROUP BY cohort_week, week_k
"""


@register("cohort_retention", _COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the epoch week
    of their FIRST event; each (cohort_week, week_k) cell counts
    distinct users active k weeks later — the standard product-
    analytics retention matrix. Integer epoch-week arithmetic on both
    engines. Two shuffles (first-event agg; distinct-activity agg),
    both user-keyed; the cohort join broadcasts nothing that grows
    faster than the user dimension."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms

    ev = table(spark, sf_dir, "events").withColumn(
        "_wk", F.floor(epoch_ms("ts") / 604800000).cast("long")
    )
    firsts = ev.groupBy("user_id").agg(F.min("_wk").alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("_wk") - F.col("cohort_week")).cast("long").alias("week_k"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )


# ---------------------------------------------------------------------------
# Ordered event-sequence matching (CEP / MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

_CEP_GAP_MS = 3_600_000  # each step within 1h of the previous

_CEP_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS ms,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS step
  FROM events
), seqs AS (
  SELECT user_id,
         list(struct_pack(ms := ms, step := step) ORDER BY ms, step) AS s
  FROM ev GROUP BY user_id
)
SELECT user_id, CAST(list_reduce(
  [struct_pack(stage := CAST(0 AS BIGINT), last := CAST(0 AS BIGINT),
               cnt := CAST(0 AS BIGINT))] ||
  list_transform(s, e -> struct_pack(stage := CAST(e.step AS BIGINT),
                                     last := CAST(e.ms AS BIGINT),
                                     cnt := CAST(0 AS BIGINT))),
  (acc, e) -> CASE
    WHEN e.stage = 1
      THEN struct_pack(stage := CAST(1 AS BIGINT), last := e.last, cnt := acc.cnt)
    WHEN e.stage = 2 AND acc.stage = 1 AND e.last - acc.last <= {_CEP_GAP_MS}
      THEN struct_pack(stage := CAST(2 AS BIGINT), last := e.last, cnt := acc.cnt)
    WHEN e.stage = 3 AND acc.stage = 2 AND e.last - acc.last <= {_CEP_GAP_MS}
      THEN struct_pack(stage := CAST(0 AS BIGINT), last := CAST(0 AS BIGINT),
                       cnt := acc.cnt + 1)
    ELSE struct_pack(stage := acc.stage, last := acc.last, cnt := acc.cnt)
  END
).cnt AS BIGINT) AS n_matches
FROM seqs
"""


@register("event_sequence_matches", _CEP_ORACLE)
def event_sequence_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style ordered pattern matching (the MATCH_RECOGNIZE /
    Flink-CEP family): count non-overlapping view -> click -> purchase
    runs per user where each step follows the previous within 1 hour.
    The matcher is a deterministic finite-state fold over the user's
    time-ordered events — F.aggregate over a sorted struct array, so
    the automaton runs INSIDE codegen (no UDF), and the DuckDB twin
    replays the identical fold with list_reduce. 'view' always
    (re)arms the pattern; gaps expire at transition time.

    Scale shape: one user-keyed shuffle; per-user state is O(events
    per user) — the same keyed-state bound Flink CEP carries. A
    pattern over a pathological single user is a hot key, handled
    like any other (salt by session / time-slice first)."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        epoch_ms("ts").alias("ms"),
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
        .cast("long")
        .alias("step"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ms"), F.col("step")))
        ).alias("s")
    )

    def _pack(stage, last, cnt):
        return F.struct(
            stage.cast("long").alias("stage"),
            last.cast("long").alias("last"),
            cnt.cast("long").alias("cnt"),
        )

    init = _pack(F.lit(0), F.lit(0), F.lit(0))

    def fold(acc, e):
        gap_ok_1 = (acc["stage"] == 1) & (e["ms"] - acc["last"] <= _CEP_GAP_MS)
        gap_ok_2 = (acc["stage"] == 2) & (e["ms"] - acc["last"] <= _CEP_GAP_MS)
        return (
            F.when(e["step"] == 1, _pack(F.lit(1), e["ms"], acc["cnt"]))
            .when((e["step"] == 2) & gap_ok_1, _pack(F.lit(2), e["ms"], acc["cnt"]))
            .when(
                (e["step"] == 3) & gap_ok_2,
                _pack(F.lit(0), F.lit(0), acc["cnt"] + 1),
            )
            .otherwise(acc)
        )

    return seqs.select(
        "user_id",
        F.aggregate(F.col("s"), init, fold)["cnt"].cast("long").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Event-indexed decayed activity score (feature-store recency weighting)
# ---------------------------------------------------------------------------

# Recency-weighted user activity without float drift: per user, fold
# events in (ts, event_id) order with integer decay
#   score <- score - (score >> 2) + value_cents
# (3/4 retention per event, arithmetic shift, int64). EMA with a float
# alpha would be order-of-rounding fragile across engines; the shift
# fold is bit-exact, and the codegen HOF aggregate keeps the whole
# fold JVM-side (same pattern as the CEP automaton). One shuffle on
# user_id; per-user lists are session-bounded.
_DECAY_ORACLE = """
WITH v AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), l AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         list(cents ORDER BY ms, event_id) AS vals
  FROM v GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
                        (acc, x) -> acc - (acc >> 2) + x) AS BIGINT)
         AS decayed_score
FROM l
"""


@register("decayed_user_scores", _DECAY_ORACLE)
def decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-decayed activity score: ordered integer fold
    (3/4 retention per event via arithmetic shift) over each user's
    event values — the feature-store recency feature, bit-exact by
    construction. Plan: one user_id shuffle, then a codegen
    sort_array + aggregate HOF; no window, no Python."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms as _ems

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        _ems(F.col("ts")).alias("ms"),
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    lst = F.transform(
        F.sort_array(
            F.collect_list(F.struct(F.col("ms"), F.col("event_id"), F.col("cents")))
        ),
        lambda s: s["cents"],
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.aggregate(
            lst,
            F.lit(0).cast("long"),
            lambda acc, x: acc - F.shiftright(acc, 2) + x,
        ).alias("decayed_score"),
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-purchase graph (distributed graph analytics)
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
WITH e AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges
FROM e e1
JOIN e e2 ON e2.a = e1.b
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def _triangle_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY one-row (n_triangles, n_edges) aggregation plan for
    :func:`triangle_count_coparts` — split out so the real physical
    plan can be dumped/inspected (the registered query collects this
    and returns a literal row, which hides the plan from explain)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Edge set via basket-local pair generation: ONE shuffle on the
    # order key, pairs exploded inside each basket (bounded by basket
    # size^2, <= 7 items in TPC-H) — vs the previous fact-table
    # self-join, which shuffled lineitem twice and joined it against
    # itself.
    und = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("_items"))
        .select(F.explode("_items").alias("a"), "_items")
        .select("a", F.explode("_items").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # DEGREE orientation (the standard skew fix): re-orient each edge
    # from its lower-degree endpoint to the higher-degree one (id as
    # tie-break), so the path join's volume is sum-over-edges of the
    # SMALLER endpoint degree instead of deg^2 of hub vertices. The
    # triangle/edge counts are orientation-invariant, so the oracle's
    # simpler id-orientation replay still hash-matches.
    # Both endpoints from ONE pass over the edge set (r11: a
    # two-branch union re-runs und's post-exchange distinct merge per
    # branch; the explode emits both in a single traversal).
    deg = (
        und.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
            )
            .otherwise(F.struct(F.col("b").alias("a"), F.col("a").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    # Close triangles by SORTED-ADJACENCY INTERSECTION (the
    # edge-iterator form) instead of materializing wedge rows through
    # a shuffle: build each vertex's out-neighbor list once, then for
    # every oriented edge (a, b) count |adj(a) ∩ adj(b)| — orientation
    # is transitive, so each triangle is counted exactly once at its
    # lowest-(deg, id) edge. Work per edge is O(min out-degree) — the
    # same asymptotics as the oriented wedge join — but the quadratic
    # wedge set (sum of out-deg^2 rows; ~50M at sf0.1) never exists as
    # a dataset: the intersection runs inside codegen on two arrays.
    # Out-degree under degree orientation is bounded by O(sqrt(2m))
    # (arboricity bound), so adjacency arrays stay row-sized even on
    # power-law graphs. Measured at sf0.1: 2.2x faster than the wedge
    # join (2.4 s vs 5.3 s on the cached edge set), identical counts.
    # No array_sort: array_intersect hashes its inputs, so only the
    # SIZE of the intersection matters and element order is
    # irrelevant — sorting ~|V| adjacency arrays bought nothing (r11).
    adj = e.groupBy("a").agg(F.collect_list("b").alias("na"))
    # r11: exploding adj reproduces every oriented edge (a, b) WITH
    # its na array already attached — the former e JOIN adj ON a
    # (one full sort-merge shuffle of the edge set) is free, and e
    # now has a single consumer (adj), so the persist + separate
    # materialization job are gone: the whole query is one linear
    # plan. The nb join is the only remaining edge-set shuffle.
    closed = (
        adj.select("na", F.explode("na").alias("b"))
        .join(
            adj.select(F.col("a").alias("b"), F.col("na").alias("nb")),
            "b",
            "left",
        )
        .select(
            F.size(
                F.array_intersect(
                    F.col("na"), F.coalesce(F.col("nb"), F.array())
                )
            ).alias("n_closed")
        )
    )
    # ONE aggregation pass yields both outputs: the adj explode emits
    # exactly one row per oriented edge (sum of out-degrees = |E|)
    # and the nb join is a left join, so `closed` has exactly one row
    # per oriented edge — count(closed) IS n_edges. The previous
    # shape ran a second full aggregate job over e just to count it
    # (r11, guide §2.4: don't traverse the data twice for two
    # scalars).
    return closed.agg(
        F.sum("n_closed").cast("long").alias("n_triangles"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
    )


@register("triangle_count_coparts", _TRIANGLES_ORACLE)
def triangle_count_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the clustering-coefficient backbone) on the
    co-purchase graph: parts are vertices, an edge joins parts that
    appear in the same order. Edges are ORIENTED by the (degree, id)
    total order — the standard skew-proof formulation: the closing
    intersection fans out from each vertex only along its
    HIGHER-degree neighbors, so hub vertices (power-law co-occurrence
    graphs at 100 TB) cost O(sum of min-degrees) instead of
    O(hub_degree^2). Each triangle is found exactly once (orientation
    is transitive); no Cartesian, no driver-side adjacency. Counts
    are orientation-invariant, so the oracle replays the simpler
    id-oriented form. The full pipeline (see :func:`_triangle_out`)
    is ONE linear plan since r11 — no persist barrier."""
    row = _triangle_out(spark, sf_dir).collect()[0]
    return spark.range(1).select(
        F.lit(row["n_triangles"]).cast("long").alias("n_triangles"),
        F.lit(row["n_edges"]).cast("long").alias("n_edges"),
    )


# ---------------------------------------------------------------------------
# Robust rate-anomaly detection (median/MAD over hourly event counts)
# ---------------------------------------------------------------------------

# All-integer robustness: counts are ints, both medians are the DISC
# definition (row_number pick, deterministic hour tie-break), and the
# 3-sigma-equivalent flag compares |x - med| * 2 > 3 * (2 * mad)
# == |x - med| > 3 * mad without ever forming a float. The classic
# monitoring query (is this hour's volume abnormal for this event
# type?) with zero cross-engine drift.
_ANOMALY_ORACLE = """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), med AS (
  SELECT event_type, n AS med_n FROM (
    SELECT event_type, n,
           row_number() OVER (PARTITION BY event_type ORDER BY n, hour) AS rn,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM hc
  ) WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT hc.event_type, hc.hour, hc.n, med.med_n,
         abs(hc.n - med.med_n) AS ad
  FROM hc JOIN med USING (event_type)
), mad AS (
  SELECT event_type, ad AS mad_n FROM (
    SELECT event_type, ad,
           row_number() OVER (PARTITION BY event_type ORDER BY ad, hour) AS rn,
           count(*) OVER (PARTITION BY event_type) AS cnt
    FROM dev
  ) WHERE rn = (cnt + 1) // 2
)
SELECT d.event_type, d.hour, d.n, d.med_n, m.mad_n,
       CAST(CASE WHEN d.ad > 3 * m.mad_n THEN 1 ELSE 0 END AS BIGINT)
         AS anomaly
FROM dev d JOIN mad m USING (event_type)
"""


@register("event_rate_anomalies", _ANOMALY_ORACLE)
def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomaly flags per event type via median/MAD
    (the robust z-score monitoring rule |x - med| > 3*MAD): hourly
    partial-agg counts, DISC median of counts, DISC median of
    absolute deviations, integer comparison — the pipeline-health
    query every ingest system runs, hash-exact because no float is
    ever formed. Scale shape: the raw shuffle is the hourly groupBy
    (map-side combine); everything after runs on O(types x hours)
    rows."""
    from dss_nlp_ingestion_spark.functions.dates import hour_bucket

    ev = table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", hour_bucket(F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    def disc_median(df: DataFrame, val: str, tie: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(F.col(val), F.col(tie))
        wc = Window.partitionBy("event_type")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_cnt", F.count(F.lit(1)).over(wc))
            .filter(F.col("_rn") == F.floor((F.col("_cnt") + 1) / 2))
            .select("event_type", F.col(val).alias(out))
        )

    med = disc_median(hc, "n", "hour", "med_n")
    dev = hc.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("n") - F.col("med_n"))
    )
    mad = disc_median(dev, "ad", "hour", "mad_n")
    return (
        dev.join(mad, "event_type")
        .select(
            "event_type", "hour", "n", "med_n", "mad_n",
            F.when(F.col("ad") > 3 * F.col("mad_n"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan counts across the schema)
# ---------------------------------------------------------------------------

_RI_ORACLE = """
SELECT 'orders.custkey' AS fk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.orderkey',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'customer.nationkey',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


@register("referential_integrity_audit", _RI_ORACLE)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-orphan audit across three relationships in one result — the
    schema-health check a warehouse runs after every load. Each leg is
    a left join reduced to two integers; the dimension sides broadcast
    (customer/nation vs orders/lineitem), so at 100 TB the only
    shuffle is the lineitem->orders leg, keyed on the FK. Counts are
    BIGINT end to end."""

    def leg(name, fact, dim, fk, pk):
        probe = dim.select(F.col(pk).alias("_pk"))
        j = fact.join(
            F.broadcast(probe) if name != "lineitem.orderkey" else probe,
            fact[fk] == F.col("_pk"),
            "left",
        )
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(F.lit(name).alias("fk"), "n_rows", "n_orphans")

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    lineitem = table(spark, sf_dir, "lineitem")
    nation = table(spark, sf_dir, "nation")
    return (
        leg("orders.custkey", orders, customer, "o_custkey", "c_custkey")
        .unionByName(
            leg("lineitem.orderkey", lineitem, orders, "l_orderkey", "o_orderkey")
        )
        .unionByName(
            leg("customer.nationkey", customer, nation, "c_nationkey", "n_nationkey")
        )
    )


# ---------------------------------------------------------------------------
# SCD2 build from a change feed (validity intervals via lead())
# ---------------------------------------------------------------------------

_SCD2_BUILD_ORACLE = """
WITH ch AS (
  SELECT user_id, event_type AS attr, epoch_ms(ts) AS from_ms, event_id
  FROM events
)
SELECT user_id, attr, from_ms,
       lead(from_ms) OVER w AS to_ms,
       CAST(CASE WHEN lead(from_ms) OVER w IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_current,
       CAST(row_number() OVER w AS BIGINT) AS rev
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY from_ms, event_id)
"""


@register("scd2_build_from_events", _SCD2_BUILD_ORACLE)
def scd2_build_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing dimension FROM a change feed:
    each user's attribute changes (events as the CDC stand-in) become
    validity intervals [from_ms, to_ms) via lead() over the
    (from_ms, event_id)-ordered window, open-ended + flagged current
    for the latest revision — the WRITE side of the SCD2 story whose
    READ side (point-in-time join) pit_join_scd2 already covers. One
    user_id shuffle; epoch-ms interval bounds keep it engine-exact."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms as _ems

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("attr"),
        _ems(F.col("ts")).alias("from_ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("from_ms", "event_id")
    return ev.select(
        "user_id", "attr", "from_ms",
        F.lead("from_ms").over(w).alias("to_ms"),
        F.when(F.lead("from_ms").over(w).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
        F.row_number().over(w).cast("long").alias("rev"),
    )


# ---------------------------------------------------------------------------
# Time-decayed user value (half-life by wall-clock hour, integer shift)
# ---------------------------------------------------------------------------

_TIME_DECAY_ORACLE = """
WITH v AS (
  SELECT user_id, epoch_ms(ts) AS ms,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), a AS (
  SELECT user_id, ms, cents,
         max(ms) OVER (PARTITION BY user_id) AS anchor
  FROM v
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents >> CAST(least((anchor - ms) // 3600000, 62) AS INT))
            AS BIGINT) AS decayed_value
FROM a GROUP BY user_id
"""


@register("time_decayed_user_value", _TIME_DECAY_ORACLE)
def time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock recency weighting with a one-hour half-life as pure
    integer arithmetic: each event contributes cents >> age_hours
    (clamped at 62) relative to the user's latest event. Unlike the
    event-indexed fold (decayed_user_scores) this form is FULLY
    data-parallel — a window max + one partial-agg sum, no ordered
    fold, no per-user list — so it is the shape to prefer at 100 TB;
    both are bit-exact."""
    from dss_nlp_ingestion_spark.functions.dates import epoch_ms as _ems

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        _ems(F.col("ts")).alias("ms"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id")
    aged = ev.withColumn("anchor", F.max("ms").over(w)).withColumn(
        "age_h",
        F.least(
            F.floor((F.col("anchor") - F.col("ms")) / 3600000), F.lit(62)
        ).cast("int"),
    )
    # SQL shiftright takes a column shift amount (the DataFrame
    # helper insists on a literal)
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.expr("shiftright(cents, age_h)"))
        .cast("long")
        .alias("decayed_value"),
    )
