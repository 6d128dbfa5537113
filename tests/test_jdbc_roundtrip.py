"""S6/F3 live verification: a real JDBC round-trip against embedded
Derby (ships in pyspark's jars) — write the universe dim through
Spark's JDBC sink, read it back through ``sources.jdbc.universe_reader``
(projection + predicate as a pushdown subquery), and assert Spark-side
filters reach the source (PushedFilters in the scan).

This upgrades the S6 coverage from option-plumbing checks to a real
database conversation: DDL, type mapping, pushdown subquery, LIMIT.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.sources.jdbc import load_universe, universe_reader

ROWS = [
    ("0005.HK", "0005", "HSBC Holdings", "301010", "HKD", True),
    ("0700.HK", "0700", "Tencent", "453010", "HKD", True),
    ("AAPL", "AAPL", "Apple Inc", "452020", "USD", True),
    ("MSFT", "MSFT", "Microsoft", "451030", "USD", False),
    ("NA1", "NA1", "Unclassified", "NA", "USD", True),
]


@pytest.fixture(scope="module")
def derby_log(spark):
    """Derby writes ``derby.log`` into the JVM's working directory when
    it boots, which is wherever the tests were started from. Point its
    ``derby.stream.error.file`` system property under the tests' temp
    root before the first connection, and restore it after the module."""
    system = spark.sparkContext._jvm.java.lang.System
    old = system.getProperty("derby.stream.error.file")
    log = os.path.join(tempfile.mkdtemp(prefix="dss_derby_log_"), "derby.log")
    system.setProperty("derby.stream.error.file", log)
    yield log
    if old is None:
        system.clearProperty("derby.stream.error.file")
    else:
        system.setProperty("derby.stream.error.file", old)


@pytest.fixture(scope="module")
def derby_url(spark, derby_log):
    path = os.path.join(tempfile.mkdtemp(prefix="dss_derby_"), "universe_db")
    url = f"jdbc:derby:{path};create=true"
    df = spark.createDataFrame(
        ROWS,
        "ticker string, ticker_symbol string, ticker_name string, "
        "icb_code string, currency_code string, is_active boolean",
    )
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "universe")
        .option(
            "createTableColumnTypes",
            "ticker VARCHAR(32), ticker_symbol VARCHAR(32), "
            "ticker_name VARCHAR(128), icb_code VARCHAR(16), "
            "currency_code VARCHAR(8), is_active BOOLEAN",
        )
        .mode("overwrite")
        .save()
    )
    return url


def test_universe_pushdown_subquery(spark, derby_url):
    # Spark's JDBC writer creates case-sensitive (quoted) lowercase
    # columns; Derby folds unquoted identifiers UP, so the pushdown
    # subquery must quote them (Postgres folds down and would accept
    # either form).
    reader = universe_reader(
        spark,
        derby_url,
        table="universe",
        predicate='"is_active" AND "icb_code" <> \'NA\'',
        columns=tuple(f'"{c}"' for c in (
            "ticker", "ticker_symbol", "ticker_name", "icb_code", "currency_code"
        )),
    )
    rows = {r.ticker: r for r in load_universe(reader).collect()}
    # MSFT inactive, NA1 unclassified -> both filtered in the DATABASE.
    assert set(rows) == {"0005.HK", "0700.HK", "AAPL"}
    assert rows["0700.HK"].icb_code == "453010"


def test_limit_fetchmany_analog(spark, derby_url):
    reader = universe_reader(
        spark, derby_url, table="universe", predicate='"is_active"',
        columns=('"ticker"', '"icb_code"'),
    )
    assert load_universe(reader, num_to_fetch=2).count() == 2


def test_spark_side_filter_pushed_to_jdbc(spark, derby_url):
    reader = universe_reader(
        spark, derby_url, table="universe", predicate="1=1",
        columns=('"ticker"', '"currency_code"'),
    )
    df = load_universe(reader).filter(F.col("currency_code") == "USD")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "currency_code" in plan.split("PushedFilters")[1].split("\n")[0]
    assert {r.ticker for r in df.collect()} == {"AAPL", "MSFT", "NA1"}


def test_derby_logs_under_temp_root(derby_url, derby_log):
    """Derby booted with its log under the tests' temp root, so a run
    leaves no ``derby.log`` in the directory it was started from."""
    assert os.path.isfile(derby_log)
