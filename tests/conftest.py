from __future__ import annotations

import datetime
import math
import shutil
import tempfile

import duckdb
import pytest

from dss_nlp_ingestion_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def norm_value(v):
    """One cell of a Spark or DuckDB row in the form the oracle parity
    check compares: floats by repr, timestamps and dates by isoformat."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def normalize(cols, rows):
    """Columns sorted by name and rows sorted, so a result compares
    without regard to column or row order. Also used by the verify
    skill's drive script."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


@pytest.fixture(scope="session", autouse=True)
def tmp_root():
    """One temp root for the whole session. ``tempfile`` hands it out
    as the temp dir, so every table, checkpoint and warehouse dir the
    tests and the engine make, and ``ship_package``'s zip, land under
    it; child processes inherit it through TMPDIR. It is removed at
    teardown, after the Spark session stops (``spark`` depends on
    this fixture), so a run leaves nothing behind in /tmp."""
    root = tempfile.mkdtemp(prefix="dss_tests_")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", root)
        mp.setenv("TMPDIR", root)
        yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(tmp_root):
    warehouse = tempfile.mkdtemp(prefix="dss_warehouse_")
    s = get_spark(
        app_name="dss-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
