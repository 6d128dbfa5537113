"""The JVM <-> Python-worker channel of a ``get_spark`` session.

``session.DEFAULT_CONF`` runs it over Unix domain sockets in
``session.PYTHON_SOCKET_DIR``; the subprocess tests start their own
JVM because both confs are static.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import textwrap

from dss_nlp_ingestion_spark.session import PYTHON_SOCKET_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Each step goes through a Python worker or a Python-side socket: an
# Arrow UDF, mapInPandas, a createDataFrame(list) scan, collect and
# toPandas, and the format("txlog") Python data source.
ROUND_TRIPS = """
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.sources import txlog
from dss_nlp_ingestion_spark.sources.txlog_datasource import register


@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def doubled(batches):
    for pdf in batches:
        yield pdf.assign(k=pdf.k * 2)


df = spark.createDataFrame([(i, f"v{i}") for i in range(25)], "k long, v string")
assert sorted(r.k for r in df.select(plus_one("k").alias("k")).collect()) == list(range(1, 26))
assert sorted(df.mapInPandas(doubled, df.schema).toPandas().k) == list(range(0, 50, 2))
path = tempfile.mkdtemp(prefix="dss_sock_") + "/t"
txlog.create_table(df, path)
register(spark)
assert spark.read.format("txlog").option("path", path).load().count() == 25
"""


def _run(script: str, tmp_path: pathlib.Path) -> None:
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {**os.environ, "TMPDIR": str(tmpdir)}
    subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, check=True, timeout=300
    )


def test_shared_session_uses_unix_sockets(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert spark.conf.get("spark.python.unix.domain.socket.dir") == PYTHON_SOCKET_DIR


def test_long_java_tmpdir_does_not_break_python_workers(tmp_path):
    """Spark's default socket dir is the JVM's ``java.io.tmpdir``; at
    100+ characters the socket path passes the 107-byte ``AF_UNIX``
    limit and the session cannot start. The pinned dir keeps it
    working."""
    deep = tmp_path / "jvm-tmp"
    deep = deep / ("d" * max(1, 100 - len(str(deep))))
    deep.mkdir(parents=True)
    assert len(str(deep)) >= 100
    script = textwrap.dedent(
        f"""
        import pandas as pd
        from pyspark.sql import functions as F

        from dss_nlp_ingestion_spark.session import get_spark

        spark = get_spark(master="local[1]", extra_conf={{
            "spark.driver.memory": "512m",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={deep}",
        }})
        assert spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir") == {str(deep)!r}

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        assert [r[0] for r in spark.range(3, numPartitions=1).select(plus_one("id")).collect()] == [1, 2, 3]
        assert spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").collect()[1].v == "b"
        spark.stop()
        """
    )
    _run(script, tmp_path)


def test_python_round_trips_leave_no_socket(tmp_path):
    """A session with its own socket dir runs every kind of Python
    round trip the engine makes, and after ``stop()`` none of the
    sockets it bound is left in that dir."""
    # A subdirectory of the pinned dir: tmp_path is too deep for an
    # AF_UNIX path.
    sock_dir = tempfile.mkdtemp(prefix="dss_sock_", dir=PYTHON_SOCKET_DIR)
    try:
        script = textwrap.dedent(
            f"""
            import os

            from dss_nlp_ingestion_spark.session import get_spark

            spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={{
                "spark.driver.memory": "512m",
                "spark.python.unix.domain.socket.dir": {sock_dir!r},
            }})
            """
        ) + ROUND_TRIPS + textwrap.dedent(
            f"""
            assert any(n.endswith(".sock") for n in os.listdir({sock_dir!r}))
            spark.stop()
            """
        )
        _run(script, tmp_path)
        assert os.listdir(sock_dir) == []
    finally:
        shutil.rmtree(sock_dir, ignore_errors=True)
