"""The worker site hook and the per-session package zip.

``worker_site/sitecustomize.py`` keeps a zip archive's directory
across ``importlib.invalidate_caches()`` while the archive is
unchanged; ``ship_package`` wires it into every Python worker of a
session and removes the zip it writes when the process exits.
"""

from __future__ import annotations

import importlib
import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _write_zip(path: pathlib.Path, modules: dict[str, str]) -> None:
    # Mode "w" truncates the same inode: an in-place rewrite.
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def hooked_zip(tmp_path, monkeypatch):
    """A one-module archive on ``sys.path`` with the hook installed in
    this process; the stdlib method, ``sys.path`` and the importer
    cache are restored afterwards."""
    from dss_nlp_ingestion_spark.worker_site.sitecustomize import (
        keep_unchanged_zip_directories,
    )

    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    keep_unchanged_zip_directories()
    archive = tmp_path / "probe.zip"
    first, second = f"dss_zprobe_a_{os.getpid()}", f"dss_zprobe_b_{os.getpid()}"
    _write_zip(archive, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for mod in (first, second):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module(first).X == 1
    yield archive, first, second
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)
    for mod in (first, second):
        sys.modules.pop(mod, None)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the stdlib reloads lazily from 3.13 on; the hook is a no-op",
)
def test_unchanged_archive_keeps_its_directory(hooked_zip):
    archive, _, _ = hooked_zip
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[str(archive)]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[str(archive)] is files


def test_rewritten_or_deleted_archive_reloads_as_stdlib(hooked_zip):
    archive, first, second = hooked_zip
    importlib.invalidate_caches()
    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).Y == 2
    importer = sys.path_importer_cache[str(archive)]
    archive.unlink()
    importlib.invalidate_caches()
    # The stdlib body on a missing archive: drop the entry, empty files.
    assert str(archive) not in zipimport._zip_directory_cache
    assert importer._files == {}


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the stdlib reloads lazily from 3.13 on; the hook is a no-op",
)
def test_worker_invalidate_caches_keeps_pyspark_zip(spark):
    """Inside a Python worker of the shared session, the per-task
    ``importlib.invalidate_caches()`` leaves ``pyspark.zip``'s cached
    directory in place and costs little CPU."""

    def probe(_):
        import importlib
        import time
        import zipimport

        importlib.invalidate_caches()
        cache = zipimport._zip_directory_cache
        before = {a: cache[a] for a in cache if os.path.basename(a) == "pyspark.zip"}
        t0 = time.process_time()
        importlib.invalidate_caches()
        cpu_s = time.process_time() - t0
        yield (
            len(before),
            all(cache.get(a) is files for a, files in before.items()),
            cpu_s,
        )

    rows = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert rows and all(n >= 1 for n, _, _ in rows), rows
    assert all(same for _, same, _ in rows), rows
    assert max(cpu for _, _, cpu in rows) < 0.05, rows


def test_add_pythonpath_appends_once_and_keeps_existing_entries():
    from dss_nlp_ingestion_spark.pbcompat import add_pythonpath

    env = {"PYTHONPATH": os.pathsep.join(["/a", "/b"])}
    add_pythonpath("/c", env)
    add_pythonpath("/c", env)
    add_pythonpath("/a", env)
    assert env["PYTHONPATH"] == os.pathsep.join(["/a", "/b", "/c"])
    empty: dict[str, str] = {}
    add_pythonpath("/c", empty)
    assert empty == {"PYTHONPATH": "/c"}


def test_ship_package_puts_hook_and_zip_on_session_worker_path(spark):
    """The hook dir and the package zip ride ``sc.environment``, the
    environment Spark hands each Python process it starts, so a session
    built outside ``get_spark`` gets both through ``ship_package`` too;
    shipping again adds no second copy."""
    from dss_nlp_ingestion_spark.session import _WORKER_SITE, ship_package

    zip_name = f"dss_nlp_ingestion_spark-{os.getpid()}.zip"

    def entries() -> list[str]:
        path = spark.sparkContext.environment.get("PYTHONPATH", "")
        return [
            p
            for p in path.split(os.pathsep)
            if p == _WORKER_SITE or os.path.basename(p) == zip_name
        ]

    assert entries()[0] == _WORKER_SITE and len(entries()) == 2, entries()
    ship_package(spark)
    assert len(entries()) == 2, entries()


def test_get_spark_removes_its_package_zip(tmp_path):
    """A process that builds a session and exits leaves no package
    zip in its temp dir."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    script = textwrap.dedent(
        """
        from dss_nlp_ingestion_spark.session import get_spark

        spark = get_spark(master="local[1]", extra_conf={"spark.driver.memory": "512m"})
        spark.sparkContext.parallelize([1], 1).count()
        spark.stop()
        """
    )
    env = {**os.environ, "TMPDIR": str(tmpdir)}
    subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, check=True, timeout=300
    )
    assert not list(tmpdir.glob("dss_nlp_ingestion_spark-*.zip"))
