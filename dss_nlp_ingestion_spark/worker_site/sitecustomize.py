"""Site hook for the Python processes Spark starts.

``session.get_spark`` puts this directory on ``PYTHONPATH`` before the
JVM launches. The JVM passes that path on to its Python workers, so
each one imports this module at interpreter startup. That covers the
worker daemon and the workers it forks, which serve UDFs, Arrow UDFs
and ``createDataFrame(list)`` scans. Imported under its package name
(``pbcompat`` does this), the module only defines functions.

At startup it does two things:

1. **Archive directories are kept while unchanged.** PySpark's
   ``worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` once per task. On Python 3.10-3.12
   every ``zipimporter`` then re-reads its archive's whole central
   directory. A worker holds 12 importers on ``pyspark.zip`` (1,328
   entries), 3 on the spark-core jar (5,359 entries) and 2 on the py4j
   zip. That costs 0.29 s of CPU per task before the task touches a
   row. :func:`keep_unchanged_zip_directories` makes the reload
   conditional. An archive whose ``(st_mtime_ns, st_size, st_ino)`` is
   the same as at its last read keeps the shared
   ``zipimport._zip_directory_cache`` entry. A changed or deleted
   archive goes through the stdlib body, as before. Python >= 3.13
   already only drops the cache entry, so there the hook is a no-op.
2. **Protobuf's MINOR-version gate is relaxed** when a protobuf runtime
   is importable, as ``pbcompat.ensure_protobuf`` does in the driver.
   With no runtime the import fails and nothing happens.

A failure in either step is reported on stderr and never breaks
interpreter startup. As ``PYTHONPATH`` comes before site-packages, this
module shadows any site-wide ``sitecustomize`` in the worker's
interpreter.
"""

import os
import sys


def keep_unchanged_zip_directories() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so an archive
    is re-read only when its stat key moved since this process last
    read it. The key is taken BEFORE the stdlib read, so an archive
    rewritten during the read is re-read at the next call. A no-op on
    Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reload = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):  # noqa: ANN001, ANN202
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reload(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def relax_minor_version_gate() -> None:
    """Wrap ``runtime_version.ValidateProtobufRuntimeVersion`` so a
    MINOR-version gap between gencode and runtime no longer raises;
    a MAJOR mismatch still does (those may break the builder API).
    Idempotent; a runtime without the module (protobuf < 5) needs no
    gate at all."""
    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        return
    if getattr(rv.ValidateProtobufRuntimeVersion, "_dss_relaxed", False):
        return
    orig = rv.ValidateProtobufRuntimeVersion

    def relaxed(domain, major, minor, patch, suffix, location):  # noqa: ANN001
        try:
            orig(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if major != rv.MAJOR:
                raise

    relaxed._dss_relaxed = True  # type: ignore[attr-defined]
    rv.ValidateProtobufRuntimeVersion = relaxed


if __name__ == "sitecustomize":  # pragma: no cover - runs at worker startup
    for _step in (keep_unchanged_zip_directories, relax_minor_version_gate):
        try:
            _step()
        except Exception as exc:  # noqa: BLE001 - never break interpreter startup
            print(f"worker_site: {_step.__name__} skipped: {exc!r}", file=sys.stderr)
