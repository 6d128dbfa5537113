"""Protobuf runtime discovery for Spark-4 typed-state streaming.

``transformWithStateInPandas`` talks to the JVM state server through
protobuf messages (``pyspark.sql.streaming.proto.StateMessage_pb2``),
imported in BOTH the driver and every Python worker. Hermetic
containers often lack the ``protobuf`` pip package while still
carrying a pure-Python runtime on disk (e.g. the Google Cloud SDK
ships one). This module finds such a runtime, puts its root on
``sys.path`` and ``PYTHONPATH``, and relaxes the gencode/runtime
MINOR-version gate when that is the only mismatch (the wire format
and the ``internal.builder`` API are stable across minors, protobuf's
own cross-version guarantee). Everything is best-effort: with no
runtime anywhere, callers see the same ImportError/skip as before.

Only discovery lives here. The worker side is the engine's one site
hook, ``worker_site/sitecustomize.py``, which ``session.get_spark``
always puts on ``PYTHONPATH``. At worker startup it applies the same
:func:`relax_minor_version_gate`, which takes effect when the runtime
root added here is on the worker's path. (The hook also stops each
task re-reading ``pyspark.zip`` and the spark-core jar; see its
docstring.)

Must run BEFORE the JVM launches (workers inherit the JVM's env),
which :func:`dss_nlp_ingestion_spark.session.get_spark` guarantees.
"""

from __future__ import annotations

import os
import sys

from dss_nlp_ingestion_spark.worker_site.sitecustomize import relax_minor_version_gate

#: Candidate roots holding a pure-Python ``google/protobuf`` tree.
#: ``DSS_PROTOBUF_PATH`` (colon-separated) is consulted first so a
#: deployment can point at its own runtime without code changes.
_KNOWN_RUNTIMES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _candidate_roots() -> list[str]:
    roots = [
        p
        for p in os.environ.get("DSS_PROTOBUF_PATH", "").split(os.pathsep)
        if p
    ]
    roots.extend(_KNOWN_RUNTIMES)
    return roots


def add_pythonpath(entry: str) -> None:
    """Append ``entry`` to ``os.environ["PYTHONPATH"]`` unless it is
    already there, so repeated calls leave one copy."""
    parts = [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    if entry not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([*parts, entry])


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable here and in Spark workers.
    Returns True when the runtime is available (already installed, or
    discovered on disk); False when no runtime exists anywhere."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        # Already importable: if it was wired by a previous call the
        # relaxed gate is in place; a real pip install needs nothing.
        return True
    except ImportError:
        pass
    for root in _candidate_roots():
        if not os.path.isfile(
            os.path.join(root, "google", "protobuf", "descriptor.py")
        ):
            continue
        sys.path.append(root)
        try:
            import google.protobuf.descriptor  # noqa: F401
        except ImportError:
            sys.path.remove(root)
            continue
        relax_minor_version_gate()
        add_pythonpath(root)
        return True
    return False
