"""Driver-sample rotation ordering (plans/__init__._rotate_for_driver_sample).

The driver verifies only the first N registry entries each round, so
the rotation decides how fast the correctness backlog retires.  Pin
the r6 fix (verdict r5 #1): among NON-GREEN queries, every
never-driver-sampled query must precede every previously-sampled one,
and previously-sampled non-green queries must be ordered
oldest-sampled-first.  Green queries sort after all non-green ones.
"""

import json
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def _load_state():
    latest = {}
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            for name, row in json.loads(p.read_text()).items():
                latest[name] = (rnd, row)
        except (OSError, ValueError, AttributeError):
            pass
    try:
        cache = json.loads((ROOT / "QUERY_HASHES.json").read_text())
    except (OSError, ValueError):
        cache = {}
    return latest, cache


def _green(name, latest, cache):
    if name not in latest:
        return False
    rnd, row = latest[name]
    if not isinstance(row, dict):
        return False
    ok = row.get("hash_match") is True or (
        row.get("err") is None and row.get("spark_rows") is not None
    )
    return ok and rnd >= cache.get(name, {}).get("as_of_round", 0)


def test_rotation_never_sampled_first():
    from dss_nlp_ingestion_spark.plans import QUERIES

    latest, cache = _load_state()
    if not latest:  # no correctness files: rotation is a no-op
        return
    order = list(QUERIES)
    # Partition the registry as the rotation saw it.
    nongreen = [n for n in order if not _green(n, latest, cache)]
    greens = [n for n in order if _green(n, latest, cache)]
    # 1. All non-green queries precede all green queries.
    if nongreen and greens:
        assert max(order.index(n) for n in nongreen) < min(
            order.index(n) for n in greens
        ), "a green query sorted before a non-green one"
    # 2. Within non-green: never-sampled strictly before ever-sampled.
    never = [n for n in nongreen if n not in latest]
    sampled_ng = [n for n in nongreen if n in latest]
    if never and sampled_ng:
        assert max(order.index(n) for n in never) < min(
            order.index(n) for n in sampled_ng
        ), "a previously-sampled non-green query sorted before a never-sampled one"
    # 3. Within ever-sampled non-green: rows whose LATEST driver
    # result was itself an error precede hash-stale rows that were
    # green when last sampled (r8 verdict #2), and each subgroup is
    # oldest-sampled-first.
    def _row_green(n):
        row = latest[n][1]
        return isinstance(row, dict) and (
            row.get("hash_match") is True
            or (row.get("err") is None and row.get("spark_rows") is not None)
        )

    errored = [n for n in sampled_ng if not _row_green(n)]
    stale = [n for n in sampled_ng if _row_green(n)]
    if errored and stale:
        assert max(order.index(n) for n in errored) < min(
            order.index(n) for n in stale
        ), "a hash-stale green sorted before a previously-errored row"
    for group in (errored, stale):
        rounds = [latest[n][0] for n in group]
        assert rounds == sorted(rounds), "non-green subgroup not oldest-first"
    # 4. Greens oldest-sample-first too (rolling re-verification).
    grounds = [latest[n][0] for n in greens]
    assert grounds == sorted(grounds), "green queries not oldest-sample-first"


def test_registry_split_and_tag_invariants():
    """Registry wiring guards (r8): every SETUP has a PROBE and a
    driver-facing QUERIES entry carrying the `_split` halves the
    greenness hash covers; every query the sf1 sweep skip-lists as a
    by-design-quadratic verifier twin carries a TAG explaining why
    (silent skips read as 'covered everything' when they are not)."""
    from dss_nlp_ingestion_spark.plans import QUERIES
    from dss_nlp_ingestion_spark.plans.registry import PROBES, SETUPS, TAGS

    for name in SETUPS:
        assert name in PROBES, name
        assert name in QUERIES, name
        assert len(getattr(QUERIES[name], "_split", ())) == 2, name
    for name in PROBES:
        assert name in SETUPS, name
    # the sf1 skip list used by the committed BENCH_SF1 record
    for name in (
        "cjk_near_dups",
        "edit_distance_dups",
        "embedding_near_dups_exact",
        "ngram_jaccard_dups",
        "simhash_near_dups",
    ):
        assert name in QUERIES, name
        # embedding_near_dups_exact is documented on its guarded
        # default's tag; every OTHER skip-listed query must carry its
        # own (the broad `or` form made this guard vacuous — r8
        # advisor finding).
        tagged = name in TAGS or (
            name == "embedding_near_dups_exact" and "embedding_near_dups" in TAGS
        )
        assert tagged, f"skip-listed {name} has no documenting tag"


def test_no_tag_describes_host_speed():
    """A TAGS note states what a row does by design. Whether one sweep
    ran it during a CPU-steal episode or a contended window says
    nothing about the row, and bench records carry per-query job and
    task counts that do not move with the host."""
    import re

    from dss_nlp_ingestion_spark.plans import QUERIES  # noqa: F401 — fills TAGS
    from dss_nlp_ingestion_spark.plans.registry import TAGS

    host = re.compile(r"steal|\bhost|contention|noise|audit", re.IGNORECASE)
    bad = {name: note for name, note in TAGS.items() if host.search(note)}
    assert not bad, bad


@pytest.mark.parametrize(
    "module,queries",
    [
        (
            "dss_nlp_ingestion_spark.operators.graph",
            (
                "dup_clusters",
                "dup_clusters_pj",
                "dup_canonical_best",
                "leakage_safe_splits",
                "ancestor_closure_customers",
            ),
        ),
        (
            "dss_nlp_ingestion_spark.operators.similarity",
            ("semdedup_prune", "embedding_near_dups"),
        ),
        ("dss_nlp_ingestion_spark.operators.dedup", ("simhash_near_dups_banded",)),
    ],
)
def test_code_hash_follows_imported_modules(monkeypatch, module, queries):
    """Editing an operator module re-keys every query that reaches it
    through an import — including imports inside the query function —
    and leaves a query that never reaches it alone."""
    from dss_nlp_ingestion_spark import plans

    before = {n: plans._query_code_hash(n) for n in plans.QUERIES}
    real = plans._module_source
    monkeypatch.setattr(
        plans,
        "_module_source",
        lambda m: real(m) + ("\n# edited\n" if m == module else ""),
    )
    after = {n: plans._query_code_hash(n) for n in plans.QUERIES}
    for name in queries:
        assert after[name] != before[name], name
    assert after["q1_pricing_summary"] == before["q1_pricing_summary"]
