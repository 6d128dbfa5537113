"""The benchmark workloads.

Each workload has a set-up (``build``: the fixture a run needs, built
through the same engine path the operations use, which warms that
path), an optional warm-up operation, and a measured loop. Operations
are timed without their correctness checks; checks feed ``failed``.

- ``upsert_stream``: an open loop of one-source micro-batches at a fixed
  arrival interval into a warm store; each batch is parsed, deduped
  (history, exact, LSH + connected components), enriched and MERGEd on
  the article key, the new version is read back, and retention
  (``checkpoint_log`` + ``vacuum_retain``) runs. Fixed costs per batch
  bind.
- ``query_mix``: a closed loop with one client over a compacted,
  checkpointed store. An operation is one rotation of six queries: BM25,
  brute-force and IVF vector top-k, ticker -> sector majority vote, a
  per-source daily profile, and a time-travel count. No writes: the
  control for ingest-side changes.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from dataclasses import dataclass

from check import (
    Checker,
    bm25_sql,
    brute_force_expected,
    check_ivf,
    daily_sql,
    diff_store,
    same_rows,
    sector_sql,
    text_hash,
    vectors,
)
from gen import Batch, PayloadGen, Rates
from pipeline import SECTOR_THRESHOLD, TOP_K, Pipeline, store_bytes

from dss_nlp_ingestion_spark.sources import txlog

#: Input properties per workload (README.md lists them too). The
#: reference system publishes none of these rates.
RATES = {
    "upsert_stream": Rates(resend=0.10, neardup=0.10, revise=0.60, zipf_ticker=1.1, zipf_term=1.0),
    "query_mix": Rates(resend=0.0, neardup=0.0, revise=0.0, zipf_ticker=1.1, zipf_term=1.1),
}
UPSERT_STORE_ARTICLES = 400
#: Source of each measured micro-batch, in order; the set-up batch is a
#: newsfilter page. The smaller aastocks page comes first, so the first
#: page is done before the second is due.
ROTATION = ("aastocks", "eastmoney", "newsfilter")
#: Open-loop arrival interval. The first measured page takes 10-15 s with
#: its reads and retention on a 4-core host (the JVM is still warming),
#: so arrivals stay at or below the sustainable rate.
BATCH_INTERVAL_S = 15.0
#: The read-after-commit query runs this many times on each new version,
#: so the read latencies of a run rest on more than two samples.
READS_PER_COMMIT = 4
KEEP_VERSIONS = 2  # retention after every batch keeps this many versions
QUERY_STORE_ARTICLES = 400  # one commit, then compacted
QUERY_KINDS = ("bm25", "brute_force", "ivf", "sector_mix", "daily_profile", "time_travel")


@dataclass
class Op:
    """One timed operation."""

    latency_s: float  # what op_p50 reports
    read_s: list[float]  # latencies of the single queries in it
    docs: int  # documents written or covered
    service_s: float  # busy time (latency minus open-loop lateness)
    cpu_s: float  # process-tree CPU while it ran
    late_s: float = 0.0  # how late the open-loop generator started it


class Workload:
    name = ""

    def __init__(self, seed: int, root: str, checker: Checker):
        self.seed = seed
        self.root = root
        self.chk = checker
        self.gen = PayloadGen(seed, RATES[self.name])
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.root, f"{tag}-{self._dirs}")

    def build(self, pl: Pipeline) -> None:
        """Build the set-up fixture."""

    #: Run ``warm`` before the untraced window too. Only query_mix does:
    #: its window holds many short operations that a cold first
    #: rotation would skew, while one more micro-batch does not fit the
    #: run's time budget.
    warm_before_timing = False

    def warm(self, pl: Pipeline) -> None:
        """One untimed operation, so first-use compilation is done."""

    def ops(self, pl: Pipeline, deadline: float, timed):
        """Yield measured operations until ``deadline``. ``timed`` wraps
        the measured part of each operation (CPU and RSS sampling)."""
        raise NotImplementedError

    def attempt(self, what: str, op):
        """Run one operation; one that raises counts as failed and the
        loop goes on."""
        try:
            return op()
        except Exception:  # noqa: BLE001 - a failed operation must not end the run
            traceback.print_exc()
            self.chk.record(what, False, "raised")
            return None

    def store_bytes_per_doc(self) -> float:
        raise NotImplementedError

    def log_versions(self) -> int:
        return len(txlog.history(self.path))


def _now() -> float:
    return time.perf_counter()


class UpsertStream(Workload):
    name = "upsert_stream"

    def build(self, pl):
        """The warm store: one commit of the base articles, then one
        micro-batch through the upsert path, which compiles and warms
        every stage the measured batches take."""
        self.path = self.fresh_dir("store")
        base = self.gen.fresh(UPSERT_STORE_ARTICLES)
        pl.load_store([base.payloads], self.path)
        self.state = {a.key: a for a in base.articles}
        self._batch(pl, _now(), _untimed, "newsfilter")
        self.chk.run("upsert_stream.setup", self._check_store)

    def _expect(self, batch: Batch) -> dict:
        """Rows an upsert writes: unchanged re-sends are dropped by the
        content-hash filter, the rest is near-dup clustered."""
        seen = {text_hash(a) for a in self.state.values()}
        incoming = {a.key: a for a in batch.articles if text_hash(a) not in seen}
        drop = self.chk.near_dup_drops({k: a.text for k, a in incoming.items()})
        return {k: a for k, a in incoming.items() if k not in drop}

    def _batch(self, pl, due: float, timed, form: str) -> Op:
        batch = self.gen.micro_batch(list(self.state.values()), form)
        keys = sorted({a.key for a in batch.articles})
        while (wait := due - _now()) > 0:
            time.sleep(wait)
        reads = []
        with timed() as t:
            start = _now()
            res = pl.upsert(batch.payloads, self.path)
            commit = _now()
            for _ in range(READS_PER_COMMIT):
                r0 = _now()
                rows = pl.read_keys(self.path, res["version"], keys)
                reads.append(_now() - r0)
        written = self._expect(batch)
        self.state.update(written)
        want = sorted((k, text_hash(self.state[k])) for k in keys if k in self.state)
        self.chk.run("upsert_stream.batch", lambda: (sorted(rows) == want, f"{len(rows)} rows, want {len(want)}"))
        pl.retention(self.path, KEEP_VERSIONS)
        return Op(commit - due, reads, len(written), commit - start, t.cpu_s, start - due)

    def warm(self, pl):
        self._batch(pl, _now(), _untimed, "newsfilter")

    def ops(self, pl, deadline, timed):
        # the form rotates from the same start in every window, so the
        # untraced and traced halves of a traced run hold the same forms
        t0 = _now()
        i = 0
        while (due := t0 + i * BATCH_INTERVAL_S) < deadline:
            form = ROTATION[i % len(ROTATION)]
            if op := self.attempt("upsert_stream.batch", lambda: self._batch(pl, due, timed, form)):
                yield op
            i += 1
        self.chk.run("upsert_stream.store", self._check_store)

    def _check_store(self):
        self.chk.snapshot(txlog.snapshot_files(self.path))
        return diff_store(self.chk, {k: text_hash(a) for k, a in self.state.items()})

    def store_bytes_per_doc(self):
        return store_bytes(self.path) / len(self.state)


class QueryMix(Workload):
    name = "query_mix"
    warm_before_timing = True

    def build(self, pl):
        self.path = self.fresh_dir("store")
        pl.load_store([self.gen.fresh(QUERY_STORE_ARTICLES).payloads], self.path, compact=True)
        self.n_docs = QUERY_STORE_ARTICLES
        self.chk.snapshot(txlog.snapshot_files(self.path))
        self.chk.con.execute("CREATE OR REPLACE TABLE universe (ticker_symbol VARCHAR, icb_code INTEGER)")
        self.chk.con.executemany("INSERT INTO universe VALUES (?, ?)", self.gen.universe())
        self.vecs = vectors(self.chk)
        # query popularity: Zipf over a seeded ranking of stored documents
        self.ranked_ids = sorted(self.vecs)
        random.Random(self.seed).shuffle(self.ranked_ids)
        self.i = 0

    def _window(self) -> tuple[str, str]:
        day = 1 + self.gen.rng.randrange(20)
        return f"2024-01-{day:02d} 00:00:00", f"2024-01-{day + 7:02d} 00:00:00"

    def _query_ids(self) -> list[int]:
        ids = {self.ranked_ids[self.gen.word_rank.draw(self.gen.rng) % len(self.ranked_ids)] for _ in range(4)}
        return sorted(ids)

    def _query(self, pl, timed) -> tuple[float, float]:
        """Run, time and check the next query kind: (latency, CPU) s."""
        kind = QUERY_KINDS[self.i % len(QUERY_KINDS)]
        self.i += 1
        if kind == "bm25":
            arg = [(q, self.gen.query_terms(self.gen.rng.randint(2, 3))) for q in (1, 2)]
            run, want = (lambda: pl.bm25(self.path, arg)), (lambda: self.chk.con.execute(bm25_sql(arg, TOP_K)).fetchall())
        elif kind in ("brute_force", "ivf"):
            arg = self._query_ids()
            run = (lambda: pl.brute_force(self.path, arg)) if kind == "brute_force" else (lambda: pl.ivf(self.path, arg))
            want = lambda: brute_force_expected(self.vecs, arg, TOP_K)  # noqa: E731
        elif kind == "sector_mix":
            arg = self._window()
            run, want = (lambda: pl.sector_mix(self.path, *arg)), (lambda: self.chk.con.execute(sector_sql(*arg, SECTOR_THRESHOLD)).fetchall())
        elif kind == "daily_profile":
            arg = self._window()
            run, want = (lambda: pl.daily_profile(self.path, *arg)), (lambda: self.chk.con.execute(daily_sql(*arg)).fetchall())
        else:
            arg = self.gen.rng.randrange(2)
            # version 0 is the pre-compaction snapshot, 1 the compacted one
            run, want = (lambda: pl.time_travel(self.path, arg)), (lambda: [(self.n_docs,)])
        with timed() as t:
            t0 = _now()
            got = run()
            dt = _now() - t0
        if kind == "ivf":
            self.chk.run("query_mix.ivf", lambda: check_ivf(self.vecs, got, arg, TOP_K))
        elif kind == "time_travel":
            self.chk.run("query_mix.time_travel", lambda: (got == want()[0][0], f"{got}"))
        else:
            self.chk.run(f"query_mix.{kind}", lambda: same_rows(got, want(), rel=1e-9 if kind == "daily_profile" else 0.0))
        return dt, t.cpu_s

    def _rotation(self, pl, timed) -> Op:
        """One pass over the query kinds. Whole rotations keep every kind
        at the same weight in each run, and a rotation's latency does not
        jump when the median query falls from one kind to the next."""
        lat, cpu = [], 0.0
        for _ in QUERY_KINDS:
            if q := self.attempt("query_mix.query", lambda: self._query(pl, timed)):
                lat.append(q[0])
                cpu += q[1]
        return Op(sum(lat), lat, self.n_docs * len(lat), sum(lat), cpu)

    def warm(self, pl):
        self._rotation(pl, _untimed)

    def ops(self, pl, deadline, timed):
        while _now() < deadline:
            yield self._rotation(pl, timed)

    def store_bytes_per_doc(self):
        return store_bytes(self.path) / self.n_docs


WORKLOADS = {w.name: w for w in (UpsertStream, QueryMix)}


class _Untimed:
    cpu_s = 0.0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _untimed():
    return _Untimed()
