"""Outside-in probe: span recorder, Spark REST stage collector keyed by
job group, and a /proc process-tree CPU and RSS reader.

Spans are recorded from the benchmark's own files around each call into
an engine layer. With tracing on, every span runs under its own Spark
job group, so the stages a span caused can be looked up afterwards in
the REST status API (``sc.uiWebUrl``). Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
RSS_PERIOD_S = 0.05
SETTLE_TIMEOUT_S = 20.0


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    build_end: float | None = None
    rows_out: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.sid}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Seconds of each span not covered by its direct children.

    Children are clipped to the parent's interval and overlapping
    children are merged first, so the self times of a span tree add up
    to the root spans' durations."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


class _Handle:
    """What a ``with tracer.span(...)`` block receives."""

    def __init__(self, span: Span | None):
        self.span = span

    def done(self, df):
        """Mark the end of plan construction. With tracing on, the
        layer's lazy output is materialized here (local checkpoint plus
        a row count), so its cost lands in this span; with tracing off
        the plan stays fused and ``df`` is returned untouched."""
        if self.span is None:
            return df
        self.span.build_end = time.perf_counter()
        df = df.localCheckpoint()
        self.span.rows_out = df.count()
        return df

    def built(self) -> None:
        """Mark the end of plan construction for a span that executes
        its own action (a collect or count)."""
        if self.span is not None:
            self.span.build_end = time.perf_counter()

    @property
    def rows(self) -> int | None:
        return self.span.rows_out if self.span is not None else None

    def count(self, key: str, value) -> None:
        """Add to a span counter. ``value`` may be a callable, evaluated
        only with tracing on (counters that cost a Spark job)."""
        if self.span is not None:
            v = value() if callable(value) else value
            self.span.counters[key] = self.span.counters.get(key, 0) + v


class Tracer:
    """Span recorder. Disabled, every ``span`` is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: str | None = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield _Handle(None)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent.sid if parent else None, self.op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, f"{layer}:{name}")
        try:
            yield _Handle(s)
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# --- REST stage collector ----------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputRecords",
    "numCompleteTasks",
)


class StageCollector:
    """Reads jobs and stages from the Spark REST status API and folds
    them per job group."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener has recorded every finished job."""
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while time.monotonic() < deadline:
            jobs = self._get("/jobs")
            if all(j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs):
                return
            time.sleep(0.1)

    def by_group(self) -> dict[str, dict]:
        """job group -> summed stage metrics plus job/stage counts and
        the per-stage task-time quantiles (median, max)."""
        self.settle()
        attempts: dict[int, list[dict]] = {}
        for st in self._get("/stages?details=false"):
            if st["status"] == "COMPLETE":
                attempts.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict] = {}
        seen: set[int] = set()
        # a reused shuffle stage is listed again (as skipped) by later
        # jobs: count each stage once, for the first job that ran it
        for job in sorted(self._get("/jobs"), key=lambda j: j["jobId"]):
            g = job.get("jobGroup")
            if g is None:
                continue
            agg = out.setdefault(g, {f: 0 for f in STAGE_FIELDS} | {"jobs": 0, "task_quantiles": []})
            agg["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in attempts.get(sid, []):
                    for f in STAGE_FIELDS:
                        agg[f] += st.get(f, 0)
                    q = self._get(f"/stages/{sid}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
                    agg["task_quantiles"].append(tuple(q["executorRunTime"]))
        return out


# --- /proc process tree ------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int, include_root: bool = True) -> float:
    """User+system CPU seconds of the live process tree under ``root``,
    including reaped children (the JVM, its Python worker daemon and
    workers, and this driver)."""
    total = 0
    for p in tree_pids(root):
        if p == root and not include_root:
            continue
        f = _stat(p)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def tree_rss_kb(root: int) -> dict[int, int]:
    """RSS in KiB of each live process in the tree under ``root``."""
    out = {}
    for p in tree_pids(root):
        f = _stat(p)
        if f is not None:
            out[p] = int(f[21]) * _PAGE_KB  # rss pages, field 24
    return out


def persistent_rss_mb(now: dict[int, int], before: dict[int, int]) -> float:
    """Summed RSS of the processes present in both samples. A process
    seen once is a short-lived spawn child: between clone and exec it
    reports its parent's whole RSS (a JVM forking a helper would count
    twice)."""
    return sum(kb for p, kb in now.items() if p in before) / 1024.0


class RssSampler:
    """Background sampler of the process tree's summed RSS, taken only
    while ``active`` is set (inside timed operations)."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        before: dict[int, int] = {}
        while not self._stop.is_set():
            now = tree_rss_kb(self.root)
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, persistent_rss_mb(now, before))
            before = now
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Timed:
    """Context for one measured operation: process-tree CPU seconds and
    RSS sampling while it runs."""

    def __init__(self, root: int, rss: RssSampler):
        self.root, self.rss = root, rss
        self.cpu_s = 0.0

    def __enter__(self):
        self._c0 = tree_cpu_s(self.root)
        self.rss.active.set()
        return self

    def __exit__(self, *exc):
        self.rss.active.clear()
        self.cpu_s = tree_cpu_s(self.root) - self._c0
        return False
