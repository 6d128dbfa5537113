"""Pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 16 --trace 0

Run from the repository root. Starts a ``local[4]`` session, builds the
workload's fixture, measures operations for ``--seconds`` and checks
every result.
With ``--trace 0`` the last stdout line is a JSON object holding every
end-to-end metric; with ``--trace 1`` half the window runs untraced and
half traced, and the JSON holds the per-layer metrics. Every store,
payload and trace lives under one temporary directory inside the
checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CPUS = 4
SHUFFLE_PARTITIONS = 4
HEAP = "1g"  # Spark's default driver heap
RUN_LIMIT_S = 170  # hard stop, below the 180 s a run may take

#: end-to-end metrics: name -> unit (every workload reports all of them)
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
    "store_bytes_per_doc": "B/doc",
}
LAYERS = (
    "session", "sources.parsers", "operators.dedup", "operators.graph", "functions.nlp",
    "sources.txlog", "operators.fulltext", "operators.similarity", "operators.relational",
)
COMMON = (
    "calls", "build_ms", "self_ms", "rows_out", "spark_jobs", "tasks", "executor_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "spill_bytes", "task_max_over_median", "scan_rows_per_result",
)
SPECIFIC = {
    "operators.dedup": ("exact_dropped", "history_dropped", "lsh_candidate_pairs", "verified_pairs", "pair_yield"),
    "operators.graph": ("components",),
    "functions.nlp": ("pyworker_cpu_ms",),
    "sources.txlog": (
        "commits", "bytes_written", "write_amp", "merge_files_touched", "merge_prune_frac",
        "log_versions", "snapshot_ms", "vacuum_files_removed",
    ),
    "session": ("start_ms",),
}
BENCH = ("self_ms", "traced_wall_ms", "trace_overhead_pct", "generator_late_ms")
RATIOS = ("task_max_over_median", "scan_rows_per_result", "pair_yield", "write_amp", "merge_prune_frac")


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON + SPECIFIC.get(layer, ())]
    return names + [f"bench.{m}" for m in BENCH]


def per_layer_unit(name: str) -> str:
    m = name.rsplit(".", 1)[-1]
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("_pct"):
        return "%"
    if "bytes" in m:
        return "bytes"
    return "ratio" if m in RATIOS else "count"


def percentile(xs: list[float], p: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


# --- session lifetime ------------------------------------------------------------


def start_session(root: str, ui: bool):
    from dss_nlp_ingestion_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            # the machine is shared: cap the heap well below the
            # engine's default. The heap is sized and touched up front,
            # as a long-running service's would be, so peak RSS moves
            # with memory outside the Java heap (Python workers, native
            # buffers) instead of with when the JVM grew its heap; heap
            # pressure shows as gc_ms.
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root} -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            # the web UI serves the REST status API that tracing reads;
            # untraced runs skip starting it
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop Spark, the JVM and every process this run started, and wait
    for each to end."""
    from pyspark import SparkContext

    from probe import tree_pids

    def best_effort(call) -> None:
        # a signal that interrupted a py4j call leaves the gateway
        # unusable: then calls through it fail, and closing the JVM's
        # stdin below still ends the JVM
        try:
            call()
        except Exception:  # noqa: BLE001 - teardown goes on to stop the processes
            traceback.print_exc()

    if spark is not None:
        best_effort(spark.stop)
    gw = SparkContext._gateway
    if gw is not None:
        best_effort(gw.shutdown)
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while (kids := [p for p in tree_pids(os.getpid()) if p != os.getpid()]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in kids:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


# --- metrics -----------------------------------------------------------------------


def end_to_end(setup_s: float, ops, rss_peak_mb: float, store_bpd: float) -> dict[str, float]:
    lat = [o.latency_s * 1000 for o in ops]
    return {
        "setup_s": setup_s,
        "docs_per_s": sum(o.docs for o in ops) / sum(o.service_s for o in ops),
        "op_p50_ms": statistics.median(lat),
        "cpu_ms_per_op": sum(o.cpu_s for o in ops) * 1000 / len(ops),
        "peak_rss_mb": rss_peak_mb,
        "store_bytes_per_doc": store_bpd,
    }


def per_layer(tracer, groups: dict, session_ms: float, extra: dict) -> dict[str, float]:
    from probe import self_times

    selfs = self_times(tracer.spans)
    out = {name: 0.0 for name in per_layer_names()}
    for layer in LAYERS[1:]:
        spans = [s for s in tracer.spans if s.layer == layer]
        m = {k: 0.0 for k in COMMON}
        counters: dict[str, float] = {}
        skew, scanned = 0.0, 0
        for s in spans:
            m["calls"] += 1
            m["build_ms"] += ((s.build_end or s.end) - s.start) * 1000
            m["self_ms"] += selfs[s.sid] * 1000
            m["rows_out"] += s.rows_out or 0
            for k, v in s.counters.items():
                counters[k] = counters.get(k, 0) + v
            g = groups.get(s.group)
            if g is None:
                continue
            m["spark_jobs"] += g["jobs"]
            m["tasks"] += g["numCompleteTasks"]
            m["executor_cpu_ms"] += g["executorCpuTime"] / 1e6
            m["gc_ms"] += g["jvmGcTime"]
            m["shuffle_write_bytes"] += g["shuffleWriteBytes"]
            m["spill_bytes"] += g["memoryBytesSpilled"] + g["diskBytesSpilled"]
            scanned += g["inputRecords"]
            for med, mx in g["task_quantiles"]:
                if med > 0:
                    skew = max(skew, mx / med)
        m["task_max_over_median"] = skew
        m["scan_rows_per_result"] = scanned / m["rows_out"] if m["rows_out"] else 0.0
        if layer == "operators.dedup":
            cand = counters.get("lsh_candidate_pairs", 0)
            counters["pair_yield"] = counters.get("verified_pairs", 0) / cand if cand else 0.0
        if layer == "sources.txlog":
            sub = counters.get("rows_submitted", 0)
            counters["write_amp"] = counters.get("rows_written", 0) / sub if sub else 0.0
            tot = counters.get("merge_files_total", 0)
            counters["merge_prune_frac"] = counters.get("merge_files_skipped", 0) / tot if tot else 0.0
            n_snap = counters.get("snapshots", 0)
            counters["snapshot_ms"] = counters.get("snapshot_ms", 0) / n_snap if n_snap else 0.0
            counters["log_versions"] = extra["log_versions"]
        for k, v in m.items():
            out[f"{layer}.{k}"] = v
        for k in SPECIFIC.get(layer, ()):
            out[f"{layer}.{k}"] = counters.get(k, 0)
    out["session.calls"] = 1
    out["session.start_ms"] = out["session.build_ms"] = out["session.self_ms"] = session_ms
    roots = [s for s in tracer.spans if s.parent is None]
    out["bench.traced_wall_ms"] = sum(s.end - s.start for s in roots) * 1000
    out["bench.self_ms"] = sum(selfs[s.sid] for s in tracer.spans if s.layer == "bench") * 1000
    out.update({f"bench.{k}": v for k, v in extra.items() if k != "log_versions"})
    return out


# --- one run -----------------------------------------------------------------------


def run(args, root: str) -> tuple[dict, list[str]]:
    from check import Checker
    from pipeline import Pipeline
    from probe import RssSampler, StageCollector, Timed, Tracer, cpu_jiffies, tree_cpu_s
    from pyspark import SparkContext
    from workloads import WORKLOADS

    pid = os.getpid()
    chk = Checker()
    wl = WORKLOADS[args.workload](args.seed, root, chk)
    tracer = Tracer()
    spark = None

    try:
        t0 = time.perf_counter()
        spark = start_session(root, ui=bool(args.trace))
        session_ms = (time.perf_counter() - t0) * 1000
        jvm = SparkContext._gateway.proc.pid
        pl = Pipeline(spark, tracer, wl.gen.universe(), lambda: tree_cpu_s(jvm, include_root=False))
        wl.build(pl)
        setup_s = time.perf_counter() - t0
        if args.trace or wl.warm_before_timing:
            # with tracing, the untraced and traced halves compare warm
            # operations
            wl.warm(pl)

        with RssSampler(pid) as rss:
            n_op = 0

            @contextmanager
            def timed():
                nonlocal n_op
                n_op += 1
                tracer.op = f"op-{n_op}"
                with tracer.span("bench", "op"), Timed(pid, rss) as t:
                    yield t

            seconds = args.seconds / 2 if args.trace else args.seconds
            jiffies0 = cpu_jiffies()
            ops = list(wl.ops(pl, time.perf_counter() + seconds, timed))
            steal, total = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
            lines = [
                f"# {args.workload}: {len(ops)} operations",
                # time the hypervisor gave the host's CPUs to other guests
                f"# host steal {100 * steal / max(1, total):.1f} % of CPU time while measuring",
            ]
            if not args.trace:
                metrics = end_to_end(setup_s, ops, rss.peak_mb, wl.store_bytes_per_doc())
                units = END_TO_END
            else:
                tracer.sc, tracer.enabled = spark.sparkContext, True
                traced = list(wl.ops(pl, time.perf_counter() + seconds, timed))
                tracer.enabled = False
                sc = spark.sparkContext
                groups = StageCollector(sc.uiWebUrl, sc.applicationId).by_group()
                untraced_ms = statistics.median(o.latency_s for o in ops) * 1000
                traced_ms = statistics.median(o.latency_s for o in traced) * 1000
                extra = {
                    "trace_overhead_pct": (traced_ms / untraced_ms - 1) * 100,
                    "generator_late_ms": statistics.median(o.late_s for o in ops) * 1000,
                    "log_versions": wl.log_versions(),
                }
                metrics = per_layer(tracer, groups, session_ms, extra)
                units = {k: per_layer_unit(k) for k in metrics}
                trace_path = os.path.join(root, f"trace-{args.workload}-{args.seed}.jsonl")
                tracer.dump(trace_path)
                if args.trace_file:
                    shutil.copyfile(trace_path, args.trace_file)
                lines.append(f"# traced: {len(traced)} operations, {len(tracer.spans)} spans")
            if ops:
                lates = [o.late_s * 1000 for o in ops]
                lines.append(f"# generator lateness p50 {statistics.median(lates):.1f} ms, max {max(lates):.1f} ms")
                # printed, not reported: too few samples for a p90, and the
                # short reads spread past the bound across runs
                lat = [o.latency_s * 1000 for o in ops]
                lines.append(f"# op p90 {percentile(lat, 90):.1f} ms over {len(lat)} operations")
                reads = [r * 1000 for o in ops for r in o.read_s]
                lines.append(
                    f"# read p50 {statistics.median(reads):.1f} ms, p90 {percentile(reads, 90):.1f} ms over {len(reads)} reads"
                )
    finally:
        chk_summary = (chk.attempted, chk.failed)
        chk.close()
        stop_everything(spark)

    attempted, failed = chk_summary
    lines.append(f"# failed_frac {failed / max(1, attempted):.4f} ({failed}/{attempted})")
    lines += [f"{k} {v:.6g} {units[k]}" for k, v in metrics.items()]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file", help="copy the span trace (JSON lines) here")
    args = ap.parse_args(argv)

    root = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=REPO)
    os.environ["TMPDIR"] = root
    # every JVM of the run (Spark's launcher too) would otherwise write a
    # perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = root

    # SystemExit, not an Exception: the per-operation failure handlers
    # must not swallow it
    signal.signal(signal.SIGALRM, lambda *_: sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s"))
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.alarm(RUN_LIMIT_S)
    try:
        result, lines = run(args, root)
    finally:
        signal.alarm(0)
        shutil.rmtree(root, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, REPO]
    try:
        import dss_nlp_ingestion_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not in this checkout ({exc})", file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(dss_nlp_ingestion_spark.__file__).startswith(REPO + os.sep):
        print("perfbench: the engine package must come from this checkout", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
