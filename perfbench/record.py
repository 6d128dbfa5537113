"""Record a baseline: ten runs per workload, each with its own seed, and
per metric the median, quartiles and spread (interquartile range as a
share of the median), as the acceptance rule computes them, plus each
run's wall time and the host's CPU steal while it measured.

    python3 perfbench/record.py perfbench/BASELINE_4core.json

Runs one benchmark process at a time from the repository root.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SEEDS = range(1, 11)


def main(out_path: str) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    record = {
        "cpus": os.cpu_count(),
        "machine": platform.machine(),
        "run_seconds": bench["run_seconds"],
        "seeds": list(SEEDS),
        "recorded": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workloads": {},
    }
    for w in bench["workloads"]:
        name = w["name"]
        values: dict[str, list[float]] = {}
        walls, steal, failed, attempted = [], [], 0, 0
        for seed in SEEDS:
            t0 = time.monotonic()
            cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, check=True).stdout
            walls.append(time.monotonic() - t0)
            steal += [float(ln.split()[3]) for ln in out.splitlines() if ln.startswith("# host steal")]
            res = json.loads(out.strip().splitlines()[-1])
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(name, seed, f"{walls[-1]:.1f}s", json.dumps(res["metrics"]), flush=True)
        metrics = {}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            metrics[k] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / statistics.median(xs), "values": xs}
        record["workloads"][name] = {
            "failed": failed, "attempted": attempted,
            "run_wall_s": walls, "steal_pct": steal, "metrics": metrics,
        }
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
