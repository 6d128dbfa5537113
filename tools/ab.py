"""Paired A/B of two git refs on one ``perfbench`` workload.

Usage:
    python tools/ab.py REF_A REF_B --workload query_mix --seeds 1-10

Checks out both refs with ``git worktree add`` under one temp root
(removed at exit, SIGTERM included) and runs
``perfbench/run.py --workload W --seed S --seconds N --trace 0`` in
each, one pair per seed, with N the ``run_seconds`` of
``BENCHMARK.json``. Odd seeds run REF_A first and even seeds REF_B
first, so a drift in the host's speed during the window falls on both
sides alike. Each run prints one JSON line as it finishes; at the end,
per end-to-end metric of ``BENCHMARK.json``: the median of A with its
quartiles, the median of B, the change, and in how many pairs B beat A.
A run that exits non-zero or prints no result drops its pair from the
table and is counted as an error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"1-3,7"`` -> ``[1, 2, 3, 7]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_order(seed: int) -> tuple[str, str]:
    """The side that runs first: A on odd seeds, B on even ones."""
    return ("A", "B") if seed % 2 else ("B", "A")


def parse_result(stdout: str) -> dict:
    """``{metric: value, ..., "failed": n}`` from the JSON object on
    ``perfbench/run.py``'s last stdout line."""
    result = json.loads(stdout.strip().splitlines()[-1])
    values = {k: m["value"] for k, m in result["metrics"].items()}
    values["failed"] = result["failed"]
    return values


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(lower quartile, median, upper quartile)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """One row per metric in ``better`` (name -> ``"lower"`` or
    ``"higher"``) over the complete pairs ``(A values, B values)``:
    A's quartiles, B's median, and how many pairs B beat A in."""
    rows = []
    for name, direction in better.items():
        both = [(a[name], b[name]) for a, b in pairs if name in a and name in b]
        if not both:
            continue
        a_vals, b_vals = [a for a, _ in both], [b for _, b in both]
        q1, med_a, q3 = quartiles(a_vals)
        sign = -1 if direction == "lower" else 1
        rows.append({
            "metric": name,
            "a_median": med_a,
            "a_q1": q1,
            "a_q3": q3,
            "b_median": statistics.median(b_vals),
            "b_wins": sum(sign * (b - a) > 0 for a, b in both),
            "pairs": len(both),
        })
    return rows


def format_rows(rows: list[dict]) -> list[str]:
    lines = [f"{'metric':<20} {'A median (IQR)':>30} {'B median':>10} {'change':>8} {'B wins':>7}"]
    for r in rows:
        change = (r["b_median"] / r["a_median"] - 1) * 100 if r["a_median"] else float("nan")
        iqr = f"{r['a_median']:.6g} ({r['a_q1']:.6g}-{r['a_q3']:.6g})"
        lines.append(
            f"{r['metric']:<20} {iqr:>30} {r['b_median']:>10.6g} {change:>+7.1f}% "
            f"{r['b_wins']:>3}/{r['pairs']}"
        )
    return lines


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.Popen(
        cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
    )
    try:
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    if proc.returncode == 0:
        try:
            return parse_result(out)
        except (ValueError, KeyError, IndexError):
            pass
    print(err[-2000:], file=sys.stderr)
    return None


def main(argv=None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    args = ap.parse_args(argv)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    commits = {"A": _git("rev-parse", "--verify", f"{args.ref_a}^{{commit}}"),
               "B": _git("rev-parse", "--verify", f"{args.ref_b}^{{commit}}")}

    root = tempfile.mkdtemp(prefix="dss_ab_")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    checkouts: dict[str, str] = {}
    pairs: list[tuple[dict, dict]] = []
    errors = 0
    try:
        for side, commit in commits.items():
            path = os.path.join(root, side)
            _git("worktree", "add", "--detach", path, commit)
            checkouts[side] = path
        for seed in parse_seeds(args.seeds):
            got = {}
            for side in run_order(seed):
                got[side] = _run(checkouts[side], args.workload, seed, bench["run_seconds"])
                print(json.dumps({"seed": seed, "side": side, "ref": commits[side][:10],
                                  "result": got[side]}), flush=True)
            if got["A"] is None or got["B"] is None:
                errors += 1
            else:
                pairs.append((got["A"], got["B"]))
    finally:
        for path in checkouts.values():
            subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO,
                           capture_output=True)
        shutil.rmtree(root, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=REPO, capture_output=True)

    failed = {side: sum(p[i]["failed"] for p in pairs) for i, side in enumerate("AB")}
    print(f"# {args.workload}: A={args.ref_a} ({commits['A'][:10]}) "
          f"B={args.ref_b} ({commits['B'][:10]}), {len(pairs)} pairs, {errors} with a failed run, "
          f"failed operations A {failed['A']} B {failed['B']}")
    print("\n".join(format_rows(summarize(pairs, better))))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
