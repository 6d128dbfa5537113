"""Dump .explain("formatted") for registered queries + a plan-shape
summary (Exchange count, join strategies, Python-eval nodes, scan
pushdown), the on-demand view of what a plan looks like. Dumps are not
committed: a plan fact worth keeping goes into
tests/test_explain_plans.py.

Usage:
    python tools/dump_plans.py outdir [query ...]

With no query names, dumps every entry in the registry. Writes
<outdir>/<query>.txt and prints one summary line per query:
    name  n_exchange  n_pyeval  joins=...  codegen_spans=N

Plans are captured WITHOUT executing (explain only); split composites
(registry.SETUPS/PROBES) run their setup first — the probe's plan is
the one dumped. Queries whose setup itself fails are recorded with
the error text in the .txt file.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dss_nlp_ingestion_spark.plans import QUERIES  # noqa: E402
from dss_nlp_ingestion_spark.plans.registry import PROBES, SETUPS  # noqa: E402
from dss_nlp_ingestion_spark.session import get_spark, release_cached  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def plan_text(spark, name: str) -> str:
    if name in SETUPS:
        ctx = SETUPS[name](spark, SF_DIR)
        df = PROBES[name](spark, ctx)
    else:
        df = QUERIES[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def summarize(txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    n_py = len(
        re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapCoGroupsInPandas|FlatMapGroupsInPandas", txt)
    )
    joins = sorted(
        set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", txt))
    )
    n_cg = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", txt)))
    n_scan = len(re.findall(r"Scan parquet", txt))
    return (
        f"ex={n_ex} py={n_py} cg={n_cg} scans={n_scan} "
        f"joins={','.join(j[0] for j in [j.replace('Broadcast','B').replace('SortMerge','SM').replace('Shuffled','SH') for j in joins]) or '-'} "
        f"[{';'.join(joins)}]"
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    outdir = sys.argv[1]
    names = sys.argv[2:] or list(QUERIES)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(
        app_name="dss-plan-dump",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            txt = plan_text(spark, name)
            print(f"{name}\t{summarize(txt)}", flush=True)
        except Exception as exc:  # noqa: BLE001 — record and continue
            txt = f"PLAN FAILED: {type(exc).__name__}: {exc}"
            print(f"{name}\tERROR {type(exc).__name__}", flush=True)
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(txt + "\n")
        release_cached(spark)
    spark.stop()


if __name__ == "__main__":
    main()
