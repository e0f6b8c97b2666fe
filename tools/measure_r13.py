"""Optimization measurement harness (guide §1).

For each bench query: capture .explain("formatted") into plans/<dir>/,
time N noop-sink runs (same methodology as bench.py), and count the
Spark jobs the query launches (driver-action pressure — localCheckpoint
/ eager counts / collects all show up here).  Writes a JSON summary to
tools/measure_out/<tag>.json.

Usage:
    python tools/measure_r13.py <tag> [query ...]      # default: all bench queries
Env:
    MEASURE_PLANS_DIR (default r13; r12 reproduces the round-12 plans/r12 dumps)
    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
    MEASURE_RUNS (default 3)
    MEASURE_PLANS (default 1; 0 skips plan capture)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES
from phaser_spark.session import get_spark


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "expand": len(re.findall(r"\bExpand\b", plan)),
        "python": len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "generate": len(re.findall(r"\bGenerate\b", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
    }


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "baseline"
    only = sys.argv[2:] or None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("MEASURE_RUNS", "3"))
    want_plans = os.environ.get("MEASURE_PLANS", "1") not in ("0", "")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(root, "plans", os.environ.get("MEASURE_PLANS_DIR", "r13"))
    out_dir = os.path.join(root, "tools", "measure_out")
    os.makedirs(plans_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name=f"measure_{tag}")
    sc = spark.sparkContext
    queries = entrymod.queries()
    names = [n for n in (only or BENCH_QUERIES) if n in queries]
    # warmup (bench methodology): every query once at sf0.001
    warm = "/root/testdata/sf0.001"
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for n in names:
        try:
            queries[n](spark, warm).write.mode("overwrite").format("noop").save()
        except Exception as e:
            print(f"# warmup error {n}: {e}", file=sys.stderr)
    spark.catalog.clearCache()

    results: dict[str, dict] = {}
    for n in names:
        fn = queries[n]
        rec: dict = {"times": []}
        # plan capture — build the DF once, untimed
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            rec["plan"] = plan_stats(plan)
            if want_plans:
                with open(os.path.join(plans_dir, f"{n}_{tag}.txt"), "w") as f:
                    f.write(plan)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
            results[n] = rec
            print(f"{n}: PLAN ERROR {e}", file=sys.stderr)
            continue
        spark.catalog.clearCache()
        for i in range(runs):
            sc.setJobGroup(f"{n}#{i}", f"measure {n} run {i}")
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                rec["times"].append(round(time.perf_counter() - t0, 3))
            except Exception as e:
                rec["error"] = f"{type(e).__name__}: {e}"
                break
            finally:
                sc.setJobGroup(None, None)
                spark.catalog.clearCache()
            if i == 0:
                tracker = sc.statusTracker()
                rec["jobs"] = len(tracker.getJobIdsForGroup(f"{n}#0"))
        if rec["times"]:
            rec["best"] = min(rec["times"])
        results[n] = rec
        print(f"{n:38s} best={rec.get('best', -1):7.3f} jobs={rec.get('jobs', '?'):>3} "
              f"exch={rec.get('plan', {}).get('exchanges', '?')}")
    total = round(sum(r.get("best", 0) for r in results.values()), 2)
    print(f"TOTAL(best) = {total}")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "runs": runs, "total_best": total, "queries": results}, f, indent=1)


if __name__ == "__main__":
    main()
