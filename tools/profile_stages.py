"""Round-13 stage-level profiler (guide §1, §7; VERDICT r12 item 1).

For each named query: split driver-side cost (DataFrame construction,
analysis+physical planning) from execution, and — via the Spark event
log — report per-stage task counts, per-stage wall time, total executor
task time, and the max/median task skew.  This answers the question the
job-count harness (tools/measure_r13.py) cannot: WHICH stage pins the
wall clock and whether it parallelizes.

Usage:
    python tools/profile_stages.py <tag> <query> [query ...]
Env:
    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
    PROFILE_RUNS (default 2; timed exec runs after one warm run)

Writes tools/measure_out/profile_<tag>.json and prints a per-stage table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from phaser_spark.session import get_spark


def parse_event_log(log_dir: str) -> list[dict]:
    """Per-stage records from every event-log file under log_dir."""
    stages: dict[tuple, dict] = {}
    tasks: dict[tuple, list] = {}
    paths = []
    for dirpath, _dirs, files in os.walk(log_dir):
        # event log v2 writes a directory per app: events_* files + an
        # appstatus marker; v1 writes a single file
        paths.extend(
            os.path.join(dirpath, fn)
            for fn in files
            if "appstatus" not in fn and not fn.startswith(".")
        )
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stages[key] = {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:90],
                        "tasks": si["Number of Tasks"],
                        "wall_ms": (si.get("Completion Time", 0) or 0)
                        - (si.get("Submission Time", 0) or 0),
                    }
                elif k == "SparkListenerTaskEnd":
                    si = ev["Stage ID"], ev["Stage Attempt ID"]
                    info = ev.get("Task Info") or {}
                    dur = (info.get("Finish Time", 0) or 0) - (
                        info.get("Launch Time", 0) or 0
                    )
                    tasks.setdefault(si, []).append(dur)
    out = []
    for key, rec in sorted(stages.items()):
        ts = sorted(tasks.get(key, []))
        if ts:
            rec["task_ms_sum"] = sum(ts)
            rec["task_ms_max"] = ts[-1]
            rec["task_ms_med"] = ts[len(ts) // 2]
        out.append(rec)
    return out


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("PROFILE_RUNS", "2"))
    log_dir = tempfile.mkdtemp(prefix="spark_evlog_")
    spark = get_spark(
        app_name=f"profile_{tag}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    queries = entrymod.queries()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, "tools", "measure_out")
    os.makedirs(out_dir, exist_ok=True)

    # warmup pass (bench methodology) so codegen/Arrow bring-up is paid
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            queries[n](spark, warm).write.mode("overwrite").format("noop").save()
        except Exception as e:
            print(f"# warmup error {n}: {e}", file=sys.stderr)
    spark.catalog.clearCache()

    results = {}
    for n in names:
        fn = queries[n]
        rec: dict = {}
        # driver-side decomposition: build (py4j construction) vs plan
        # (analysis + optimization + physical planning) vs execute
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rec["build_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        rec["plan_s"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        execs = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{n} exec {i}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            execs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        rec["exec_s"] = execs
        results[n] = rec
        print(f"{n}: build={rec['build_s']} plan={rec['plan_s']} exec={execs}")

    # flush the event log by stopping the session, then parse it
    spark.stop()
    print("# event log files:", os.listdir(log_dir), file=sys.stderr)
    stage_rows = parse_event_log(log_dir)
    print(f"{'stage':>5} {'tasks':>5} {'wall_ms':>8} {'sum_ms':>8} "
          f"{'max_ms':>7} {'med_ms':>7}  name")
    for r in stage_rows:
        print(
            f"{r['stage']:>5} {r['tasks']:>5} {r['wall_ms']:>8} "
            f"{r.get('task_ms_sum', 0):>8} {r.get('task_ms_max', 0):>7} "
            f"{r.get('task_ms_med', 0):>7}  {r['name']}"
        )
    with open(os.path.join(out_dir, f"profile_{tag}.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": results, "stages": stage_rows}, f, indent=1)
    if os.environ.get("PROFILE_KEEP_LOG", "") not in ("1", "true"):
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        print(f"# event log kept at {log_dir}", file=sys.stderr)


if __name__ == "__main__":
    main()
