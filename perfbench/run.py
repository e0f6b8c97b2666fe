#!/usr/bin/env python3
"""Warm, seeded benchmark of the ``Pipeline.run`` path.

    python3 perfbench/run.py --workload contracts --seed 1 --seconds 20 --trace 0

One process generates the workload's input from ``--seed``, starts one
``local[nproc]`` Spark session, runs one cold pass (the set-up a one-shot
run pays), then runs warm passes until ``--seconds`` have elapsed.  Every pass is
checked against the truth the generator knows.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``).
``--trace 1`` turns on the Spark event log, wraps the engine's entry points
(``spans.py``), alternates traced and untraced passes, and reports the
per-layer metrics plus the tracing overhead; the spans and the per-phase
split are written to ``.perfbench_work/<run>/trace.json``.
``--workload all`` runs every workload, one child process each.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: inputs, pipeline outputs, Spark scratch and temp files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

WARMUP_PASSES = 1
MIN_PASSES = 1
#: stop starting passes after this many seconds of process life, so a
#: run on a slow host still ends well inside its time limit
DEADLINE_S = 140.0
DRIVER_MEMORY = "2g"

#: name -> unit, in the order they are printed
END_TO_END = {
    "run_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "spark_jobs": "count",
    "bytes_written_mb": "MB",
}


#: layer times that only some workloads reach.  They are printed and kept
#: in result.json, but left out of the JSON result line, where a layer
#: that a workload's path skips would read a constant 0.
PATH_SPECIFIC = {
    "steps.schema_s",
    "builtin_steps.check_unique_s",
    "column.compile_s",
    "plan.codegen_probe_s",
    "table_diff.run_s",
    "ops.text.s",
    "ops.dedup.s",
    "ops.cleaning.s",
    "ops.sampling.s",
    "ops.pii.s",
    "ops.similarity.s",
}


def per_layer_units() -> dict:
    units = {"session.start_s": "s"}
    for t_name, j_name in spans.LAYER_METRICS.values():
        units[t_name] = "s"
        if j_name:
            units[j_name] = "count"
    for name in spans.SPARK_METRICS:
        units[name] = (
            "MB" if name.endswith("_mb") else "count"
            if name in ("spark.stages", "spark.tasks") else "s"
        )
    units.update(
        {
            "spark.jobs": "count",
            "trace.run_s": "s",
            "trace.untraced_run_s": "s",
            "trace.overhead_s": "s",
            "trace.unattributed_s": "s",
        }
    )
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_CPUS": str(procfs.nproc()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            # no hsperfdata files in /tmp, JVM temp files under work/
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # Python workers unpickle the workloads' step functions by
            # module name
            "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the JVM takes its Python worker daemon down with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(values):
    return statistics.median(values) if values else 0.0


def run_one(args) -> int:
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    wl = workloads.load(args.workload)

    from phaser_spark import session

    import_s = procfs.seconds_since_process_start()

    host = {"nproc": procfs.nproc(), "loadavg_before": procfs.loadavg()}
    # the repo bench's single-core md5 chain, one repetition, before
    # Spark competes for cores; recorded, gates nothing
    import bench

    host["host_probe_s"] = bench.host_probe(reps=1)

    t = time.perf_counter()
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    inputs = wl.generate(args.seed, data_dir)
    gen_s = time.perf_counter() - t

    tracer = spans.Tracer()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: without it the JVM's resident size follows
        # G1's heap-growth timing, and peak_rss_mb spreads ~14% run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        spans.install(tracer)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    tracer.active = bool(args.trace)
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    tracer.active = False
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    tracer.sc = sc

    passes: list[dict] = []
    attempted = failed = 0

    def one_pass(index: int, traced: bool) -> dict:
        nonlocal attempted, failed
        pass_dir = os.path.join(work, "pass")
        shutil.rmtree(pass_dir, ignore_errors=True)
        group = f"pass-{index}"
        rec = {"index": index, "traced": traced, "problems": []}
        cpu0 = procfs.tree_cpu_seconds()
        t0 = time.perf_counter()
        if traced:
            tracer.active = True
            root = tracer.begin(f"pass {index}", "pass")
        else:
            sc.setJobGroup(group, group)
        try:
            result = wl.run_pass(spark, inputs, pass_dir)
        except Exception as e:  # a failed pass is counted, not fatal
            result = None
            rec["problems"].append(f"{type(e).__name__}: {e}")
        finally:
            if traced:
                tracer.end(root)
                tracer.active = False
                rec["root"] = root["id"]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procfs.tree_cpu_seconds() - cpu0
        if not traced:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["bytes"] = procfs.dir_bytes(pass_dir)
        if result is not None:
            try:
                rec["problems"] += wl.check(spark, inputs, result)
            except Exception as e:
                rec["problems"].append(f"check raised {type(e).__name__}: {e}")
        attempted += 1
        if rec["problems"]:
            failed += 1
            print(f"pass {index} failed: {rec['problems']}", file=sys.stderr)
        return rec

    warm = []
    for i in range(WARMUP_PASSES):
        if procfs.seconds_since_process_start() > DEADLINE_S / 2:
            break
        warm.append(one_pass(i, traced=False))
    setup_s = import_s + session_s + sum(r["wall_s"] for r in warm)

    t_measure = time.perf_counter()
    i = len(warm)
    while True:
        done = time.perf_counter() - t_measure >= args.seconds
        enough = len(passes) >= (2 * MIN_PASSES if args.trace else MIN_PASSES)
        if (done and enough) or procfs.seconds_since_process_start() > DEADLINE_S:
            break
        traced = bool(args.trace) and len(passes) % 2 == 0
        passes.append(one_pass(i, traced))
        i += 1
    peak_rss = procfs.tree_peak_rss_mb()
    stop_spark(spark)
    host["loadavg_after"] = procfs.loadavg()

    good = [p for p in passes if not p["problems"]] or passes
    untraced = [p for p in good if not p["traced"]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": wl.INPUT_ROWS,
        "host": host,
        "gen_s": gen_s,
        "import_s": import_s,
        "session_s": session_s,
        "warmup_s": [r["wall_s"] for r in warm],
        "peak_rss_mb": peak_rss,
        "passes": [{k: v for k, v in p.items() if k != "root"} for p in passes],
    }
    if args.trace:
        metrics, units = traced_metrics(tracer, event_dir, good, untraced, record)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({**record, "spans": tracer.spans}, f)
        shutil.rmtree(event_dir, ignore_errors=True)
    else:
        run_s = median([p["wall_s"] for p in untraced])
        metrics = {
            "run_s": run_s,
            "rows_per_s": wl.INPUT_ROWS / run_s,
            "cpu_s": median([p["cpu_s"] for p in untraced]),
            "setup_s": setup_s,
            "peak_rss_mb": sum(peak_rss.values()),
            "spark_jobs": median([p["jobs"] for p in untraced]),
            "bytes_written_mb": median([p["bytes"] for p in untraced]) / 2**20,
        }
        units = END_TO_END
    samples = len(untraced) if not args.trace else len(good) - len(untraced)
    fail_rate = failed / attempted if attempted else 1.0
    for name, value in metrics.items():
        print(f"{args.workload:<13} {name:<32} {value:>14.4f} {units[name]:<7} n={samples}")
    print(f"{args.workload:<13} {'fail_rate':<32} {fail_rate:>14.4f} {'ratio':<7} n={attempted}")
    print(
        f"{args.workload:<13} host nproc={host['nproc']} "
        f"load={host['loadavg_before'][0]:.2f}->{host['loadavg_after'][0]:.2f} "
        f"probe={host['host_probe_s']}s setup_s={setup_s:.2f} gen_s={gen_s:.2f}"
    )
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({**record, "metrics": metrics, "fail_rate": fail_rate}, f, indent=1)
    for sub in ("data", "pass", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()
                    if k not in PATH_SPECIFIC
                },
            }
        )
    )
    return 0


def traced_metrics(tracer, event_dir, good, untraced, record):
    """Per-layer medians over the traced passes, joined to the event log."""
    (name,) = os.listdir(event_dir)
    log = spans.SparkLog(spans.read_event_log(os.path.join(event_dir, name)))
    reduced = [spans.reduce_pass(tracer.spans, log, p["root"]) for p in good if p["traced"]]
    record["phases"] = [r["phases"] for r in reduced]
    units = per_layer_units()
    metrics = {
        name: median([r["metrics"][name] for r in reduced])
        for name in units
        if name in reduced[0]["metrics"]
    }
    session_spans = [s for s in tracer.spans if s["key"] == "session.start"]
    metrics["session.start_s"] = session_spans[0]["end"] - session_spans[0]["start"]
    metrics["trace.untraced_run_s"] = median([p["wall_s"] for p in untraced])
    metrics["trace.overhead_s"] = metrics["trace.run_s"] - metrics["trace.untraced_run_s"]
    return {k: metrics[k] for k in units}, units


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    lines, ok = [], True
    for name in workloads.NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        body = out.stdout.strip().splitlines()
        print("\n".join(body[:-1]))
        if out.returncode != 0 or not body:
            print(f"{name}: exit code {out.returncode}", file=sys.stderr)
            return out.returncode or 1
        result = json.loads(body[-1])
        ok = ok and result["correct"]
        lines.append((name, result))
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": sum(r["attempted"] for _, r in lines),
                "failed": sum(r["failed"] for _, r in lines),
                "metrics": {
                    f"{name}/{k}": v for name, r in lines for k, v in r["metrics"].items()
                },
            }
        )
    )
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "phaser_spark", "__init__.py")):
        print(f"perfbench: no phaser_spark package in {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
