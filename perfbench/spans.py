"""Spans around ``phaser_spark`` entry points, joined to the Spark event log.

A traced run wraps the public entry points of each engine module (see
:data:`ENTRY_POINTS`) from the benchmark's own code; the engine itself is
not modified.  Each call opens a span that records its name, its metric
key, its parent, its wall-clock interval, and a Spark job group that is
set for the span's duration.  Every Spark job carries the job group of the
innermost open span, so after the run the event log attributes each job,
stage and task to exactly one span.

A span's *self* time is its interval minus the union of its children's
intervals, so the self times of all spans under a root add up to the
root's duration.  Per-layer metrics are sums of self times and self jobs
over the spans that share a metric key.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time

#: (module, attribute or "Class.method", metric key).  Every public
#: function of the ``ops`` modules is wrapped as well (see ``OPS_MODULES``).
ENTRY_POINTS = [
    ("phaser_spark.session", "get_spark", "session.start"),
    ("phaser_spark.pipeline", "Pipeline.run", "pipeline.run"),
    ("phaser_spark.pipeline", "Pipeline.run_phase", "pipeline.run_phase"),
    ("phaser_spark.pipeline", "Pipeline.report_errors_and_warnings", "pipeline.report"),
    ("phaser_spark.phase", "Phase.run", "phase.build"),
    ("phaser_spark.context", "Context.phase_has_errors", "context.has_errors"),
    ("phaser_spark.steps", "infer_row_step_schema", "steps.schema"),
    ("phaser_spark.column", "Column.compile", "column.compile"),
    ("phaser_spark.plan", "warn_if_codegen_fallback", "plan.codegen_probe"),
    ("phaser_spark.lineage", "with_row_numbers", "lineage.number"),
    ("phaser_spark.lineage", "renumber", "lineage.number"),
    ("phaser_spark.lineage", "number_new_rows", "lineage.number"),
    ("phaser_spark.io", "save_any", "io.save"),
    ("phaser_spark.io", "save_csv", "io.save"),
    ("phaser_spark.io", "save_json", "io.save"),
    ("phaser_spark.io", "save_parquet", "io.save"),
    ("phaser_spark.io", "load_any", "io.load"),
    ("phaser_spark.io", "read_csv", "io.load"),
    ("phaser_spark.io", "read_json", "io.load"),
    ("phaser_spark.table_diff", "IndexedTableDiffer.run", "table_diff.run"),
]

#: builtin step factories: the factory is cheap, the returned step is
#: what runs inside ``Phase.run``, so the step is wrapped
STEP_FACTORIES = [
    ("phaser_spark.builtin_steps", "check_unique", "builtin_steps.check_unique"),
]

OPS_MODULES = ["text", "dedup", "cleaning", "sampling", "pii", "similarity"]

#: metric key -> (time metric, jobs metric or None)
LAYER_METRICS = {
    "phase.build": ("phase.build_s", "phase.build_jobs"),
    "steps.schema": ("steps.schema_s", "steps.schema_jobs"),
    "pipeline.run": ("pipeline.run_s", "pipeline.run_jobs"),
    "pipeline.run_phase": ("pipeline.run_phase_s", "pipeline.self_jobs"),
    "pipeline.report": ("pipeline.report_s", "pipeline.report_jobs"),
    "context.has_errors": ("context.has_errors_s", "context.has_errors_jobs"),
    "builtin_steps.check_unique": (
        "builtin_steps.check_unique_s",
        "builtin_steps.check_unique_jobs",
    ),
    "lineage.number": ("lineage.number_s", "lineage.number_jobs"),
    "column.compile": ("column.compile_s", None),
    "plan.codegen_probe": ("plan.codegen_probe_s", None),
    "io.save": ("io.save_s", "io.save_jobs"),
    "io.load": ("io.load_s", None),
    "table_diff.run": ("table_diff.run_s", "table_diff.jobs"),
    "ops.text": ("ops.text.s", None),
    "ops.dedup": ("ops.dedup.s", "ops.dedup.jobs"),
    "ops.cleaning": ("ops.cleaning.s", "ops.cleaning.jobs"),
    "ops.sampling": ("ops.sampling.s", "ops.sampling.jobs"),
    "ops.pii": ("ops.pii.s", None),
    "ops.similarity": ("ops.similarity.s", "ops.similarity.jobs"),
}

SPARK_METRICS = [
    "spark.stages",
    "spark.tasks",
    "spark.task_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.max_task_s",
    "spark.spill_mb",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.scheduler_delay_s",
    "spark.idle_s",
]


class Tracer:
    """Records spans and keeps the Spark job group in step with them."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.sc = None
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def begin(self, name: str, key: str, attrs: dict | None = None) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "key": key,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        if attrs:
            span["attrs"] = attrs
        # a span nested in a span of the same key shares its job group:
        # attribution per key is unchanged and the py4j calls are saved
        if parent is not None and parent["key"] == key:
            span["group"] = parent["group"]
        else:
            span["group"] = f"pb-{span['id']}"
            self._set_group(span)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is None or parent["group"] != span["group"]:
            self._set_group(parent)

    def wrap(self, fn, name: str, key: str, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.begin(name, key, attrs(args) if attrs else None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced


#: modules whose references to a wrapped function are rebound
REBIND_PREFIXES = ("phaser_spark", "workloads")


def _rebind(orig, new) -> None:
    """Point every module-level reference to ``orig`` at ``new``: engine
    modules import each other's functions by name
    (``from .lineage import with_row_numbers``), so patching the defining
    module alone would miss those call sites."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(REBIND_PREFIXES):
            continue
        for attr, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, attr, new)


def _phase_attrs(args) -> dict:
    return {"phase": getattr(args[1], "name", None)} if len(args) > 1 else {}


def install(tracer: Tracer) -> None:
    """Wrap every entry point with ``tracer``."""
    for modname, attr, key in ENTRY_POINTS:
        mod = importlib.import_module(modname)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            attrs = _phase_attrs if attr == "Pipeline.run_phase" else None
            setattr(cls, meth, tracer.wrap(orig, attr, key, attrs))
        else:
            orig = getattr(mod, attr)
            _rebind(orig, tracer.wrap(orig, attr, key))
    for modname, attr, key in STEP_FACTORIES:
        mod = importlib.import_module(modname)
        factory = getattr(mod, attr)

        def traced_factory(*a, _factory=factory, _key=key, **kw):
            # functools.wraps copies the step's __phaser_* markers and
            # __wrapped__, so Phase still sees its type and signature
            step = _factory(*a, **kw)
            return tracer.wrap(step, step.__name__, _key)

        _rebind(factory, functools.wraps(factory)(traced_factory))
    for short in OPS_MODULES:
        mod = importlib.import_module(f"phaser_spark.ops.{short}")
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
            ):
                continue
            _rebind(fn, tracer.wrap(fn, f"ops.{short}.{attr}", f"ops.{short}"))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path) as f:
        for line in f:
            head = line[:60]
            if any(w in head for w in _WANTED):
                events.append(json.loads(line))
    return events


class SparkLog:
    """Jobs, stages and tasks of an event log, each tagged with the job
    group that was set when it was submitted."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stages: list[int] = []  # completed stage ids
        self.tasks: list[dict] = []
        job_of_stage: dict[int, int] = {}
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev.get("Stage IDs", []):
                    job_of_stage.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                if "spark.jobGroup.id" in props:
                    self.stage_group[sid] = props["spark.jobGroup.id"]
            elif kind == "SparkListenerStageCompleted":
                self.stages.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task_record(ev))
        # a stage submitted without properties inherits its first job's group
        for sid, jid in job_of_stage.items():
            self.stage_group.setdefault(sid, self.jobs[jid]["group"])


def _task_record(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    duration = max(0, finish - launch)
    getting = info.get("Getting Result Time") or 0
    getting_ms = finish - getting if getting > 0 else 0
    run = m.get("Executor Run Time", 0)
    delay = max(
        0,
        duration
        - run
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - getting_ms,
    )
    return {
        "stage": ev["Stage ID"],
        "run_s": run / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "delay_s": delay / 1000.0,
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "sw_b": sw.get("Shuffle Bytes Written", 0),
        "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
    }


# ---------------------------------------------------------------------------
# reduction
# ---------------------------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [spans[root_id]]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = _union_length(
            [_clip(iv, s["start"], s["end"]) for iv in kids.get(s["id"], ())]
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def reduce_pass(spans: list[dict], log: SparkLog, root_id: int) -> dict:
    """Per-layer and ``spark.*`` metrics of the pass rooted at ``root_id``,
    plus the per-phase split kept in the trace file."""
    tree = subtree(spans, root_id)
    root = spans[root_id]
    selfs = self_times(tree)
    # group -> owning span; spans that share a group share a key
    owner = {}
    for s in tree:
        owner.setdefault(s["group"], s)

    metrics: dict[str, float] = {}
    for key, (t_name, j_name) in LAYER_METRICS.items():
        metrics[t_name] = 0.0
        if j_name:
            metrics[j_name] = 0
    for s in tree:
        names = LAYER_METRICS.get(s["key"])
        if names:
            metrics[names[0]] += selfs[s["id"]]

    jobs = {jid: j for jid, j in log.jobs.items() if j["group"] in owner}
    for j in jobs.values():
        names = LAYER_METRICS.get(owner[j["group"]]["key"])
        if names and names[1]:
            metrics[names[1]] += 1
    stage_ids = {sid for sid, g in log.stage_group.items() if g in owner}
    stages = [sid for sid in log.stages if sid in stage_ids]
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]

    metrics["spark.jobs"] = len(jobs)
    metrics["spark.stages"] = len(stages)
    metrics["spark.tasks"] = len(tasks)
    metrics["spark.task_s"] = sum(t["run_s"] for t in tasks)
    metrics["spark.executor_cpu_s"] = sum(t["cpu_s"] for t in tasks)
    metrics["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    metrics["spark.max_task_s"] = max((t["run_s"] for t in tasks), default=0.0)
    metrics["spark.spill_mb"] = sum(t["spill_b"] for t in tasks) / 2**20
    metrics["spark.shuffle_write_mb"] = sum(t["sw_b"] for t in tasks) / 2**20
    metrics["spark.shuffle_read_mb"] = sum(t["sr_b"] for t in tasks) / 2**20
    metrics["spark.scheduler_delay_s"] = sum(t["delay_s"] for t in tasks)
    busy = _union_length(
        [
            _clip((j["start"], j["end"] if j["end"] is not None else root["end"]),
                  root["start"], root["end"])
            for j in jobs.values()
        ]
    )
    metrics["spark.idle_s"] = (root["end"] - root["start"]) - busy
    metrics["trace.run_s"] = root["end"] - root["start"]
    metrics["trace.unattributed_s"] = selfs[root_id]

    phases = []
    for s in tree:
        if s["key"] != "pipeline.run_phase":
            continue
        groups = {x["group"] for x in subtree(spans, s["id"])}
        sids = {sid for sid, g in log.stage_group.items() if g in groups}
        phases.append(
            {
                "phase": (s.get("attrs") or {}).get("phase"),
                "start": s["start"],
                "wall_s": s["end"] - s["start"],
                "jobs": sum(1 for j in jobs.values() if j["group"] in groups),
                "task_s": sum(t["run_s"] for t in tasks if t["stage"] in sids),
            }
        )
    phases.sort(key=lambda p: p["start"])
    return {"metrics": metrics, "phases": phases}
