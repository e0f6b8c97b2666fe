"""``python_steps``: short JSON-checkpointed phases, one Python step each.

Row steps run in Arrow Python workers (``mapInPandas``) and sample their
output schema on the driver; batch steps are Spark expressions.  On a
seeded share of rows the row steps raise ``DataErrorException`` or
``DropRowException`` or add a warning, under the ``WARN`` and
``DROP_ROW`` policies.  Each phase is small, so the per-phase cost of
``pipeline`` (checkpoint write, ``isEmpty``, the report) and ``context``
(``phase_has_errors``) carries much of the pass.

The generator replays every step in plain Python, so each pass is checked
for its output rows, its events per phase and a checksum of the derived
``final`` column.
"""

from __future__ import annotations

import json
import os
import random

from phaser_spark import DataErrorException, DropRowException

INPUT_ROWS = 20_000
WARN, DROP = "warn", "drop_row"

#: (phase, error policy, per-mille share of rows its row step hits); the
#: batch step of p3 is a Spark expression that touches every row
PHASES = [
    ("p1_error_warn", WARN, 30),
    ("p2_drop_row", DROP, 25),
    ("p3_batch", WARN, 0),
    ("p4_warn", WARN, 40),
    ("p5_error_drop", DROP, 20),
]


def _hit(f: int, phase: int) -> bool:
    return (f * 7919 + phase * 104729) % 1000 < PHASES[phase][2]


def _int(v):
    # nullable long columns reach pandas as float64
    return None if v is None else int(v)


# Row-step bodies.  Each returns the new column, or raises on its share of
# rows; a raising row keeps its old values, so its new column stays null.
def _p1(row):
    if _hit(_int(row["f"]), 0):
        raise DataErrorException("p1 rejects this row")
    return {"x": _int(row["a"]) + 2 * _int(row["b"])}


def _p2(row):
    if _hit(_int(row["f"]), 1):
        raise DropRowException("p2 drops this row")
    return {"y": ((_int(row["x"]) or 0) * 3) % 1_000_003}


def _p4(row, context=None):
    if _hit(_int(row["f"]), 3):
        context.add_warning("p4 flags this row")
    return {"w": _int(row["z"]) - _int(row["a"])}


def _p5(row):
    if _hit(_int(row["f"]), 4):
        raise DataErrorException("p5 rejects this row")
    v = (_int(row["w"]) or 0) + _int(row["c"]) * len(row["tag"])
    return {"final": v * 7 + (_int(row["x"]) or 0)}


def _steps():
    from pyspark.sql import functions as F

    from phaser_spark import batch_step, row_step

    @batch_step
    def p3(df):
        return df.withColumn("z", F.coalesce(F.col("y"), F.lit(0)) + 2 * F.col("c"))

    return [row_step(_p1), row_step(_p2), p3, row_step(_p4), row_step(_p5)]


def generate(seed: int, data_dir: str) -> dict:
    rng = random.Random(seed)
    tags = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [
        {
            "id": i + 1,
            "a": rng.randint(0, 10_000),
            "b": rng.randint(0, 10_000),
            "c": rng.randint(-500, 500),
            "f": rng.randint(0, 999_999),
            "tag": rng.choice(tags),
        }
        for i in range(INPUT_ROWS)
    ]
    path = os.path.join(data_dir, "python_steps.json")
    with open(path, "w") as f:
        json.dump(rows, f)
    events: dict[tuple[str, str], int] = {}

    def event(phase, kind):
        events[(phase, kind)] = events.get((phase, kind), 0) + 1

    checksum, kept = 0, 0
    for r in rows:
        f = r["f"]
        x = None if _hit(f, 0) else r["a"] + 2 * r["b"]
        if x is None:
            event("p1_error_warn", "WARNING")
        if _hit(f, 1):
            event("p2_drop_row", "DROPPED_ROW")
            continue
        y = ((x or 0) * 3) % 1_000_003
        z = y + 2 * r["c"]
        w = z - r["a"]
        if _hit(f, 3):
            w = None
            event("p4_warn", "WARNING")
        if _hit(f, 4):
            event("p5_error_drop", "DROPPED_ROW")
            continue
        v = (w or 0) + r["c"] * len(r["tag"])
        checksum += v * 7 + (x or 0)
        kept += 1
    return {
        "source": path,
        "rows": INPUT_ROWS,
        "truth": {"kept": kept, "checksum": checksum, "events": events},
    }


def _pipeline(spark, work_dir: str):
    from phaser_spark import JSON_RECORD_FORMAT, Phase, Pipeline

    phases = [
        Phase(name=name, steps=[step], error_policy=policy)
        for (name, policy, _), step in zip(PHASES, _steps())
    ]
    pipe = Pipeline(working_dir=work_dir, phases=phases, name="python_steps", spark=spark)
    pipe.save_format = JSON_RECORD_FORMAT
    return pipe


def run_pass(spark, inputs: dict, work_dir: str) -> dict:
    pipe = _pipeline(spark, work_dir)
    pipe.run(inputs["source"])
    return {"pipe": pipe}


def check(spark, inputs: dict, result: dict) -> list[str]:
    from pyspark.sql import functions as F

    truth, pipe = inputs["truth"], result["pipe"]
    problems = []
    with open(pipe.checkpoints[PHASES[-1][0]]) as f:
        out = json.load(f)
    if len(out) != truth["kept"]:
        problems.append(f"output rows {len(out)} != {truth['kept']}")
    checksum = sum(r["final"] for r in out)
    if checksum != truth["checksum"]:
        problems.append(f"checksum of final {checksum} != {truth['checksum']}")
    got = {
        (r["phase"], r["type"]): r["count"]
        for r in pipe.context.events_df()
        .filter(F.col("row_num").isNotNull())
        .groupBy("phase", "type")
        .count()
        .collect()
    }
    if got != truth["events"]:
        problems.append(f"events {got} != {truth['events']}")
    return problems
