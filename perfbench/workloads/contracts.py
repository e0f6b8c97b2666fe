"""``contracts``: declarative column contracts over a dirty CSV.

Three CSV-checkpointed phases, then an ``IndexedTableDiffer`` between the
phase-1 and phase-3 checkpoints:

1. renames, typed columns with ranges, ``allowed_values``, defaults,
   ``fix_value_fn`` and mixed ``on_error`` policies, then ``check_unique``;
2. ``filter_rows``, ``drop_duplicate_rows``, ``sort_by`` and one
   ``dataframe_step``;
3. one ``dataframe_step`` under ``renumber=True``.

Dirty values are injected at a known rate, and the generator replays the
contract rules in plain Python (first failing column in declared order
wins; a WARN keeps the row, a DROP_ROW removes it), so every pass can be
checked exactly.  No Python step or UDF runs: the work is column
expressions, lineage numbering, CSV reads and writes, and the diff.
"""

from __future__ import annotations

import csv
import os
import random

INPUT_ROWS = 10_000

WARN, DROP = "warn", "drop_row"
DIRTY_RATE = 0.006  # per dirtiable cell
STATUSES = [f"s{i:02d}" for i in range(20)]
CATEGORIES = ["books", "music", "garden", "tools", "toys", "games", "food", "sport"]
REGIONS = ["north", "south", "east", "west", "central"]
MIN_QTY = 5

HEADERS = [
    "Order ID", "Customer Name", "Qty", "Unit Price", "Order Date", "Updated",
    "Active", "Status", "Region", "Category", "Score", "Code",
]
# (column, policy, dirty values) in declared order; a dirty value always
# fails its column's contract
DIRTY = [
    ("qty", WARN, ["abc", "-3", "900", "1.5x"]),
    ("price", DROP, ["n/a", "-2.50"]),
    ("order_date", WARN, ["2023-13-45", "not-a-date"]),
    ("updated_at", WARN, ["2023-04-05T25:61:00", "noon"]),
    ("active", DROP, ["maybe"]),
    ("status", DROP, ["bogus"]),
    ("score", WARN, ["101.5", "x"]),
    ("code", DROP, ["", "   "]),
]


def _columns():
    from phaser_spark import (
        BooleanColumn,
        Column,
        DateColumn,
        DateTimeColumn,
        FloatColumn,
        IntColumn,
    )

    return [
        IntColumn("id", rename="Order ID", min_value=1),
        Column("customer", rename="Customer Name", fix_value_fn=["strip", "title"]),
        IntColumn("qty", rename="Qty", min_value=0, max_value=500, on_error=WARN),
        FloatColumn("price", rename="Unit Price", min_value=0.0, on_error=DROP),
        DateColumn("order_date", rename="Order Date", on_error=WARN),
        DateTimeColumn("updated_at", rename="Updated", on_error=WARN),
        BooleanColumn("active", rename="Active", on_error=DROP),
        Column("status", rename="Status", allowed_values=STATUSES, on_error=DROP),
        Column("region", rename="Region", default="UNKNOWN"),
        Column("category", rename="Category", fix_value_fn="lower"),
        FloatColumn("score", rename="Score", min_value=0.0, max_value=100.0, on_error=WARN),
        Column("code", rename="Code", blank=False, on_error=DROP),
    ]


def _name(rng: random.Random) -> str:
    syll = ["ka", "lo", "mi", "ra", "to", "ne", "su", "vi", "da", "po", "le", "zu"]
    return "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))


def generate(seed: int, data_dir: str) -> dict:
    rng = random.Random(seed)
    n = INPUT_ROWS
    customers = [f"{_name(rng)} {_name(rng)}" for _ in range(n // 3)]
    path = os.path.join(data_dir, "contracts.csv")
    events: dict[tuple[str, str], int] = {}
    survivors = []  # (row_num, id, qty value, dedup key) of phase-1 output
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADERS)
        for i in range(n):
            cust = rng.choice(customers)
            cat = rng.choice(CATEGORIES)
            qty = str(rng.randint(0, 500))
            y, m, d = 2020 + rng.randint(0, 4), rng.randint(1, 12), rng.randint(1, 28)
            row = {
                "id": str(1_000_000 + i),
                "customer": f"  {cust} ",
                "qty": qty if rng.random() > 0.1 else f"{qty}.0",
                "price": f"{rng.uniform(0.5, 999):.2f}",
                "order_date": rng.choice(
                    [f"{y}-{m:02d}-{d:02d}", f"{y}/{m:02d}/{d:02d}", f"{y}{m:02d}{d:02d}"]
                ),
                "updated_at": f"{y}-{m:02d}-{d:02d}T{rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
                "active": rng.choice(["true", "False", "yes", "N", "1", "0", "t", "F"]),
                "status": rng.choice(STATUSES),
                "region": "NULL" if rng.random() < 0.03 else rng.choice(REGIONS),
                "category": rng.choice([cat, cat.upper(), cat.title()]),
                "score": f"{rng.uniform(0, 100):.1f}",
                "code": f"C{rng.randint(0, 99999):05d}",
            }
            first = None
            for col, policy, bad in DIRTY:
                if rng.random() < DIRTY_RATE:
                    row[col] = rng.choice(bad)
                    if first is None:
                        first = (col, policy)
            if first is not None:
                kind = "WARNING" if first[1] == WARN else "DROPPED_ROW"
                events[(kind, first[0])] = events.get((kind, first[0]), 0) + 1
            if first is None or first[1] == WARN:
                survivors.append((i + 1, i + 1_000_000, _int_value(row["qty"]), (cust, cat)))
            w.writerow(row.values())

    # phase 2: filter qty >= MIN_QTY (null fails), keep the LAST row of
    # each (customer, category) group; phase 3 renumbers in row order
    kept = [s for s in survivors if s[2] is not None and s[2] >= MIN_QTY]
    last: dict[tuple, tuple] = {}
    for s in kept:
        last[s[3]] = s
    final = sorted(last.values())
    n3 = len(final)
    p1_nums = [s[0] for s in survivors]
    overlap = sum(1 for r in p1_nums if r <= n3)
    return {
        "source": path,
        "rows": n,
        "truth": {
            "column_events": events,
            "filtered": len(survivors) - len(kept),
            "duplicates": len(kept) - n3,
            "final_ids": [s[1] for s in final],
            "diff": {
                "added": n3 - overlap,
                "removed": len(p1_nums) - overlap,
                "changed": overlap,
                "unchanged": 0,
            },
        },
    }


def _int_value(raw: str):
    """IntColumn's parse: a decimal literal truncated toward zero, else
    null (the range check does not clear the value)."""
    try:
        return int(float(raw))
    except ValueError:
        return None


def _pipeline(spark, work_dir: str):
    from pyspark.sql import functions as F

    from phaser_spark import ON_ERROR_WARN, Phase, Pipeline, dataframe_step
    from phaser_spark import builtin_steps as B

    @dataframe_step
    def add_amount(df):
        return df.withColumn("amount", F.col("qty") * F.col("price"))

    @dataframe_step
    def add_band(df):
        return df.withColumn(
            "band", F.when(F.col("score") >= 50, "high").otherwise("low")
        )

    phases = [
        Phase(name="p1_contract", columns=_columns(), steps=[B.check_unique("id")]),
        Phase(
            name="p2_shape",
            steps=[
                B.filter_rows(F.col("qty") >= MIN_QTY, name="min_qty"),
                B.drop_duplicate_rows(["customer", "category"]),
                B.sort_by("price"),
                add_amount,
            ],
        ),
        Phase(name="p3_renumber", steps=[add_band], renumber=True),
    ]
    return Pipeline(
        working_dir=work_dir,
        phases=phases,
        error_policy=ON_ERROR_WARN,
        name="contracts",
        spark=spark,
    )


def run_pass(spark, inputs: dict, work_dir: str) -> dict:
    from phaser_spark import IndexedTableDiffer
    from phaser_spark import io

    pipe = _pipeline(spark, work_dir)
    pipe.run(inputs["source"])
    p1 = io.load_any(spark, pipe.checkpoints["p1_contract"])
    p3 = io.load_any(spark, pipe.checkpoints["p3_renumber"])
    diff = IndexedTableDiffer(p1, p3).run()
    return {"pipe": pipe, "diff": diff}


def check(spark, inputs: dict, result: dict) -> list[str]:
    from pyspark.sql import functions as F

    from phaser_spark import PHASER_ROW_NUM

    truth, pipe = inputs["truth"], result["pipe"]
    problems = []
    with open(pipe.checkpoints["p3_renumber"], newline="") as f:
        rows = list(csv.DictReader(f))
    nums = [int(r[PHASER_ROW_NUM]) for r in rows]
    if nums != list(range(1, len(nums) + 1)):
        problems.append("phase-3 row numbers are not a gap-free 1..n")
    ids = [int(r["id"]) for r in rows]
    if ids != truth["final_ids"]:
        problems.append(
            f"kept rows: {len(ids)} ids, expected {len(truth['final_ids'])} "
            "in original row order"
        )

    # a column event names its column last in its message
    column = F.regexp_extract("message", r"'([^']*)'[^']*$", 1)
    got = {
        (r["type"], r["column"]): r["count"]
        for r in pipe.context.events_df()
        .filter(F.col("row_num").isNotNull())
        .groupBy("type", column.alias("column"))
        .count()
        .collect()
    }
    if got != truth["column_events"]:
        problems.append(f"column events {got} != {truth['column_events']}")
    summaries = {e["step"]: e["message"] for e in pipe.context.driver_events}
    want = {
        "min_qty": f"{truth['filtered']} rows dropped by filter_rows",
        "drop_duplicate_rows": f"{truth['duplicates']} duplicate rows dropped",
    }
    for step, message in want.items():
        if summaries.get(step) != message:
            problems.append(f"{step}: {summaries.get(step)!r} != {message!r}")
    if result["diff"] != truth["diff"]:
        problems.append(f"diff {result['diff']} != {truth['diff']}")
    return problems
