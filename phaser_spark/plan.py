"""Physical-plan introspection for scale gating (engine addition).

The test suite holds this engine's own queries to committed plan
fingerprints (``tests/plan_budget.json``); this module exposes the same
capability to USERS, so a pipeline owner can gate their CI on the plan
shape that matters at 100 TB — "my nightly query must not gain an
Exchange or fall off the JVM-side path" — instead of discovering it as a
10× wall-clock regression in production.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame

from .exceptions import PhaserError


def plan_text(df: DataFrame, mode: str = "simple") -> str:
    """The ``explain`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict:
    """Counts of the plan features that decide scale behavior:

    - ``exchanges``       — shuffles (each is a full network pass)
    - ``scans``           — file-source scans (should match distinct inputs;
      more means lost reuse, fewer may mean a cached splice)
    - ``python_evals``    — row/Arrow Python eval nodes (off the codegen path)
    - ``nested_loops``    — BroadcastNestedLoopJoin (quadratic join shape)
    - ``expands``         — Expand nodes: each REPLICATES every input row
      per projection list.  Inherent to cube/rollup/unpivot semantics;
      ACCIDENTAL when Spark rewrites multiple distinct aggregates (a
      K-distinct aggregation shuffles K+1 corpus copies)
    - ``sort_merge_joins`` / ``broadcast_joins`` / ``hash_aggregates``
    - ``pushed_filters``  — True if any scan carries a pushed predicate
    """
    # one explain pass serves every count: simple mode prints each node
    # once (formatted prints tree + detail, double-counting) and its
    # FileScan line already carries the PushedFilters list
    p = plan_text(df)
    return {
        "exchanges": p.count("Exchange"),
        "scans": len(re.findall(r"Scan (?:parquet|orc|csv|json|text)", p)),
        "python_evals": p.count("EvalPython"),
        "nested_loops": p.count("NestedLoop"),
        "expands": p.count("Expand"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "hash_aggregates": p.count("HashAggregate"),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", p)),
    }


# Contract-weight gate for the per-phase codegen probe: the exact test
# compile (codegen_compile_report) costs a janino pass (~1-4 s on wide
# phases), so the pipeline only pays it for phases whose column stage is
# big enough to plausibly approach the 64 KB method cliff.  Calibration
# (round 12, plain IntColumn contracts, weight 2/column): 30 columns
# (weight 60) still compile — 60 KB method, right under the limit — and
# 40 columns (weight 80) fail; axis-heavy phases (allowed_values,
# fix fns, defaults, date formats) score far higher per column.  The
# threshold sits AT the compiling-30-column shape so near-boundary
# phases get the exact check and ordinary narrow phases skip it
# entirely.
CODEGEN_PROBE_MIN_WEIGHT = 60


def codegen_weight(columns) -> int:
    """Cheap static proxy for how much fused-projection code a phase's
    column stage generates: 2 per column, plus the per-column axes that
    each expand into more expression tree (allowed_values membership,
    fix-fn chain, default injection, multi-pattern date parsing).  Used
    only to decide whether the exact compile probe is worth its cost —
    the probe itself, not this weight, decides whether to warn."""
    w = 0
    for c in columns or []:
        w += 2
        w += len(getattr(c, "allowed_values", None) or [])
        fixes = getattr(c, "fix_value_fn", None) or []
        if not isinstance(fixes, (list, tuple)):
            fixes = [fixes]
        w += 2 * len(fixes)
        if getattr(c, "default", None) is not None:
            w += 2
        # date/datetime casts coalesce several try_to_timestamp branches
        if type(c).__name__ in ("DateColumn", "DateTimeColumn"):
            w += 6
    return w


def codegen_compile_report(df: DataFrame) -> list[dict]:
    """Per-WholeStageCodegen-subtree compile facts for the frame's plan:
    ``{"lines": <generated source lines>, "max_method_bytes": <largest
    compiled method>, "compiled": <bool>}``.  Spark's codegen explain
    mode test-compiles each subtree with the SAME janino pipeline the
    executors use, so ``compiled=False`` here IS the runtime fallback —
    a stage janino rejects (64 KB method limit, constant-pool overflow)
    executes interpreted: correct, much slower, and stock Spark's only
    signal is an executor-side ERROR log (observed in the r11
    differential sweep as a ~17k-line ``processNext``).

    Under AQE the subtrees only materialize per-stage at execution, so
    the probe replans an aliased copy of the frame with AQE off
    (plan-build + one test compile; nothing executes).  Driver cost is
    the compile itself — milliseconds for ordinary contract widths."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # a fresh Dataset replans under the now-current conf; the
        # original df's memoized AQE plan is untouched
        qe = df.alias("__codegen_check__")._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        text = qe.explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    report = []
    parts = re.split(r"== Subtree \d+ / \d+ ", text)[1:]
    for part in parts:
        m = re.match(r"\(maxMethodCodeSize:(-?\d+)", part)
        size = int(m.group(1)) if m else -1
        report.append(
            {
                "lines": len(part.splitlines()),
                "max_method_bytes": size,
                "compiled": size >= 0,
            }
        )
    return report


def warn_if_codegen_fallback(df: DataFrame, where: str) -> list[dict]:
    """Emit a named engine warning when any fused stage of ``df``'s plan
    FAILS the janino test compile (see :func:`codegen_compile_report`)
    — the pipeline author learns about the interpreted fallback from a
    Python warning at plan time instead of a buried executor ERROR log.
    Returns the failing subtree reports.  Introspection failures (exotic
    plans, JVM API drift) return ``[]``: a diagnostic must never fail
    the run."""
    try:
        report = codegen_compile_report(df)
    except Exception:
        return []
    failed = [r for r in report if not r["compiled"]]
    if failed:
        import warnings

        worst = max(r["lines"] for r in failed)
        warnings.warn(
            f"CODEGEN_FALLBACK in {where}: {len(failed)} fused stage(s) "
            f"failed JIT compilation (largest generates {worst} lines of "
            "Java) and will execute interpreted — correct but much "
            "slower. Split the phase at a checkpoint boundary, or move "
            "some column checks/fixes/steps into a separate phase so "
            "each fused stage stays under the JVM's 64 KB method limit.",
            stacklevel=3,
        )
    return failed


def assert_scalable(
    df: DataFrame,
    max_exchanges: int | None = None,
    max_scans: int | None = None,
    forbid_python: bool = True,
    forbid_nested_loop: bool = True,
    max_expands: int | None = None,
) -> dict:
    """Raise ``PhaserError`` when the plan violates the stated budget;
    returns the ``plan_summary`` otherwise.  Designed for CI: call it on
    the DataFrame right before the action that would execute it."""
    s = plan_summary(df)
    problems = []
    if max_exchanges is not None and s["exchanges"] > max_exchanges:
        problems.append(f"{s['exchanges']} exchanges > budget {max_exchanges}")
    if max_scans is not None and s["scans"] > max_scans:
        problems.append(f"{s['scans']} scans > budget {max_scans}")
    if forbid_python and s["python_evals"]:
        problems.append(f"{s['python_evals']} Python eval node(s) in the plan")
    if forbid_nested_loop and s["nested_loops"]:
        problems.append(
            f"{s['nested_loops']} BroadcastNestedLoopJoin node(s) (quadratic)"
        )
    if max_expands is not None and s["expands"] > max_expands:
        problems.append(
            f"{s['expands']} Expand node(s) > budget {max_expands} — each "
            "replicates every input row per projection (cube/rollup/unpivot "
            "are inherent; multiple DISTINCT aggregates are the accidental "
            "source)"
        )
    if problems:
        raise PhaserError(
            "plan violates scale budget: " + "; ".join(problems) + "\n" + plan_text(df)
        )
    return s


def skew_report(
    df: DataFrame,
    cols: list[str],
    top: int = 10,
    shuffle_partitions: int | None = None,
    hot_factor: float = 4.0,
) -> DataFrame:
    """Measure key skew BEFORE a join/agg shuffles on ``cols``: the top
    keys by row count, each key's share of the table, and a ``hot`` flag
    marking keys whose share exceeds ``hot_factor / shuffle_partitions``
    — i.e. keys that would land one shuffle partition with more than
    ``hot_factor``× its fair share of rows (the straggler-task shape AQE
    skew handling and :func:`phaser_spark.ops.relational.salted_join`
    exist for).

    Cost: one map-side-combined count per distinct key plus a global
    count — a metadata-sized diagnostic, not a corpus copy.  The flagged
    keys are exactly the ``hot`` input you hand to ``salted_join`` (or
    the evidence that plain AQE skew-join suffices)."""
    from pyspark.sql import functions as F

    from .ops.frequency import heavy_hitters

    if shuffle_partitions is None:
        shuffle_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    total = df.count()
    if total == 0:
        raise PhaserError("skew_report: empty input")
    threshold = hot_factor / max(1, shuffle_partitions)
    topk = heavy_hitters(df.select(*cols), cols, k=top)
    return topk.select(
        *cols,
        "n",
        (F.col("n") / F.lit(float(total))).alias("share"),
        (F.col("n") / F.lit(float(total)) > threshold).alias("hot"),
    )
