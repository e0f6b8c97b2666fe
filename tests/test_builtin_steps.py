"""Builtin-step parity tests (reference tests/test_builtin_steps.py shapes)."""
import pytest
from pyspark.sql import functions as F

from phaser_spark import (
    DataErrorException,
    Phase,
    check_unique,
    drop_duplicate_rows,
    filter_rows,
    flatten_all,
    flatten_column,
    sort_by,
)
from phaser_spark.constants import PHASER_ROW_NUM
from phaser_spark.context import Context
from phaser_spark.lineage import with_row_numbers


def run_steps(spark, steps, rows, header):
    df = spark.createDataFrame(rows, header)
    ph = Phase(name="T", steps=steps, context=Context(spark=spark))
    # user-visible phase output: dropped-marked rows stripped, exactly as
    # the Pipeline does at its checkpoint
    from phaser_spark.constants import DROP_COL

    return ph.run(df).filter(~F.col(DROP_COL))


def test_drop_duplicate_rows_keeps_last(spark):
    rows = [("a", "1"), ("b", "2"), ("a", "3")]
    out = run_steps(spark, [drop_duplicate_rows(columns=["k"])], rows, ["k", "v"])
    got = {r["k"]: (r["v"], r[PHASER_ROW_NUM]) for r in out.collect()}
    # last duplicate wins (phaser/builtin_steps.py:15-54)
    assert got["a"] == ("3", 3) and got["b"] == ("2", 2)


def test_drop_duplicate_rows_all_columns(spark):
    rows = [("a", "1"), ("a", "1"), ("b", "2")]
    out = run_steps(spark, [drop_duplicate_rows()], rows, ["k", "v"])
    assert out.count() == 2


def test_sort_by_nulls_first_stable(spark):
    rows = [("b",), (None,), ("a",), ("a",)]
    out = run_steps(spark, [sort_by("k")], rows, ["k"])
    got = [(r["k"], r[PHASER_ROW_NUM]) for r in out.collect()]
    assert got == [(None, 2), ("a", 3), ("a", 4), ("b", 1)]


def test_check_unique_passes(spark):
    out = run_steps(spark, [check_unique("k")], [("a",), ("b",)], ["k"])
    assert out.count() == 2


def test_check_unique_strip_and_case(spark):
    ph = Phase(
        name="T",
        steps=[check_unique("k", strip=True, ignore_case=True)],
        context=Context(spark=spark),
    )
    df = spark.createDataFrame([("a ",), ("A",)], ["k"])
    # under the default COLLECT policy the batch error is recorded as an
    # event; the *pipeline* raises at the checkpoint (phaser/pipeline.py:198-199)
    ph.run(df)
    assert ph.context.phase_has_errors("T")


def test_check_unique_missing_column(spark):
    ph = Phase(name="T", steps=[check_unique("zzz")], context=Context(spark=spark))
    df = spark.createDataFrame([("a",)], ["k"])
    ph.run(df)
    assert ph.context.phase_has_errors("T")


def test_filter_rows_expression(spark):
    ctx = Context(spark=spark)
    ph = Phase(name="T", steps=[filter_rows(F.col("k") != "x")], context=ctx)
    out = ph.run(spark.createDataFrame([("x",), ("y",)], ["k"]))
    from phaser_spark.constants import DROP_COL

    assert [r["k"] for r in out.filter(~F.col(DROP_COL)).collect()] == ["y"]
    evs = [e for e in ctx.driver_events if e["type"] == "DROPPED_ROW"]
    assert len(evs) == 1 and "1 rows dropped" in evs[0]["message"]


def test_filter_rows_python_predicate(spark):
    ctx = Context(spark=spark)
    ph = Phase(name="T", steps=[filter_rows(lambda row: row["k"] == "y")], context=ctx)
    out = ph.run(spark.createDataFrame([("x",), ("y",)], ["k"]))
    from phaser_spark.constants import DROP_COL

    assert [r["k"] for r in out.filter(~F.col(DROP_COL)).collect()] == ["y"]


def test_filter_rows_errored_row_visibility(spark):
    """Reference visibility rule for errored rows (randomized
    differential seeds 21/99/127): the reference removes an errored row
    from its working set at the NEXT ROW step (phaser/phase.py:90-91) —
    so a filter_rows running BEFORE any row step intervenes still sees,
    drops, and counts the errored row (raw values), while a filter
    running AFTER one must treat it as invisible.  Both predicate
    paths, both step orders."""
    from phaser_spark import IntColumn, row_step
    from phaser_spark.constants import DROP_COL

    @row_step
    def noop(row, **kwargs):
        return row

    data = [("active", 1), ("retired", None), ("retired", 3)]
    for pred in (F.col("status") == "active", lambda row: row["status"] == "active"):
        # (a) filter directly after the cast: the errored retired row is
        # still visible — both retired rows drop, count = 2
        ctx = Context(spark=spark)
        ph = Phase(
            name="T",
            columns=[IntColumn("code", null=False)],
            steps=[filter_rows(pred)],
            context=ctx,
        )
        out = ph.run(spark.createDataFrame(data, "status string, code int"))
        dropped = sorted(
            (r["code"] or -1) for r in out.filter(F.col(DROP_COL)).collect()
        )
        assert dropped == [-1, 3], dropped
        evs = [e for e in ctx.driver_events if e["type"] == "DROPPED_ROW"]
        assert len(evs) == 1 and "2 rows dropped" in evs[0]["message"]
        # (b) a row step between cast and filter SWEEPS the errored row:
        # only the clean retired row drops, count = 1
        ctx2 = Context(spark=spark)
        ph2 = Phase(
            name="T2",
            columns=[IntColumn("code", null=False)],
            steps=[noop, filter_rows(pred)],
            context=ctx2,
        )
        out2 = ph2.run(spark.createDataFrame(data, "status string, code int"))
        dropped2 = [r["code"] for r in out2.filter(F.col(DROP_COL)).collect()]
        assert dropped2 == [3], dropped2
        evs2 = [e for e in ctx2.driver_events if e["type"] == "DROPPED_ROW"]
        assert len(evs2) == 1 and "1 rows dropped" in evs2[0]["message"]


def test_drop_count_resolves_from_phase_stats_not_rescan(spark):
    # when the phase has counted its drop tags, the summarized drop count
    # must come from those numbers — the fallback (a re-execution of the
    # step's output plan) is a None sentinel here and would raise if touched
    from phaser_spark.builtin_steps import _defer_drop_count

    ctx = Context(spark=spark)
    ctx.current_phase = "P"
    # a SECOND same-named step's drops (filter_rows#1) are not counted
    ctx.phase_stats["P"] = {"drop_tags": {"filter_rows#0": 2, "filter_rows#1": 1}}
    _defer_drop_count(
        ctx, "filter_rows", "filter_rows#0", "{n} rows dropped by filter_rows",
        None,  # fallback sentinel: touching it would raise
    )
    evs = [e for e in ctx.driver_events if e["type"] == "DROPPED_ROW"]
    assert len(evs) == 1 and "2 rows dropped" in evs[0]["message"]


def test_drop_tags_deterministic_across_fresh_process(spark, tmp_path):
    """Tags are a pure function of step order within the phase, so a
    FRESH process (here: a fresh Context) re-mints the identical tags —
    the ones the previous run wrote to its checkpoint and counted in
    ``phase_stats``."""
    from phaser_spark import Phase, Pipeline
    from phaser_spark.constants import DROP_STEP_COL

    wd = str(tmp_path / "wd")

    ph = Phase(
        name="P",
        steps=[
            filter_rows(F.col("v") > 1, name="lo"),
            filter_rows(F.col("v") < 9, name="lo"),  # same name, 2nd tag
        ],
    )

    # "process 1": run the pipeline, materializing .P_state.parquet
    pipe = Pipeline(name="resume", phases=[ph], working_dir=wd, spark=spark)
    pipe.run(spark.createDataFrame([(1,), (5,), (9,), (10,)], "v long"))
    ckpt_path = f"{wd}/.P_state.parquet"
    written = {
        r[DROP_STEP_COL]
        for r in spark.read.parquet(ckpt_path).select(DROP_STEP_COL).collect()
    }
    assert written == {"lo#0", "lo#1", None}
    assert pipe.phase_stats["P"]["drop_tags"] == {"lo#0": 1, "lo#1": 2}

    # "process 2": fresh Context (no shared counter state) minting the same
    # phase's tags must reproduce them
    ctx2 = Context(spark=spark)
    ctx2.current_phase = "P"
    ctx2.reset_drop_tags("P")
    t0, t1 = ctx2.next_drop_tag("lo"), ctx2.next_drop_tag("lo")
    assert (t0, t1) == ("lo#0", "lo#1")


def test_flatten_column_deep(spark):
    df = spark.createDataFrame(
        [(123, {"type": {"oid": "1b2a", "name": "Reply"}, "content": "Hello"})],
        "id long, msg struct<type: struct<oid: string, name: string>, content: string>",
    )
    out = run_steps(spark, [flatten_column("msg", deep=True)], df.collect(), df.schema)
    assert {"msg__type__oid", "msg__type__name", "msg__content"} <= set(out.columns)
    r = out.collect()[0]
    assert r["msg__type__oid"] == "1b2a" and r["msg__content"] == "Hello"


def test_flatten_column_shallow(spark):
    df = spark.createDataFrame(
        [(1, {"type": {"oid": "x"}, "content": "c"})],
        "id long, msg struct<type: struct<oid: string>, content: string>",
    )
    out = run_steps(spark, [flatten_column("msg", deep=False)], df.collect(), df.schema)
    assert "msg__type" in out.columns and "msg__content" in out.columns


def test_flatten_all(spark):
    df = spark.createDataFrame(
        [(1, {"a": 1}, {"b": {"c": 2}})],
        "id long, x struct<a: long>, y struct<b: struct<c: long>>",
    )
    out = run_steps(spark, [flatten_all()], df.collect(), df.schema)
    assert {"x__a", "y__b__c"} <= set(out.columns)


def test_pins_scoped_per_pipeline(spark, tmp_path):
    """One pipeline's checkpoint release must not unpersist another
    pipeline's still-pinned numbering input (round-6 advice: _PINNED was
    a module global drained wholesale by any run_phase)."""
    from phaser_spark import Phase, Pipeline
    from phaser_spark.lineage import with_row_numbers

    # pipeline B pins a shuffled input for numbering
    ctx_b_pins: list = []
    shuffled = spark.createDataFrame([(i,) for i in range(10)], "v long").repartition(4)
    pinned_df = with_row_numbers(shuffled, cache=True, pins=ctx_b_pins)
    assert ctx_b_pins and ctx_b_pins[0].is_cached

    # pipeline A runs and checkpoints — draining ITS OWN context pins only
    pipe_a = Pipeline(
        name="a", phases=[Phase(name="P", steps=[])],
        working_dir=str(tmp_path / "wd"), spark=spark,
    )
    pipe_a.run(spark.createDataFrame([(1,)], "v long"))
    assert ctx_b_pins[0].is_cached  # B's pin survived A's checkpoint
    ctx_b_pins[0].unpersist()


# -- swept-row invisibility extends to ALL post-row-step steps ----------
# (round-11 ADVICE: the reference removes errored rows from its working
# set for every step after a row step — phaser/phase.py:90-91 — not
# just for filter_rows)

def _noop_row_step():
    from phaser_spark import row_step

    @row_step
    def noop(row, **kwargs):
        return row

    return noop


def test_check_unique_ignores_swept_rows(spark):
    """A duplicate key carried only by a swept (errored) row must not
    trip check_unique — the reference's working set no longer holds it."""
    from phaser_spark import IntColumn

    data = [("a", 1), ("a", None), ("b", 3)]
    # (a) no row step: the errored duplicate is still visible -> error
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[check_unique("status")],
        context=ctx,
    )
    ph.run(spark.createDataFrame(data, "status string, code int"))
    assert any(
        "Duplicate value" in (e.get("message") or "")
        for e in ctx.driver_events
    )
    # (b) a row step sweeps the errored row -> no duplicate remains
    ctx2 = Context(spark=spark)
    ph2 = Phase(
        name="T2",
        columns=[IntColumn("code", null=False)],
        steps=[_noop_row_step(), check_unique("status")],
        context=ctx2,
    )
    ph2.run(spark.createDataFrame(data, "status string, code int"))
    assert not any(
        "Duplicate value" in (e.get("message") or "")
        for e in ctx2.driver_events
    )


def test_drop_duplicate_rows_ignores_swept_rows(spark):
    """A swept row may neither WIN a dedup group (dropping a clean row
    the reference keeps) nor be tagged as a dropped duplicate."""
    from phaser_spark import IntColumn
    from phaser_spark.constants import DROP_COL, SWEPT_COL

    # the errored row is LAST, so under keep-last it would win the 'a'
    # group if it were (wrongly) still visible
    data = [("a", 1), ("a", None)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[_noop_row_step(), drop_duplicate_rows(columns=["status"])],
        context=ctx,
    )
    out = ph.run(spark.createDataFrame(data, "status string, code int"))
    live = out.filter(~F.col(DROP_COL) & ~F.col(SWEPT_COL)).collect()
    assert [(r["status"], r["code"]) for r in live] == [("a", 1)]
    # the swept row is not re-tagged as a dropped duplicate
    assert out.filter(F.col(DROP_COL)).count() == 0
    assert not any(
        e["type"] == "DROPPED_ROW" for e in ctx.driver_events
    )


def test_user_batch_step_does_not_see_swept_rows(spark):
    """Non-internal batch steps receive the live working set only: no
    dropped rows, no swept rows (reference: errored rows left row_data
    at the previous row step)."""
    from phaser_spark import IntColumn, batch_step

    seen = {}

    @batch_step
    def peek(df, context=None):
        seen["rows"] = [(r["status"], r["code"]) for r in df.collect()]
        return df

    data = [("a", 1), ("x", None), ("b", 3)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[_noop_row_step(), peek],
        context=ctx,
    )
    ph.run(spark.createDataFrame(data, "status string, code int"))
    assert sorted(seen["rows"]) == [("a", 1), ("b", 3)]


def test_check_size_counts_exclude_swept_rows(spark):
    """check_size diffs the reference's len(row_data), which excludes
    swept rows: a step dropping ONE live row must warn '1 rows were
    dropped', not 2 (swept row miscounted as before)."""
    from phaser_spark import IntColumn, batch_step

    @batch_step(check_size=True)
    def keep_a(df, context=None):
        return df.filter(F.col("status") == "a")

    data = [("a", 1), ("x", None), ("b", 3)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[_noop_row_step(), keep_a],
        context=ctx,
    )
    ph.run(spark.createDataFrame(data, "status string, code int"))
    warns = [
        e["message"]
        for e in ctx.driver_events
        if e["type"] == "WARNING" and "rows were" in (e.get("message") or "")
    ]
    assert warns == ["1 rows were dropped during step keep_a"], warns
