"""Step decorators, error policies, lineage, extra sources/outputs."""
import pytest
from pyspark.sql import functions as F

from phaser_spark import (
    Column,
    Context,
    DataErrorException,
    DataException,
    DropRowException,
    ExtraMapping,
    IntColumn,
    ON_ERROR_DROP_ROW,
    ON_ERROR_STOP_NOW,
    ON_ERROR_WARN,
    Phase,
    WarningException,
    batch_step,
    context_step,
    row_step,
)
from phaser_spark.constants import PHASER_ROW_NUM
from phaser_spark.lineage import with_row_numbers


def ctx(spark, **kw):
    return Context(spark=spark, **kw)


def test_row_step_adds_column_with_inference(spark):
    import warnings

    @row_step
    def add(row):
        row["total"] = int(row["a"]) + int(row["b"])
        return row

    ph = Phase(name="T", steps=[add], context=ctx(spark))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = ph.run(spark.createDataFrame([("1", "2"), ("3", "4")], ["a", "b"]))
        collected = sorted(r["total"] for r in out.collect())
    assert collected == [3, 7]
    # schema inference is a silent driver collect + sampling hazard: it
    # must announce itself (once per step) and point at output_schema=
    assert any("output_schema" in str(w.message) for w in caught)


def test_row_step_declared_schema_does_not_warn(spark):
    import warnings

    @row_step(output_schema="tripled long")
    def add3(row):
        row["tripled"] = int(row["a"]) * 3
        return row

    ph = Phase(name="T3", steps=[add3], context=ctx(spark))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = ph.run(spark.createDataFrame([("1", "2")], ["a", "b"]))
        out.collect()
    assert not any("output_schema" in str(w.message) for w in caught)


def test_strict_schemas_rejects_schema_less_row_step(spark):
    """strict_schemas=True: the sample-inference WARNING becomes an ERROR
    (a sparse column the 10-row sample misses would silently drop at
    scale); the same step with output_schema declared runs fine."""
    from phaser_spark.exceptions import PhaserError

    @row_step
    def add(row):
        row["total"] = int(row["a"]) + 1
        return row

    df = spark.createDataFrame([("1",), ("2",)], ["a"])
    ph = Phase(name="S", steps=[add], context=ctx(spark, strict_schemas=True))
    with pytest.raises(PhaserError, match="strict_schemas"):
        ph.run(df)

    @row_step(output_schema="total long")
    def add_declared(row):
        row["total"] = int(row["a"]) + 1
        return row

    ph2 = Phase(
        name="S2", steps=[add_declared], context=ctx(spark, strict_schemas=True)
    )
    assert sorted(r["total"] for r in ph2.run(df).collect()) == [2, 3]


def test_pipeline_threads_strict_schemas(spark, tmp_path):
    import os

    from phaser_spark import Pipeline
    from phaser_spark.exceptions import PhaserError

    src = os.path.join(str(tmp_path), "src.csv")
    with open(src, "w") as f:
        f.write("a\n1\n2\n")

    @row_step
    def add(row):
        row["total"] = int(row["a"]) + 1
        return row

    class S(Phase):
        name = "S"
        steps = [add]

    pipe = Pipeline(
        working_dir=os.path.join(str(tmp_path), "out"),
        source=src,
        phases=[S],
        spark=spark,
        strict_schemas=True,
    )
    with pytest.raises(PhaserError, match="strict_schemas"):
        pipe.run()


def test_row_step_declared_schema(spark):
    @row_step(output_schema="doubled long")
    def add(row):
        row["doubled"] = int(row["a"]) * 2
        return row

    ph = Phase(name="T", steps=[add], context=ctx(spark))
    out = ph.run(spark.createDataFrame([("2",)], ["a"]))
    assert out.collect()[0]["doubled"] == 4


def test_row_step_error_skips_later_steps(spark):
    # E3: a row with an ERROR event is skipped by subsequent row steps
    @row_step
    def fail_on_b(row):
        if row["k"] == "b":
            raise DataErrorException("bad row")
        return row

    @row_step
    def mark(row):
        row["seen"] = "yes"
        return row

    ph = Phase(name="T", steps=[fail_on_b, mark], context=ctx(spark))
    out = ph.run(spark.createDataFrame([("a",), ("b",)], ["k"]))
    got = {r["k"]: r["seen"] for r in out.collect()}
    assert got["a"] == "yes" and got["b"] is None


def test_drop_row_exception(spark):
    @row_step
    def dropper(row):
        if row["k"] == "x":
            raise DropRowException("dropping x")
        return row

    c = ctx(spark)
    ph = Phase(name="T", steps=[dropper], context=c)
    out = ph.run(spark.createDataFrame([("x",), ("y",)], ["k"]))
    from phaser_spark.constants import DROP_COL

    visible = out.filter(~F.col(DROP_COL))
    assert [r["k"] for r in visible.collect()] == ["y"]


def test_warning_exception_keeps_row(spark):
    @row_step
    def warner(row):
        if row["k"] == "x":
            raise WarningException("suspicious")
        return row

    c = ctx(spark)
    ph = Phase(name="T", steps=[warner], context=c)
    out = ph.run(spark.createDataFrame([("x",), ("y",)], ["k"]))
    assert out.count() == 2
    from phaser_spark.pipeline import extract_events

    evs = extract_events(out, "T").collect()
    assert any(e["type"] == "WARNING" and "suspicious" in e["message"] for e in evs)


def test_stop_now_aborts(spark):
    ph = Phase(
        name="T",
        columns=[IntColumn("n")],
        context=ctx(spark),
        error_policy=ON_ERROR_STOP_NOW,
    )
    with pytest.raises(DataException, match="stop_now"):
        ph.run(spark.createDataFrame([("1",), ("zz",)], ["n"]))


def test_batch_step_and_check_size(spark):
    @batch_step(check_size=True)
    def halve(df):
        return df.limit(1)

    c = ctx(spark)
    ph = Phase(name="T", steps=[halve], context=c)
    ph.run(spark.createDataFrame([("a",), ("b",)], ["k"]))
    assert any("dropped" in e["message"] for e in c.driver_events)


def test_batch_step_new_rows_numbered_max_plus_one(spark):
    @batch_step
    def add_row(df):
        new = df.sparkSession.createDataFrame(
            [("z", None)], f"k string, {PHASER_ROW_NUM} long"
        )
        return df.unionByName(new)

    ph = Phase(name="T", steps=[add_row], context=ctx(spark))
    out = ph.run(spark.createDataFrame([("a",), ("b",)], ["k"]))
    nums = sorted(r[PHASER_ROW_NUM] for r in out.collect())
    assert nums == [1, 2, 3]


def test_context_step_runs_on_driver(spark):
    @context_step
    def set_var(context):
        context.add_variable("flag", 42)

    c = ctx(spark)
    ph = Phase(name="T", steps=[set_var], context=c)
    ph.run(spark.createDataFrame([("a",)], ["k"]))
    assert c.get("flag") == 42


def test_extra_source_mapping_in_row_step(spark):
    @row_step(extra_sources=["depts"])
    def lookup(row, depts):
        row["dep_id"] = depts[row["dep"]] if row["dep"] in depts else None
        return row

    c = ctx(spark)
    c.set_source(ExtraMapping("depts", {"Fin": 1, "Eng": 2}, spark=spark))
    ph = Phase(name="T", steps=[lookup], extra_sources=["depts"], context=c)
    out = ph.run(spark.createDataFrame([("Fin",), ("Xxx",)], ["dep"]))
    got = {r["dep"]: r["dep_id"] for r in out.collect()}
    assert got["Fin"] == 1 and got["Xxx"] is None


def test_oversized_row_step_extra_source_fails_loudly(spark, monkeypatch):
    # Row-step extra sources materialize into the driver AND every task
    # closure; an unbounded collect() was the engine's last silent driver
    # materialization (VERDICT r8 "what's wrong" #1).  Oversized sides
    # must raise with a pointer at the join_step scale path, while
    # mapping-sized ones keep working.
    import phaser_spark.io as io_mod
    import phaser_spark.phase as phase_mod
    from phaser_spark.exceptions import PhaserError
    from phaser_spark import ExtraRecords

    monkeypatch.setattr(phase_mod, "ROW_STEP_SOURCE_MAX_ROWS", 5)
    monkeypatch.setattr(io_mod, "ROW_STEP_SOURCE_MAX_ROWS", 5)

    @row_step(extra_sources=["dim"])
    def tag(row, dim):
        row["n_dim"] = len(dim)
        return row

    big = spark.range(50).select(F.col("id").alias("key"))
    c = ctx(spark)
    c.set_source(ExtraRecords("dim", big))
    ph = Phase(name="T", steps=[tag], extra_sources=["dim"], context=c)
    with pytest.raises(PhaserError, match="join_step"):
        ph.run(spark.createDataFrame([("a",)], ["k"]))

    small = spark.range(3).select(F.col("id").alias("key"))
    c2 = ctx(spark)
    c2.set_source(ExtraRecords("dim", small))
    ph2 = Phase(name="T", steps=[tag], extra_sources=["dim"], context=c2)
    out = ph2.run(spark.createDataFrame([("a",)], ["k"]))
    assert out.collect()[0]["n_dim"] == 3

    # same bound on ExtraMapping.to_dict
    m = ExtraMapping(
        "m", {str(i): i for i in range(50)}, spark=spark
    )
    with pytest.raises(PhaserError, match="join_step"):
        m.to_dict()


def test_extra_output_counting(spark):
    @row_step(extra_outputs=["counts"])
    def count_k(row, counts):
        counts[row["k"]] += 1
        return row

    c = ctx(spark)
    out_obj = ExtraMapping("counts", {})
    ph = Phase(
        name="T", steps=[count_k], extra_outputs=[out_obj], context=c
    )
    ph.run(spark.createDataFrame([("a",), ("a",), ("b",)], ["k"]))
    got = out_obj.to_dict()
    assert got == {"a": 2, "b": 1}


def test_lineage_contiguous(spark):
    df = spark.range(100).repartition(7)
    out = with_row_numbers(df.toDF("v"))
    nums = sorted(r[PHASER_ROW_NUM] for r in out.collect())
    assert nums == list(range(1, 101))


def test_load_data_pandas_and_dicts(spark):
    import pandas as pd

    from phaser_spark import IntColumn, Phase
    from phaser_spark.context import Context

    for data in (
        pd.DataFrame({"x": ["1", "2"], "y": ["a", "b"]}),
        [{"x": "1", "y": "a"}, {"x": "2", "y": "b"}],
    ):
        ph = Phase(name="ld", columns=[IntColumn("x")],
                   context=Context(spark=spark))
        ph.load_data(data)
        out = sorted((r.x, r.y) for r in ph.run().select("x", "y").collect())
        assert out == [(1, "a"), (2, "b")]


def test_row_step_preserves_drop_attribution(spark):
    """A row step after filter_rows must keep DROP_STEP_COL — the
    deferred 'step X dropped N rows' count reads it from the checkpoint
    (it was silently reset to NULL before round 6)."""
    from pyspark.sql import functions as F

    from phaser_spark import Phase, filter_rows, row_step
    from phaser_spark.constants import DROP_STEP_COL

    @row_step(output_schema="y long")
    def add_y(row):
        row["y"] = row["v"] * 2
        return row

    p = Phase(
        name="P",
        steps=[filter_rows(F.col("v") > 1, name="min_v"), add_y],
        context=Context(spark=spark),
    )
    out = p.run(spark.createDataFrame([(1,), (2,)], "v long"))
    tags = {r["v"]: r[DROP_STEP_COL] for r in out.collect()}
    # tags carry a deterministic per-phase #N suffix so two same-named
    # steps never count each other's drops; events still use the clean name
    assert tags == {1: "min_v#0", 2: None}


def test_realign_numbers_identity_losing_step_from_max_plus_one(spark):
    """A batch step that returns a frame WITHOUT row numbers gets max+1
    numbering — starting at 1 collided with the re-unioned dropped
    rows' original numbers."""
    from pyspark.sql import functions as F

    from phaser_spark import Phase, batch_step, filter_rows
    from phaser_spark.constants import DROP_COL, PHASER_ROW_NUM

    @batch_step
    def rebuild(df, context=None):
        return spark.createDataFrame(
            [(r["v"],) for r in df.collect()], "v long"
        )

    p = Phase(
        name="P",
        steps=[filter_rows(F.col("v") != 3, name="no3"), rebuild],
        context=Context(spark=spark),
    )
    out = p.run(spark.createDataFrame([(i,) for i in range(1, 6)], "v long"))
    rows = [(r[PHASER_ROW_NUM], r[DROP_COL]) for r in out.collect()]
    nums = [n for n, _ in rows]
    assert len(nums) == len(set(nums))  # no collisions
    # dropped row keeps its original number; new rows start past max(5)
    assert {n for n, d in rows if d} == {3}
    assert all(n >= 6 for n, d in rows if not d)


def test_renumber_skips_dropped_rows(spark):
    """renumber=True yields contiguous 1..N over SURVIVING rows (the
    reference renumbers a list dropped rows are already gone from);
    dropped marker rows keep their original numbers for events."""
    from pyspark.sql import functions as F

    from phaser_spark import Phase, filter_rows
    from phaser_spark.constants import DROP_COL, PHASER_ROW_NUM

    p = Phase(
        name="P",
        steps=[filter_rows(F.col("v") % 2 == 0, name="even")],
        renumber=True,
        context=Context(spark=spark),
    )
    out = p.run(spark.createDataFrame([(i,) for i in range(1, 8)], "v long"))
    live = sorted(r[PHASER_ROW_NUM] for r in out.collect() if not r[DROP_COL])
    assert live == [1, 2, 3]


def test_renumber_applies_at_batch_steps_only(spark):
    """Reference renumber timing (phaser/phase.py:120-121, pinned by the
    round-11 differential seeds 1/14/41): renumbering is BATCH-step
    postprocessing.  A renumber=True phase with only row/context steps
    keeps the original numbering; one with a batch step renumbers at the
    step; a row step AFTER the batch step numbers its new rows max+1 on
    top of the renumbered range."""
    from pyspark.sql import functions as F

    from phaser_spark import Phase, batch_step, row_step
    from phaser_spark.constants import DROP_COL, PHASER_ROW_NUM

    @row_step
    def touch(row, **kwargs):
        return row

    # (a) row steps only: numbers preserved (gaps included)
    p1 = Phase(name="A", steps=[touch], renumber=True, context=Context(spark=spark))
    src = spark.createDataFrame([(1, 10), (3, 30), (7, 70)], "v long, w long")
    from phaser_spark.lineage import with_row_numbers

    df = with_row_numbers(src).withColumn(
        PHASER_ROW_NUM, F.col(PHASER_ROW_NUM) * 2  # 2, 4, 6 — gappy
    )
    out1 = p1.run(df)
    assert sorted(r[PHASER_ROW_NUM] for r in out1.collect()) == [2, 4, 6]

    # (b) a batch step triggers the renumber: contiguous 1..N after it
    @batch_step
    def drop_first(b, context=None):
        return b.filter(F.col("v") != 1)

    p2 = Phase(
        name="B", steps=[drop_first], renumber=True, context=Context(spark=spark)
    )
    out2 = p2.run(with_row_numbers(src))
    live2 = sorted(
        r[PHASER_ROW_NUM] for r in out2.collect() if not r[DROP_COL]
    )
    assert live2 == [1, 2]

    # (c) rows a LATER row step adds get max+1 over the renumbered range
    @row_step
    def noop2(row, **kwargs):
        return row

    p3 = Phase(
        name="C", steps=[drop_first, noop2], renumber=True,
        context=Context(spark=spark),
    )
    out3 = p3.run(with_row_numbers(src))
    live3 = sorted(
        r[PHASER_ROW_NUM] for r in out3.collect() if not r[DROP_COL]
    )
    assert live3 == [1, 2]


def test_renumber_parked_rows_never_collide_with_live(spark):
    """Invariant behind the negative parking in _apply_renumber: after a
    mid-phase renumber, a later user batch step's realign joins on the
    row number — parked (dropped/swept) rows must not share a number
    with the fresh 1..N live range, or the join duplicates rows."""
    from pyspark.sql import functions as F

    from phaser_spark import IntColumn, Phase, batch_step, filter_rows, row_step
    from phaser_spark.constants import DROP_COL, PHASER_ROW_NUM, SWEPT_COL

    @row_step
    def touch(row, **kwargs):
        return row

    @batch_step
    def identity(df, context=None):
        return df

    data = [("a", 1), ("x", None), ("b", 3), ("c", 4), ("x", None)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[
            touch,                          # sweeps the 2 errored rows
            filter_rows(F.col("status") != "c"),  # drops one live row
            identity,                       # renumber -> parked go negative
            identity,                       # realign joins on renumbered nums
        ],
        renumber=True,
        context=ctx,
    )
    out = ph.run(spark.createDataFrame(data, "status string, code int"))
    rows = out.collect()
    # no duplicated row numbers anywhere
    nums = [r[PHASER_ROW_NUM] for r in rows]
    assert len(nums) == len(set(nums)), sorted(nums)
    live = sorted(
        r[PHASER_ROW_NUM] for r in rows if not r[DROP_COL] and not r[SWEPT_COL]
    )
    assert live == [1, 2], live  # a, b renumbered contiguously
    parked = [r[PHASER_ROW_NUM] for r in rows if r[DROP_COL] or r[SWEPT_COL]]
    assert all(n < 0 for n in parked), parked


def test_renumber_parking_bands_never_collide_across_rounds(spark):
    """ADVICE r11: plain -abs(n) parking can alias ACROSS renumber
    rounds — row 2 parked in round 1 -> -2; a later live row renumbered
    to 2 and parked in round 2 -> -2 again.  Each round now parks into
    its own negative band (-(n + round * 2^40)) and already-parked rows
    keep their number, so every row number in the phase output stays
    globally unique even through repeated park-after-renumber cycles."""
    from pyspark.sql import functions as F

    from phaser_spark import IntColumn, Phase, batch_step, filter_rows, row_step
    from phaser_spark.constants import DROP_COL, PHASER_ROW_NUM, SWEPT_COL

    @row_step
    def touch(row, **kwargs):
        return row

    @batch_step
    def identity(df, context=None):
        return df

    # x errs (swept, original num 2); after renumber #1 live are
    # a=1, b=2, c=3; filter then drops b (live num 2 — the exact abs
    # value the swept row parked with); renumber #2 parks it
    data = [("a", 1), ("x", None), ("b", 3), ("c", 4)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="bands",
        columns=[IntColumn("code", null=False)],
        steps=[
            touch,
            identity,                              # renumber #1
            filter_rows(F.col("status") != "b"),
            identity,                              # renumber #2
        ],
        renumber=True,
        context=ctx,
    )
    out = ph.run(spark.createDataFrame(data, "status string, code int"))
    rows = out.collect()
    nums = [r[PHASER_ROW_NUM] for r in rows]
    assert len(nums) == len(set(nums)), sorted(nums)
    parked = sorted(
        r[PHASER_ROW_NUM] for r in rows if r[DROP_COL] or r[SWEPT_COL]
    )
    assert len(parked) == 2 and all(n < 0 for n in parked), parked
    # the two parked rows shared abs live number 2 — distinct bands now
    assert abs(parked[0]) != abs(parked[1]), parked
    live = sorted(
        r[PHASER_ROW_NUM] for r in rows if not r[DROP_COL] and not r[SWEPT_COL]
    )
    assert live == [1, 2], live


def test_batch_step_removal_keeps_recorded_events(spark):
    """A user batch step removing rows must not unrecord their events:
    the reference records eagerly at raise time (context.add_event), so
    a cast ERROR survives the row's later removal — this engine's lazy
    checkpoint extraction parks removed event-carrying rows as markers
    (randomized differential seed 17, round 11)."""
    from pyspark.sql import functions as F

    from phaser_spark import IntColumn, Phase, batch_step
    from phaser_spark.pipeline import extract_events

    @batch_step
    def drop_retired(df, context=None):
        return df.filter(F.col("status") != "retired")

    data = [("active", 1), ("retired", None), ("retired", 3), ("active", None)]
    ctx = Context(spark=spark)
    ph = Phase(
        name="T",
        columns=[IntColumn("code", null=False)],
        steps=[drop_retired],
        context=ctx,
    )
    out = ph.run(spark.createDataFrame(data, "status string, code int"))
    evs = extract_events(out, "T").collect()
    err_rows = sorted(e["row_num"] for e in evs if e["type"] == "ERROR")
    # row 2 (retired, errored, REMOVED by the step) and row 4 (active,
    # errored, kept) both keep their cast errors
    assert err_rows == [2, 4], err_rows
    # the removed errored row is NOT in the visible output
    from phaser_spark.constants import DROP_COL

    visible = {r["code"] for r in out.filter(~F.col(DROP_COL)).collect()}
    assert visible == {1, None}


def test_renumber_keeps_event_row_through_later_batch_step(spark):
    """A renumber=True phase reports an event under the row number it had
    when it was raised (the reference records at raise time).  The first
    batch step's renumber stashes that number; a second batch step must
    carry the stash through its realign, not restart it from the
    renumbered row."""
    from phaser_spark import dataframe_step, filter_rows
    from phaser_spark.pipeline import extract_events

    @dataframe_step
    def add_twice(df):
        return df.withColumn("twice", F.col("qty") * 2)

    src = spark.createDataFrame(
        [(str(i), "bad" if i == 3 else str(i)) for i in range(1, 7)],
        "id string, qty string",
    )
    for steps in ([filter_rows(F.col("id") != "1")],
                  [filter_rows(F.col("id") != "1"), add_twice]):
        ph = Phase(
            name="R",
            columns=[IntColumn("qty", on_error=ON_ERROR_WARN)],
            steps=steps,
            renumber=True,
            context=ctx(spark),
        )
        evs = extract_events(ph.run(src), "R").collect()
        warned = [e["row_num"] for e in evs if e["type"] == "WARNING"]
        assert warned == [3], (len(steps), warned)


def test_delta_mapping_key_normalization_and_bad_keys():
    """Counter keys: integral floats normalize to ints (3.0 and 3 name one
    counter), non-finite floats and compound keys fail loud with a
    PhaserError instead of crashing later in the executor's JSON merge."""
    import math

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.steps import DeltaMapping

    m = DeltaMapping()
    m[3.0] = 2
    assert m[3] == 2 and m.drain() == {3: 2}
    m["k"] = 1
    m["k"] = 5  # delta tracks value - old, not blind accumulation
    assert m.drain() == {"k": 5}
    assert m["never_set"] == 0  # missing keys read as 0
    with pytest.raises(PhaserError, match="non-finite"):
        m[math.nan] = 1
    with pytest.raises(PhaserError, match="non-finite"):
        m[math.inf] = 1
    with pytest.raises(PhaserError, match="JSON-serializable"):
        m[("a", "b")] = 1
    with pytest.raises(PhaserError, match="numeric accumulation"):
        m["s"] = "not-a-number"


def test_row_step_survives_multiple_prior_warnings(spark):
    """A row that accumulated TWO OR MORE warnings reaches the next row
    step intact.  Regression for the stage-crash the randomized
    differential generator found under the earlier pandas shell (the
    warnings arrived as a numpy array, whose truth value raises): the
    warned row must flow
    through later row steps (warnings never cause the error-skip), and
    both warnings must survive to the report."""
    from phaser_spark import Phase, WarningException, row_step
    from phaser_spark.context import Context

    @row_step
    def warn_twice_then_derive(row, **kwargs):
        row["doubled"] = row["v"] * 2
        return row

    @row_step
    def warn_small(row, **kwargs):
        if row["v"] < 10:
            raise WarningException("small v")
        return row

    @row_step
    def warn_odd(row, **kwargs):
        if row["v"] % 2 == 1:
            raise WarningException("odd v")
        return row

    df = spark.createDataFrame([(1,), (2,), (15,)], "v long")
    ctx = Context(spark=spark)
    out = Phase(
        name="W",
        steps=[warn_small, warn_odd, warn_twice_then_derive],
        context=ctx,
    ).run(df)
    rows = {r["v"]: r for r in out.collect()}
    # v=1 warned twice and STILL ran the final derive step
    assert rows[1]["doubled"] == 2
    assert len(rows[1]["__phaser_warnings__"]) == 2
    assert rows[2]["doubled"] == 4 and len(rows[2]["__phaser_warnings__"]) == 1
    assert rows[15]["doubled"] == 30 and len(rows[15]["__phaser_warnings__"]) == 1


def test_missing_required_column_is_a_phaser_error(spark):
    """A declared required column absent from the data is a RUN failure
    whose type follows the CONTEXT policy (the check_required raise
    escapes phase.run() and is handled at pipeline level,
    phaser/pipeline.py:184-189 + context.process_exception): under
    collect it is wrapped in PhaserError; under stop_now
    process_exception re-raises the ORIGINAL DataErrorException before
    the wrap is reached.  (warn/drop_row: the reference swallows the
    exception and crashes on unbound `results` — a reference bug we fix
    by failing loud with PhaserError; PARITY.md.)  An optional
    (required=False) missing column materializes as all-null instead,
    and save=False ones are not materialized at all."""
    from phaser_spark.exceptions import DataErrorException, PhaserError

    df = with_row_numbers(spark.createDataFrame([("a",)], "x string"))
    with pytest.raises(PhaserError, match="required column 'ghost'"):
        Phase(name="R", columns=[Column("ghost")]).run(df)
    ctx_stop = Context(spark=spark, error_policy=ON_ERROR_STOP_NOW)
    with pytest.raises(DataErrorException, match="required column 'ghost'"):
        Phase(name="R2", columns=[Column("ghost")], context=ctx_stop).run(df)
    for pol in ("warn", "drop_row"):
        with pytest.raises(PhaserError, match="required column 'ghost'"):
            Phase(
                name="R3",
                columns=[Column("ghost")],
                context=Context(spark=spark, error_policy=pol),
            ).run(df)
    out = Phase(
        name="O", columns=[Column("ghost", required=False)]
    ).run(df)
    rows = out.collect()
    assert rows[0]["ghost"] is None
    out2 = Phase(
        name="S", columns=[Column("ghost", required=False, save=False)]
    ).run(df)
    assert "ghost" not in out2.columns
