"""Spark-job budgets of a small ``Pipeline.run``, ``Pipeline.run_stream``
and one-batch-step ``Phase.run``.

A batch phase should cost its checkpoint write (which also observes the
phase's numbers), one events collect when it has events, and the
user-file save, plus whatever its own steps need.  A streamed phase
should cost one aggregate over its cached output per micro-batch (the
same numbers), plus the batch's output and events writes.  These tests
pin the exact number of Spark jobs, so a change that adds a bookkeeping
job per phase shows up here rather than in a benchmark.

The 19 jobs of ``test_pipeline_run_job_budget``, by call site:

* ``contract`` (8): ``io.read_csv``'s corrupt-record ``first()`` probe
  (1); ``lineage.with_row_numbers``' per-partition count (2: its map
  stage and its result); the ``source_copy`` write (1); the checkpoint
  write in ``Pipeline.run_phase`` (2: the ``spread_for_compute``
  repartition's map stage, then the write); the user-file write in
  ``io.save_any`` (1); the events collect in ``Pipeline._report_events``
  (1).
* ``derive`` (3): the checkpoint write (1), the user-file write (1) and
  the events collect (1).  Its input is the read-back checkpoint, already
  numbered; the row step declares its schema, so no probe runs.
* ``trim``, ``renumber=True`` (8): ``lineage.renumber``'s count over the
  rows range-sorted by their old numbers (4: the range-boundary sample,
  the sort's map stage, the count's map stage and its result); the
  checkpoint write, which runs the unpinned sort again (3: sample, map
  stage, write); the user-file write (1).  Its events frame counts 0
  rows (the filter's drops are one driver-side summary event), so no
  events collect runs.

The 39 jobs of ``test_run_stream_job_budget`` are 13 per micro-batch, all
inside ``run_stream``'s ``foreachBatch`` function ``process``:
the numbering over the pinned batch (3: the pin's cache fill, the
count's map stage and its result; the count also tells an empty batch
apart); the ``contract`` phase's
``agg(...).first()`` (4: the ``spread_for_compute`` repartition's map
stage, the fill of the phase's cache, the aggregate's map stage and its
result); the ``trim`` phase's ``agg(...).first()`` (3: cache fill, map
stage, result); the output ``write_partition`` (1); one eager
``localCheckpoint`` of each phase's events (2).

An empty micro-batch (``test_run_stream_empty_batch_writes_nothing``)
costs 2 jobs: the numbering count's pin fill and map stage (with no
rows shuffled, its result needs no job); the batch returns before
reading its start or running a phase.

The 2 jobs of ``test_projection_step_job_budget`` are ``Phase.run``'s
numbering of its input (the per-partition count's map stage and its
result); the ``withColumn`` step's realign reads the plan and runs none.
The 7 of ``test_batch_step_adding_rows_job_budget`` are listed in its
docstring.

Changing a count deliberately: run the test, take the count from the
failure message, check with the Spark UI or an event log which jobs
appeared or went away, then update ``JOB_BUDGET``,
``STREAM_JOB_BUDGET``, ``EMPTY_BATCH_JOB_BUDGET``,
``REALIGN_JOB_BUDGET`` or ``PROJECTION_STEP_JOB_BUDGET``, the lists
above, and say why in CHANGES.md."""
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from phaser_spark import (
    Context,
    DataErrorException,
    IntColumn,
    ON_ERROR_DROP_ROW,
    ON_ERROR_WARN,
    Phase,
    Pipeline,
    batch_step,
    dataframe_step,
    filter_rows,
    row_step,
)
from phaser_spark.constants import EVENT_DROPPED_ROW, PHASER_ROW_NUM
from phaser_spark.pipeline import STREAM_BATCH_COL

JOB_BUDGET = 19
STREAM_JOB_BUDGET = 39
REALIGN_JOB_BUDGET = 7
PROJECTION_STEP_JOB_BUDGET = 2
EMPTY_BATCH_JOB_BUDGET = 2

GROUP = "phaser-job-budget"


def _pipeline(wd, spark):
    # a module-level step would be unpicklable in the Python workers
    @row_step(output_schema="total long")
    def add_total(row):
        if row["qty"] is not None and row["qty"] > 90:
            raise DataErrorException("qty over 90")
        return {"total": (row["qty"] or 0) * 3}

    contract = Phase(
        name="contract",
        columns=[
            IntColumn("qty", on_error=ON_ERROR_WARN),
            IntColumn("price", on_error=ON_ERROR_DROP_ROW),
        ],
    )
    derive = Phase(name="derive", steps=[add_total], error_policy=ON_ERROR_WARN)
    trim = Phase(
        name="trim", renumber=True, steps=[filter_rows(F.col("total") > 30)]
    )
    return Pipeline(working_dir=wd, phases=[contract, derive, trim], spark=spark)


def _write_source(path):
    with open(path, "w") as f:
        f.write("id,qty,price\n")
        for i in range(1, 61):
            qty = "many" if i % 10 == 0 else str(i * 3 % 100)
            price = "free" if i % 8 == 0 else str(i)
            f.write(f"{i},{qty},{price}\n")


def _count_jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_run_job_budget(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src.csv")
    _write_source(src)
    pipe = _pipeline(os.path.join(str(tmp_path), "wd"), spark)
    _, jobs = _count_jobs(spark, GROUP, lambda: pipe.run(src))
    # the run did what the budget assumes: warnings, drops and a filter
    stats = pipe.phase_stats
    assert stats["contract"]["events"] > stats["contract"]["dropped"] > 0
    assert stats["derive"]["events"] > 0
    assert sum(stats["trim"]["drop_tags"].values()) > 0
    assert jobs == JOB_BUDGET, (
        f"Pipeline.run took {jobs} Spark jobs, budget {JOB_BUDGET} "
        "(see the module docstring to change it deliberately)"
    )


def _has_join(df):
    return "Join" in df._jdf.queryExecution().optimizedPlan().toString()


def test_projection_step_job_budget(spark):
    """A ``dataframe_step`` that only adds a column.  ``Phase.run`` numbers
    its input (2 jobs: the per-partition count's map stage and result) and
    nothing else: the step's plan shows each output row is its input row
    under the same number, so ``_realign`` runs no probe for unnumbered
    rows and carries the state columns through the projection instead of
    joining them back."""

    @dataframe_step
    def add_twice(df):
        return df.withColumn("twice", F.col("v") * 2)

    ph = Phase(name="project", steps=[add_twice], context=Context(spark=spark))
    src = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    out, jobs = _count_jobs(spark, "phaser-projection-budget", lambda: ph.run(src))
    assert not _has_join(out)
    got = sorted((r[PHASER_ROW_NUM], r["k"], r["twice"]) for r in out.collect())
    assert got == [(1, "a", 2), (2, "b", 4), (3, "c", 6)]
    assert jobs == PROJECTION_STEP_JOB_BUDGET, (
        f"Phase.run took {jobs} Spark jobs, budget {PROJECTION_STEP_JOB_BUDGET}"
    )


# Every state column of the four input rows of the shapes below: row 2's
# qty warns, row 3's price drops the row (it is parked, hidden from steps).
_W = [("WARNING", "qty", "__cast_and_check__",
       "could not parse 'bad' as IntColumn in column 'qty'", None)]
_D = [("DROPPED_ROW", "price", "__cast_and_check__",
       "could not parse 'oops' as IntColumn in column 'price'", None)]
_LIVE = (None, None, False, None, False)
_WARNED = (None, _W, False, None, False)
_REMOVED = (None, _W, True, None, False)  # a step removed the warned row
_PARKED = (None, _D, True, None, False)
_STATE_COLS = [
    "__phaser_error__", "__phaser_warnings__", "__phaser_drop__",
    "__phaser_drop_step__", "__phaser_swept__",
]
_ALL = [PHASER_ROW_NUM, "k", "qty", "price", "g"]
_A, _B, _D4 = (1, "a", 1, 10, "x"), (2, "b", None, 20, "x"), (4, "d", 4, 40, "y")
_GONE3 = (3, None, None, None, None)
_GONE2 = (2, None, None, None, None)
_KEPT = [_A + _LIVE, _B + _WARNED, _GONE3 + _PARKED, _D4 + _LIVE]
_NO_B = [_A + _LIVE, _GONE2 + _REMOVED, _GONE3 + _PARKED, _D4 + _LIVE]
_KEY = [
    (1, "a") + _LIVE, (2, "b") + _WARNED, (3, None) + _PARKED, (4, "d") + _LIVE,
]


def _add_row(df):
    new = df.sparkSession.createDataFrame(
        [("e", 5, 50, "y", None)],
        f"k string, qty int, price int, g string, {PHASER_ROW_NUM} long",
    )
    return df.unionByName(new)


# (step, columns, rows sorted by number, whether the realign joins)
_SHAPES = {
    "withColumn": (
        lambda df: df.withColumn("z", F.col("qty") * 2),
        _ALL + ["z"],
        [_A + (2,) + _LIVE, _B + (None,) + _WARNED, _GONE3 + (None,) + _PARKED,
         _D4 + (8,) + _LIVE],
        False,
    ),
    "select": (lambda df: df.select(PHASER_ROW_NUM, "k"),
               [PHASER_ROW_NUM, "k"], _KEY, False),
    "filter": (lambda df: df.filter(F.col("k") != "b"), _ALL, _NO_B, True),
    "orderBy": (lambda df: df.orderBy(F.col("k").desc()), _ALL, _KEPT, True),
    # one input partition: the first row of each g survives
    "dropDuplicates": (
        lambda df: df.coalesce(1).dropDuplicates(["g"]), _ALL, _NO_B, True,
    ),
    # a new attribute under the old name proves nothing: fallback
    "realiased": (
        lambda df: df.select(F.col(PHASER_ROW_NUM).alias(PHASER_ROW_NUM), "k"),
        [PHASER_ROW_NUM, "k"], _KEY, True,
    ),
    "explode": (
        lambda df: df.withColumn("e", F.explode(F.array(F.lit(1), F.lit(2)))),
        _ALL + ["e"],
        [_A + (1,) + _LIVE, _A + (2,) + _LIVE, _B + (1,) + _WARNED,
         _B + (2,) + _WARNED, _GONE3 + (None,) + _PARKED, _D4 + (1,) + _LIVE,
         _D4 + (2,) + _LIVE],
        True,
    ),
    # an added row takes max + 1 over every row, parked ones included
    "union": (_add_row, _ALL, _KEPT + [(5, "e", 5, 50, "y") + _LIVE], True),
    "backtick": (
        lambda df: df.withColumn("a`b", F.col("qty") + 1),
        _ALL + ["a`b"],
        [_A + (2,) + _LIVE, _B + (None,) + _WARNED, _GONE3 + (None,) + _PARKED,
         _D4 + (5,) + _LIVE],
        False,
    ),
    # a rebuilt plan would not read the step's cache: fallback
    "cached": (
        lambda df: _cached_projection(df),
        _ALL + ["z"],
        [_A + (2,) + _LIVE, _B + (None,) + _WARNED, _GONE3 + (None,) + _PARKED,
         _D4 + (8,) + _LIVE],
        True,
    ),
}

_PERSISTED = []


def _cached_projection(df):
    # pinned and read by the step itself, as one sharing its values with
    # an extra output would
    out = df.withColumn("z", F.col("qty") * 2).cache()
    out.count()
    _PERSISTED.append(out)
    return out


@pytest.mark.parametrize("shape", list(_SHAPES))
def test_batch_step_shapes_keep_rows_and_state(spark, shape):
    """Each step shape's realigned output, every column of every row, on
    the plan-read paths (projection only; numbers kept) and the fallback
    (re-aliased number, generator, union with new rows, a cached step
    output)."""
    step, cols, want, joins = _SHAPES[shape]
    ph = Phase(
        name="shapes",
        columns=[
            IntColumn("qty", on_error=ON_ERROR_WARN),
            IntColumn("price", on_error=ON_ERROR_DROP_ROW),
        ],
        steps=[dataframe_step(step)],
        context=Context(spark=spark),
    )
    src = spark.createDataFrame(
        [("a", "1", "10", "x"), ("b", "bad", "20", "x"),
         ("c", "3", "oops", "y"), ("d", "4", "40", "y")],
        "k string, qty string, price string, g string",
    )
    out = ph.run(src)
    assert out.columns == cols + _STATE_COLS
    got = sorted(
        (tuple(r) for r in out.collect()),
        key=lambda r: (r[0], tuple(str(v) for v in r)),
    )
    assert got == want
    assert _has_join(out) == joins
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def test_renumber_after_projection_step_numbers_every_row(spark):
    """A ``renumber=True`` phase whose step only adds a column, over an
    input whose range sort keeps several partitions (AQE coalescing off,
    8 shuffle partitions, more rows per input partition than the range
    boundary sample takes).  The renumber counts the sorted rows in one
    job and numbers them in another, so its input must be pinned: an
    unpinned range sort can place rows differently in the two jobs."""

    @dataframe_step
    def add_twice(df):
        return df.withColumn("twice", F.col("v") * 2)

    n = 4000
    src = spark.range(0, n, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    ph = Phase(
        name="renumber", steps=[add_twice], renumber=True,
        context=Context(spark=spark),
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = sorted(
            (r[PHASER_ROW_NUM], r["k"], r["twice"])
            for r in ph.run(src).collect()
        )
    finally:
        spark.conf.set(key, prev)
    assert got == [(k + 1, k, k % 7 * 2) for k in range(n)]


def test_batch_step_adding_rows_job_budget(spark):
    """A batch step that adds rows.  ``Phase.run`` numbers its input (2
    jobs: the per-partition count's map stage and result), then
    ``_realign`` checks once that some row has no number (1), reads the
    existing maximum (2) and numbers the new rows (2)."""

    @batch_step
    def add_row(df):
        new = df.sparkSession.createDataFrame(
            [("z", None)], f"k string, {PHASER_ROW_NUM} long"
        )
        return df.unionByName(new)

    ph = Phase(name="grow", steps=[add_row], context=Context(spark=spark))
    src = spark.createDataFrame([("a",), ("b",)], ["k"])
    out, jobs = _count_jobs(spark, "phaser-realign-budget", lambda: ph.run(src))
    got = sorted((r["k"], r[PHASER_ROW_NUM]) for r in out.collect())
    assert got == [("a", 1), ("b", 2), ("z", 3)]
    assert jobs == REALIGN_JOB_BUDGET, (
        f"Phase.run took {jobs} Spark jobs, budget {REALIGN_JOB_BUDGET}"
    )


def _stream_phases():
    # each phase: a WARN column, a DROP_ROW column and a filter_rows
    contract = Phase(
        name="contract",
        columns=[
            IntColumn("qty", on_error=ON_ERROR_WARN),
            IntColumn("price", on_error=ON_ERROR_DROP_ROW),
        ],
        steps=[filter_rows(F.col("id") % 5 != 0)],
    )
    trim = Phase(
        name="trim",
        columns=[
            IntColumn("a", on_error=ON_ERROR_WARN),
            IntColumn("b", on_error=ON_ERROR_DROP_ROW),
        ],
        steps=[filter_rows(F.col("id") % 3 != 0)],
    )
    return [contract, trim]


def _stream_row(i):
    return (
        i,
        "many" if i % 6 == 0 else str(i),
        "free" if i % 7 == 0 else str(i),
        "x" if i % 4 == 0 else str(i),
        "y" if i % 11 == 0 else str(i),
    )


def _last_job_id(sc, group):
    # one single-partition count is one job; its id brackets the jobs
    # around it (job ids are sequential per SparkContext, whatever thread
    # or job group runs them)
    sc.setJobGroup(group, "job budget probe")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(group))


_STREAM_SCHEMA = "id long, qty string, price string, a string, b string"


def _run_stream(spark, tmp_path, pipe, batches):
    """Stream one parquet file per entry of ``batches`` (the ids of its
    rows) through ``pipe``, one file per micro-batch; returns the output
    directory and the number of Spark jobs the stream ran.  The stream's
    thread sets its own job group, so the jobs are counted as the
    distance between two probe jobs' ids."""
    src = os.path.join(str(tmp_path), "in")
    os.makedirs(src)
    for n, ids in enumerate(batches, 1):
        stage = os.path.join(str(tmp_path), f"stage{n}")
        rows = [_stream_row(i) for i in ids]
        spark.createDataFrame(rows, _STREAM_SCHEMA).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"b{n}.parquet"))
    out_dir = os.path.join(str(tmp_path), "out")
    stream = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sc = spark.sparkContext
    before = _last_job_id(sc, "phaser-stream-budget-before")
    pipe.run_stream(
        stream, out_dir, checkpoint_dir=os.path.join(str(tmp_path), "ckpt")
    )
    return out_dir, _last_job_id(sc, "phaser-stream-budget-after") - before - 1


def test_run_stream_job_budget(spark, tmp_path):
    """Three ``available_now`` micro-batches through two phases."""
    batches = [range(1, 13), range(13, 25), range(25, 37)]
    pipe = Pipeline(phases=_stream_phases(), spark=spark)
    out_dir, jobs = _run_stream(spark, tmp_path, pipe, batches)

    # the stream did what the budget assumes: each batch numbers on from
    # the previous one (dropped rows included), and each phase's filter
    # reports its own drops per batch
    kept = [i for i in range(1, 37) if i % 7 and i % 5 and i % 11 and i % 3]
    got = spark.read.parquet(out_dir).collect()
    assert sorted((r["id"], r[PHASER_ROW_NUM]) for r in got) == [(i, i) for i in kept]
    want = []
    for ids in batches:
        first = [i for i in ids if i % 7 and i % 5 == 0]
        second = [i for i in ids if i % 7 and i % 5 and i % 11 and i % 3 == 0]
        want += [("contract", len(first)), ("trim", len(second))]
    summaries = sorted(
        (e["phase"], int(e["message"].split()[0]))
        for e in pipe.context.driver_events
        if e["type"] == EVENT_DROPPED_ROW and e["row_num"] is None
    )
    assert summaries == sorted(w for w in want if w[1])
    assert jobs == STREAM_JOB_BUDGET, (
        f"run_stream took {jobs} Spark jobs, budget {STREAM_JOB_BUDGET} "
        "(see the module docstring to change it deliberately)"
    )


def test_run_stream_empty_batch_writes_nothing(spark, tmp_path):
    """A micro-batch with no rows between two with rows: the numbering's
    count finds it empty, so it writes no output partition, takes no row
    numbers (the next batch numbers on from the first) and runs no phase:
    its only jobs are that count's (``EMPTY_BATCH_JOB_BUDGET``)."""
    batches = [range(1, 13), [], range(13, 25)]
    pipe = Pipeline(phases=_stream_phases(), spark=spark)
    out_dir, jobs = _run_stream(spark, tmp_path, pipe, batches)
    kept = [i for i in range(1, 25) if i % 7 and i % 5 and i % 11 and i % 3]
    got = spark.read.parquet(out_dir)
    assert sorted((r["id"], r[PHASER_ROW_NUM]) for r in got.collect()) == [
        (i, i) for i in kept
    ]
    assert sorted(
        r[0] for r in got.select(STREAM_BATCH_COL).distinct().collect()
    ) == [0, 2]
    # the two batches with rows cost what each batch of the budget test does
    per_batch = STREAM_JOB_BUDGET // 3
    assert jobs == 2 * per_batch + EMPTY_BATCH_JOB_BUDGET, (
        f"run_stream took {jobs} Spark jobs, budget "
        f"{2 * per_batch} + {EMPTY_BATCH_JOB_BUDGET} for the empty batch"
    )
