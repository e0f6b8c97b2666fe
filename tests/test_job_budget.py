"""Spark-job budgets of a small ``Pipeline.run`` and ``Pipeline.run_stream``.

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

The 42 jobs of ``test_run_stream_job_budget`` are 14 per micro-batch, all
inside ``run_stream``'s ``foreachBatch`` function ``process``:
``batch_df.isEmpty()`` (1); ``with_row_numbers`` over the pinned batch
(3: the pin's cache fill, the count's map stage and its result); the
``contract`` phase's ``agg(...).first()`` (4: the ``spread_for_compute``
repartition's map stage, the fill of the phase's cache, the aggregate's
map stage and its result); the ``trim`` phase's ``agg(...).first()`` (3:
cache fill, map stage, result); the output ``write_partition`` (1); one
eager ``localCheckpoint`` of each phase's events (2).

Changing a count deliberately: run the test, take the count from the
failure message, check with the Spark UI or an event log which jobs
appeared or went away, then update ``JOB_BUDGET``,
``STREAM_JOB_BUDGET`` or ``REALIGN_JOB_BUDGET``, the lists above, and
say why in CHANGES.md."""
import glob
import os
import shutil

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
    filter_rows,
    row_step,
)
from phaser_spark.constants import EVENT_DROPPED_ROW, PHASER_ROW_NUM

JOB_BUDGET = 19
STREAM_JOB_BUDGET = 42
REALIGN_JOB_BUDGET = 7

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


def test_pipeline_run_job_budget(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src.csv")
    _write_source(src)
    pipe = _pipeline(os.path.join(str(tmp_path), "wd"), spark)
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "job budget")
    try:
        pipe.run(src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(GROUP))
    # the run did what the budget assumes: warnings, drops and a filter
    stats = pipe.phase_stats
    assert stats["contract"]["events"] > stats["contract"]["dropped"] > 0
    assert stats["derive"]["events"] > 0
    assert sum(stats["trim"]["drop_tags"].values()) > 0
    assert jobs == JOB_BUDGET, (
        f"Pipeline.run took {jobs} Spark jobs, budget {JOB_BUDGET} "
        "(see the module docstring to change it deliberately)"
    )


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
    group = "phaser-realign-budget"
    sc = spark.sparkContext
    sc.setJobGroup(group, "realign budget")
    try:
        out = ph.run(src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
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


def test_run_stream_job_budget(spark, tmp_path):
    """Three ``available_now`` micro-batches through two phases.  The
    stream's thread sets its own job group, so the jobs are counted as
    the distance between two probe jobs' ids."""
    schema = "id long, qty string, price string, a string, b string"
    src = os.path.join(str(tmp_path), "in")
    os.makedirs(src)
    batches = [range(1, 13), range(13, 25), range(25, 37)]
    for n, ids in enumerate(batches, 1):
        stage = os.path.join(str(tmp_path), f"stage{n}")
        rows = [_stream_row(i) for i in ids]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"b{n}.parquet"))
    out_dir = os.path.join(str(tmp_path), "out")
    pipe = Pipeline(phases=_stream_phases(), spark=spark)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sc = spark.sparkContext
    before = _last_job_id(sc, "phaser-stream-budget-before")
    pipe.run_stream(
        stream, out_dir, checkpoint_dir=os.path.join(str(tmp_path), "ckpt")
    )
    jobs = _last_job_id(sc, "phaser-stream-budget-after") - before - 1

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
