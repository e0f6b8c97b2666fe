"""Spark-job budget of a small ``Pipeline.run``.

A phase should cost its checkpoint write (which also observes the
phase's numbers), one events collect when it has events, and the
user-file save, plus whatever its own steps need.  This test runs a
3-phase pipeline under one job group and pins the exact number of Spark
jobs, so a change that adds a bookkeeping job per phase shows up here
rather than in a benchmark.

Changing the count deliberately: run this test, take the count from the
failure message, check with the Spark UI or an event log which jobs
appeared or went away, then update ``JOB_BUDGET`` and say why in
CHANGES.md."""
import os

from pyspark.sql import functions as F

from phaser_spark import (
    DataErrorException,
    IntColumn,
    ON_ERROR_DROP_ROW,
    ON_ERROR_WARN,
    Phase,
    Pipeline,
    filter_rows,
    row_step,
)

JOB_BUDGET = 28

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
