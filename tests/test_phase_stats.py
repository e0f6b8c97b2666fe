"""Observed phase numbers (``Pipeline.phase_stats``).

The checkpoint write observes each phase's numbers; these tests hold them
to explicit counts over the checkpoint and the events on every checkpoint
layout, and check that what is built on them — the zero-row stop, the
fail-on-error stop and the report — behaves as it did when each was its
own Spark job."""
import os
import threading

import pytest
from pyspark.sql import functions as F

from phaser_spark import (
    DataException,
    DropRowException,
    IntColumn,
    ON_ERROR_DROP_ROW,
    ON_ERROR_WARN,
    Phase,
    Pipeline,
    filter_rows,
    row_step,
)
from phaser_spark.constants import DROP_COL, DROP_STEP_COL, PHASER_ROW_NUM
from phaser_spark.pipeline import extract_events, phase_stat_exprs

SCHEMA = "id long, grp string, a string, b string"
# every 5th row has a non-integer `a` (WARN), every 7th a non-integer `b`
# (DROP_ROW); the row step drops every 9th id
ROWS = [
    (i, f"g{i % 3}", "bad" if i % 5 == 0 else str(i % 4), "x" if i % 7 == 0 else str(i))
    for i in range(1, 41)
]


def _phases(**layout):
    # defined here, not at module level: Python workers unpickle a
    # module-level function by importing its module, and they cannot
    # import a test module
    @row_step(output_schema="c long")
    def derive(row):
        if row["id"] % 9 == 0:
            raise DropRowException("every 9th id goes")
        return {"c": row["id"] * 2}

    first = Phase(
        name="contract",
        columns=[
            IntColumn("a", on_error=ON_ERROR_WARN),
            IntColumn("b", on_error=ON_ERROR_DROP_ROW),
        ],
        steps=[derive, filter_rows(F.col("id") % 4 != 1)],
        **layout,
    )
    second = Phase(
        name="renum",
        renumber=True,
        steps=[filter_rows(F.col("id") < 35), filter_rows(F.col("id") > 2)],
    )
    return [first, second]


def _format(events) -> str:
    """The report's text, formatted as the report formats it."""
    lines, by_phase = [], {}
    for e in events:
        by_phase.setdefault(e["phase"], []).append(e)
    for phase, evs in by_phase.items():
        lines.append(f"Reporting for phase {phase}")
        for e in evs:
            loc = f" in row {e['row_num']}" if e["row_num"] is not None else ""
            step = f" during step {e['step']}" if e["step"] else ""
            lines.append(f"{e['type']}{step}{loc}: {e['message']}")
    return "\n".join(lines) + ("\n" if lines else "")


def _explicit_stats(pipe, phase):
    ckpt = pipe.context.phase_checkpoints[phase]
    driver = [e for e in pipe.context.driver_events if e["phase"] == phase]
    row_level = [
        e for e in pipe.context.events_df().collect() if e["phase"] == phase
    ][len(driver):]
    rows = ckpt.count()
    visible = ckpt.filter(~F.col(DROP_COL)).count()
    tags = pipe.context.drop_tags(phase)
    return {
        "rows": rows,
        "visible": visible,
        "dropped": rows - visible,
        "errors": sum(e["type"] == "ERROR" for e in row_level),
        "events": len(row_level),
        "drop_tags": {
            t: ckpt.filter(F.col(DROP_STEP_COL) == t).count() for t in tags
        },
    }


LAYOUTS = {
    "plain": {},
    "sorted": {"checkpoint_sort_by": ["grp"], "checkpoint_num_files": 2},
    "partitioned": {"checkpoint_partition_by": ["grp"]},
    "bucketed": {"checkpoint_bucket_by": ["id"], "checkpoint_num_buckets": 2},
}


@pytest.mark.parametrize("layout", [*LAYOUTS, "no_working_dir"])
def test_phase_stats_match_explicit_counts(spark, tmp_path, layout):
    wd = None if layout == "no_working_dir" else str(tmp_path / "wd")
    pipe = Pipeline(
        working_dir=wd,
        phases=_phases(**LAYOUTS.get(layout, {})),
        name=f"stats_{layout}",
        spark=spark,
    )
    try:
        pipe.run(spark.createDataFrame(ROWS, SCHEMA))
        for phase in ("contract", "renum"):
            assert pipe.phase_stats[phase] == _explicit_stats(pipe, phase), phase
    finally:
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_stats_bucketed_contract")
    first = pipe.phase_stats["contract"]
    # the fixture exercises every counter: warnings, drops, two tags
    assert first["events"] > 0 and first["dropped"] > 0
    assert len(pipe.phase_stats["renum"]["drop_tags"]) == 2
    # the deferred drop summaries read the observed per-tag counts
    summaries = sorted(
        e["message"] for e in pipe.context.driver_events if e["phase"] == "renum"
    )
    assert summaries == sorted(
        f"{n} rows dropped by filter_rows"
        for n in pipe.phase_stats["renum"]["drop_tags"].values()
        if n
    )


def test_stat_exprs_count_errors_inside_warnings(spark):
    """``errors``/``events`` count what extract_events emits, including
    ERROR-typed entries inside the warnings array."""
    ev = "struct<type string, column string, step string, message string, policy string>"
    df = spark.createDataFrame(
        [
            (1, ("ERROR", "a", None, "m", None), None, False, None),
            (2, None, [("WARNING", "a", None, "w", None), ("ERROR", None, "s", "e", None)], False, None),
            (3, ("WARNING", "b", None, "m", None), [], True, "f#0"),
            (4, None, None, True, "f#0"),
        ],
        f"{PHASER_ROW_NUM} long, __phaser_error__ {ev}, "
        f"__phaser_warnings__ array<{ev}>, {DROP_COL} boolean, {DROP_STEP_COL} string",
    )
    got = df.agg(*phase_stat_exprs(["f#0", "f#1"])).first().asDict()
    events = extract_events(df, "p").collect()
    assert got == {
        "rows": 4,
        "visible": 2,
        "errors": sum(e["type"] == "ERROR" for e in events),
        "events": len(events),
        "drop_0": 2,
        "drop_1": 0,
    }
    assert (got["errors"], got["events"]) == (2, 4)
    empty = df.limit(0).agg(*phase_stat_exprs([])).first().asDict()
    assert empty == {"rows": 0, "visible": 0, "errors": 0, "events": 0}


def _run_within(pipe, df, seconds=300):
    """Run the pipeline on a thread so a blocked Observation fails the
    test instead of hanging it; returns the raised exception."""
    box = {}

    def target():
        try:
            pipe.run(df)
        except Exception as e:  # noqa: BLE001 - handed back to the test
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "Pipeline.run did not return"
    return box.get("error")


@pytest.mark.parametrize("source", ["all_filtered", "empty_source"])
def test_zero_row_phase_still_stops(spark, tmp_path, source):
    ph = Phase(name="gone", steps=[filter_rows(F.col("id") < 0)])
    pipe = Pipeline(working_dir=str(tmp_path), phases=[ph], spark=spark)
    rows = ROWS if source == "all_filtered" else []
    err = _run_within(pipe, spark.createDataFrame(rows, SCHEMA))
    assert isinstance(err, DataException) and "produced zero rows" in str(err)
    assert pipe.phase_stats["gone"]["visible"] == 0
    assert os.path.exists(os.path.join(str(tmp_path), "errors_and_warnings.txt"))


def test_collected_error_raises_after_checkpoint_and_report(spark, tmp_path):
    ph = Phase(name="strict", columns=[IntColumn("a")])
    wd = str(tmp_path)
    pipe = Pipeline(working_dir=wd, phases=[ph], spark=spark)
    with pytest.raises(DataException, match="failed with errors"):
        pipe.run(spark.createDataFrame(ROWS, SCHEMA))
    assert os.path.exists(os.path.join(wd, "strict_output.csv"))
    report = open(os.path.join(wd, "errors_and_warnings.txt")).read()
    bad = sum(1 for r in ROWS if r[2] == "bad")
    assert report.count("ERROR") == bad == pipe.phase_stats["strict"]["errors"]


def test_report_matches_union_collect(spark, tmp_path):
    """The per-phase cached report equals the old union collect,
    driver events (added here by the later phase) first."""
    pipe = Pipeline(working_dir=str(tmp_path), phases=_phases(), spark=spark)
    pipe.run(spark.createDataFrame(ROWS, SCHEMA))
    assert any(e["phase"] == "renum" for e in pipe.context.driver_events)
    for limit in (3, 10000):
        want = _format(pipe.context.events_df().limit(limit).collect())
        assert pipe.report_errors_and_warnings(limit=limit) == want
    on_disk = open(os.path.join(str(tmp_path), "errors_and_warnings.txt")).read()
    assert on_disk == _format(pipe.context.events_df().collect())


def test_report_limit_above_cached_cap_recollects_truncated_frames(spark, tmp_path):
    class SmallCap(Pipeline):
        # every report the run makes keeps at most 4 rows per phase
        def report_errors_and_warnings(self, limit: int = 4) -> str:
            return super().report_errors_and_warnings(limit)

    pipe = SmallCap(working_dir=str(tmp_path), phases=_phases(), spark=spark)
    pipe.run(spark.createDataFrame(ROWS, SCHEMA))
    # the first phase's report reached its events and kept 4 of them
    first_driver = [e for e in pipe.context.driver_events if e["phase"] == "contract"]
    assert len(first_driver) < 4 < pipe.phase_stats["contract"]["events"]
    unions = []
    events_df = pipe.context.events_df

    def counting_events_df():
        unions.append(1)
        return events_df()

    pipe.context.events_df = counting_events_df
    # a larger limit re-collects the truncated frames, never the union
    want = _format(events_df().limit(50).collect())
    assert pipe.report_errors_and_warnings(limit=50) == want
    assert pipe.report_errors_and_warnings(limit=4) == _format(
        events_df().limit(4).collect()
    )
    assert unions == []


def test_report_reads_frames_attached_outside_run_phase(spark):
    """A frame attached by hand has no known count: the report collects
    its first ``limit`` rows, then all of them once a limit exceeds what
    it kept, and never collects the union."""
    from phaser_spark.context import EVENT_SCHEMA

    pipe = Pipeline(phases=[], spark=spark)
    rows = [("hand", i, "WARNING", "s", f"w{i}") for i in range(1, 8)]
    pipe.context.add_event_df(spark.createDataFrame(rows, EVENT_SCHEMA))
    pipe.context.add_warning("driver side", phase="hand")

    def no_union():
        raise AssertionError("the report collected the union")

    events_df = pipe.context.events_df
    pipe.context.events_df = no_union
    for limit in (3, 20, 5):
        assert pipe.report_errors_and_warnings(limit=limit) == _format(
            events_df().limit(limit).collect()
        )
