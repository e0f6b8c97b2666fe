"""Pipeline lifecycle: phase fails AFTER checkpointing under the collect
policy (E6), and prior outputs rotate into a timestamped dir on re-run
(S10) — reference phaser/pipeline.py:98-127,188-199."""
import os

import pytest
from pyspark.sql import functions as F

from phaser_spark import DataException, FloatColumn, Phase, Pipeline


def _write_csv(tmp_path, name, content):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w") as f:
        f.write(content)
    return p


def test_phase_fails_after_checkpoint_on_collected_errors(spark, tmp_path):
    src = _write_csv(tmp_path, "src.csv", "id,score\n1,5.0\n2,bad\n3,7.0\n")

    class Guard(Phase):
        name = "Guard"
        columns = [FloatColumn("score")]

    wd = os.path.join(str(tmp_path), "out")
    pipe = Pipeline(working_dir=wd, source=src, phases=[Guard], spark=spark)
    with pytest.raises(DataException):
        pipe.run()
    # E6: the checkpoint exists even though the phase failed
    assert any(f.startswith("Guard_output") for f in os.listdir(wd))
    report = open(os.path.join(wd, "errors_and_warnings.txt")).read()
    assert "ERROR" in report


def test_working_dir_rotation_on_rerun(spark, tmp_path):
    src = _write_csv(tmp_path, "src.csv", "id,score\n1,5.0\n")

    class Ok(Phase):
        name = "Ok"
        columns = [FloatColumn("score")]

    wd = os.path.join(str(tmp_path), "out")
    for _ in range(2):
        Pipeline(working_dir=wd, source=src, phases=[Ok], spark=spark).run()
    entries = os.listdir(wd)
    stamped = [e for e in entries if os.path.isdir(os.path.join(wd, e)) and e != "."]
    # S10: first run's outputs moved into a timestamped subdir
    assert any(os.listdir(os.path.join(wd, d)) for d in stamped)
    assert any(f.startswith("Ok_output") for f in entries)


def test_bucketed_checkpoint_missing_column_fails_clearly(spark, tmp_path):
    from phaser_spark import PhaserError, Phase, Pipeline

    class Ok(Phase):
        name = "Ok"
        columns = [FloatColumn("score")]
        checkpoint_bucket_by = ["no_such_column"]

    src = _write_csv(tmp_path, "src.csv", "id,score\n1,5.0\n")
    pipe = Pipeline(working_dir=os.path.join(str(tmp_path), "out"),
                    source=src, phases=[Ok], spark=spark)
    with pytest.raises(PhaserError, match="no_such_column"):
        pipe.run()


@pytest.mark.parametrize(
    "layout", ["checkpoint_partition_by", "checkpoint_bucket_by", "checkpoint_sort_by"]
)
def test_checkpoint_layout_missing_column_message(spark, tmp_path, layout):
    from phaser_spark import PhaserError

    ph = Phase(name="L", **{layout: ["nope"]})
    pipe = Pipeline(working_dir=str(tmp_path), phases=[ph], spark=spark)
    data = spark.createDataFrame([(1, 5.0)], "id long, score double")
    with pytest.raises(PhaserError) as err:
        pipe.run(data)
    assert str(err.value) == (
        f"Phase L: {layout} columns ['nope'] not in phase output "
        "['__phaser_row_num__', 'id', 'score']"
    )


def test_bucketed_checkpoint_without_working_dir(spark, tmp_path):
    # no working dir -> the bucketed checkpoint lands as a managed table
    # under the warehouse dir; the pipeline result is unaffected
    from phaser_spark import Phase, Pipeline

    class Ok(Phase):
        name = "OkMngd"
        columns = [FloatColumn("score")]

    data = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id long, score double")
    try:
        out = Pipeline(
            phases=[Phase(name="b", checkpoint_bucket_by=["id"],
                          checkpoint_num_buckets=2)],
            spark=spark,
        ).run(data)
        assert sorted(r.id for r in out.collect()) == [1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_pipeline_b")


def test_sorted_checkpoint_row_groups_skippable_and_rows_intact(spark, tmp_path):
    """Phase(checkpoint_sort_by=...) range-clusters the phase checkpoint:
    the written row groups carry near-disjoint min/max ranges on the sort
    column (downstream time-window predicates skip at scan time), and the
    pipeline result is unchanged."""
    import glob

    import pyarrow.parquet as pq

    from phaser_spark import Phase, Pipeline

    data = spark.range(0, 4000).select(
        F.col("id").alias("v"),
        F.shiftleft(F.xxhash64("id"), 1).alias("scrambled"),
    ).orderBy("scrambled").drop("scrambled")
    p1 = Phase(name="sortedstage", checkpoint_sort_by=["v"], checkpoint_num_files=8)
    wd = str(tmp_path / "wd")
    result = Pipeline(working_dir=wd, source=data, phases=[p1], spark=spark).run()
    assert sorted(r["v"] for r in result.collect()) == list(range(4000))

    ranges = []
    for f in glob.glob(f"{wd}/.sortedstage_state.parquet/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.row_group(g).num_columns)
                if md.row_group(g).column(i).path_in_schema == "v"
            )
            ranges.append((col.statistics.min, col.statistics.max))
    assert len(ranges) >= 8
    # near-disjoint: a 10%-of-domain window intersects ~1 of 8 range slices
    hits = sum(1 for mn, mx in ranges if mx >= 1000 and mn <= 1400)
    assert hits <= len(ranges) // 3


def test_sorted_and_bucketed_checkpoint_mutually_exclusive(spark):
    import pytest as _pytest

    from phaser_spark import Phase
    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        Phase(name="x", checkpoint_sort_by=["a"], checkpoint_bucket_by=["a"])


def test_sorted_checkpoint_without_working_dir_warns(spark):
    import warnings as _w

    from phaser_spark import Phase, Pipeline

    data = spark.range(5).withColumnRenamed("id", "v")
    p = Phase(name="s", checkpoint_sort_by=["v"])
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        Pipeline(phases=[p], spark=spark).run(data)
    assert any("no working_dir" in str(r.message) for r in rec)


def test_checkpoint_tuning_class_attributes_respected(spark):
    from phaser_spark import Phase

    class Tuned(Phase):
        checkpoint_bucket_by = ["k"]
        checkpoint_num_buckets = 512

    class Sorted(Phase):
        checkpoint_sort_by = ["ts"]
        checkpoint_num_files = 7

    assert Tuned(name="t").checkpoint_num_buckets == 512
    assert Sorted(name="s").checkpoint_num_files == 7
    # explicit argument still wins
    assert Tuned(name="t2", checkpoint_num_buckets=64).checkpoint_num_buckets == 64


# --- DAG-ordered pipelines -----------------------------------------------


def test_dag_pipeline_diamond(spark, tmp_path):
    from pyspark.sql import functions as F

    from phaser_spark import Phase, dataframe_step
    from phaser_spark.pipeline import DagPipeline

    @dataframe_step(check_size=False)
    def keep_positive(df, context=None):
        return df.filter(F.col("v") > 0)

    @dataframe_step(check_size=False)
    def totals_per_key(df, context=None):
        return df.groupBy("k").agg(F.sum("v").alias("k_total"))

    @dataframe_step(check_size=False, extra_sources=["totals"])
    def enrich_with_totals(df, context=None, **kw):
        return df.join(F.broadcast(kw["totals"]), "k")

    dag = DagPipeline(
        phases={
            "clean": Phase(name="clean", steps=[keep_positive]),
            "totals": (Phase(name="totals", steps=[totals_per_key], renumber=True), ["clean"]),
            "final": (Phase(name="final", steps=[enrich_with_totals]), ["clean", "totals"]),
        },
        working_dir=str(tmp_path),
        spark=spark,
    )
    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", -9.0)], "k string, v double"
    )
    out = dag.run(src)
    got = {(r.k, r.v): r.k_total for r in out.collect()}
    # b's negative row was cleaned BEFORE totals (diamond, not source)
    assert got[("a", 1.0)] == 3.0 and got[("a", 2.0)] == 3.0
    assert got[("b", 5.0)] == 5.0
    # execution order was topological
    assert dag._dag_order == ["clean", "totals", "final"]
    # every phase checkpointed through the standard path
    import os

    assert os.path.exists(os.path.join(str(tmp_path), "final_output.csv"))


def test_dag_pipeline_validation(spark):
    import pytest

    from phaser_spark import Phase
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.pipeline import DagPipeline

    p = lambda n: Phase(name=n, steps=[])  # noqa: E731
    with pytest.raises(PhaserError, match="unknown"):
        DagPipeline(phases={"a": (p("a"), ["nope"])}, spark=spark)
    with pytest.raises(PhaserError, match="cycle"):
        DagPipeline(phases={"a": (p("a"), ["b"]), "b": (p("b"), ["a"])}, spark=spark)
    with pytest.raises(PhaserError, match="sink"):
        DagPipeline(phases={"a": p("a"), "b": p("b")}, spark=spark)


def test_dag_pipeline_class_attr_form(spark):
    from pyspark.sql import functions as F

    from phaser_spark import Phase, dataframe_step
    from phaser_spark.pipeline import DagPipeline

    @dataframe_step(check_size=False)
    def double(df, context=None):
        return df.withColumn("v", F.col("v") * 2)

    class MyDag(DagPipeline):
        phases = {
            "a": Phase(name="a", steps=[double]),
            "b": (Phase(name="b", steps=[double]), ["a"]),
        }

    dag = MyDag(spark=spark)
    out = dag.run(spark.createDataFrame([(1.0,)], "v double"))
    assert [r.v for r in out.collect()] == [4.0]
    assert dag.name == "MyDag"


def test_partitioned_checkpoint_prunes(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from phaser_spark import Phase, Pipeline, filter_rows

    src = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], float(i)) for i in range(60)],
        "id long, lang string, v double",
    )
    ph = Phase(
        name="parted",
        steps=[filter_rows(F.col("v") >= 0)],
        checkpoint_partition_by=["lang"],
    )
    pipe = Pipeline(working_dir=str(tmp_path), phases=[ph], spark=spark)
    out = pipe.run(src)
    assert out.count() == 60
    state = os.path.join(str(tmp_path), ".parted_state.parquet")
    # hive-style partition directories on disk
    assert sorted(
        d for d in os.listdir(state) if d.startswith("lang=")
    ) == ["lang=de", "lang=en", "lang=fr"]
    # a filter on the partition column prunes at planning time
    plan = (
        spark.read.parquet(state).filter("lang = 'en'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120]

    # partition_by composes with sort_by; rejects combining with buckets
    import pytest

    from phaser_spark.exceptions import PhaserError

    both = Phase(
        name="both",
        steps=[],
        checkpoint_partition_by=["lang"],
        checkpoint_bucket_by=["id"],
    )
    pipe2 = Pipeline(working_dir=str(tmp_path), phases=[both], spark=spark)
    with pytest.raises(PhaserError, match="cannot combine"):
        pipe2.run(src)
    sorted_ph = Phase(
        name="sorted_parted",
        steps=[],
        checkpoint_partition_by=["lang"],
        checkpoint_sort_by=["v"],
    )
    pipe3 = Pipeline(working_dir=str(tmp_path), phases=[sorted_ph], spark=spark)
    assert pipe3.run(src).count() == 60


def test_partitioned_checkpoint_preserves_types_and_order(spark, tmp_path):
    """Reading a partitioned checkpoint back must NOT apply Spark's
    partition-column type inference: a string partition column with
    numeric-looking values ('007') would silently round-trip as int 7,
    and partition columns would move to the end of the schema."""
    from phaser_spark import Phase, Pipeline

    src = spark.createDataFrame(
        [("007", 1, 1.5), ("007", 2, 2.5), ("012", 3, 3.5)],
        "code string, id long, v double",
    )
    ph = Phase(name="coded", steps=[], checkpoint_partition_by=["code"])
    pipe = Pipeline(working_dir=str(tmp_path), phases=[ph], spark=spark)
    out = pipe.run(src)
    # column order unchanged (partition col did not migrate to the end)
    user_cols = [c for c in out.columns if not c.startswith("__phaser")]
    assert user_cols == ["code", "id", "v"]
    # type and VALUE preserved: '007' stays the string '007', not int 7
    assert dict(out.dtypes)["code"] == "string"
    assert sorted({r.code for r in out.collect()}) == ["007", "012"]


def test_dag_pipeline_undeclared_phase_source_fails_fast(spark):
    """An extra_sources entry naming a DAG phase that is NOT in the
    consuming phase's depends_on must fail at validation (before any
    phase executes), not mid-run — run() only injects declared deps."""
    import pytest

    from phaser_spark import Phase, dataframe_step
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.pipeline import DagPipeline

    ran = []

    @dataframe_step(check_size=False)
    def mark(df, context=None):
        ran.append(1)
        return df

    @dataframe_step(check_size=False, extra_sources=["side"])
    def use_side(df, context=None, **kw):
        return df

    dag = DagPipeline(
        phases={
            "side": Phase(name="side", steps=[mark]),
            "mid": (Phase(name="mid", steps=[mark]), ["side"]),
            # declares extra_sources=['side'] but does NOT depend on it
            "final": (Phase(name="final", steps=[use_side]), ["mid"]),
        },
        spark=spark,
    )
    src = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(PhaserError, match="depends_on"):
        dag.run(src)
    assert not ran  # failed fast: no phase executed


def test_dag_step_source_satisfied_by_inline_phase_declaration(spark):
    """A step-level extra_sources name satisfied by a phase-level INLINE
    SavableObject (df attached) must pass validation — run() resolves it
    from the phase declaration, not the DAG wiring."""
    from pyspark.sql import functions as F

    from phaser_spark import Phase, dataframe_step
    from phaser_spark.io import SavableObject
    from phaser_spark.pipeline import DagPipeline

    dim = spark.createDataFrame([(1.0, "x")], "v double, tag string")

    @dataframe_step(check_size=False, extra_sources=["dim"])
    def join_dim(df, context=None, **kw):
        return df.join(F.broadcast(kw["dim"]), "v")

    dag = DagPipeline(
        phases={
            "only": Phase(
                name="only",
                steps=[join_dim],
                extra_sources=[SavableObject("dim", df=dim, to_save=False)],
            ),
        },
        spark=spark,
    )
    out = dag.run(spark.createDataFrame([(1.0,), (2.0,)], "v double"))
    assert [(r.v, r.tag) for r in out.collect()] == [(1.0, "x")]


def test_dag_duplicate_dep_does_not_leak_injection(spark):
    """A duplicated name in depends_on must not corrupt the restore
    bookkeeping — after the phase, the injected side source is gone."""
    from phaser_spark import Phase, dataframe_step
    from phaser_spark.pipeline import DagPipeline

    @dataframe_step(check_size=False)
    def ident(df, context=None):
        return df

    @dataframe_step(check_size=False, extra_sources=["side"])
    def use_side(df, context=None, **kw):
        return df

    dag = DagPipeline(
        phases={
            "side": Phase(name="side", steps=[ident]),
            "final": (
                Phase(name="final", steps=[use_side]),
                ["side", "side", "side"],  # duplicate injections
            ),
        },
        spark=spark,
    )
    dag.run(spark.createDataFrame([(1.0,)], "v double"))
    # restore ran correctly: the injection did not survive the phase
    assert not dag.context.has_source("side")


def test_dag_pipeline_rejects_run_stream(spark):
    import pytest

    from phaser_spark import Phase
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.pipeline import DagPipeline

    dag = DagPipeline(phases={"a": Phase(name="a", steps=[])}, spark=spark)
    with pytest.raises(PhaserError, match="run_stream"):
        dag.run_stream(None, "/tmp/x")


def test_init_source_keeps_declared_type_in_dag_pipeline(spark, tmp_path):
    """A name loaded with ``init_source`` and declared by a phase as an
    ``ExtraMapping`` reaches a row step as that mapping's dict form under
    ``DagPipeline`` exactly as under ``Pipeline`` (both load init sources
    through one method); the DAG used to load a plain SavableObject, so
    the step got a list of rows."""
    from phaser_spark import ExtraMapping, row_step
    from phaser_spark.pipeline import DagPipeline

    lookup = _write_csv(tmp_path, "m.csv", "key,value\na,1\nb,2\n")
    src = _write_csv(tmp_path, "src.csv", "id,k\n1,a\n2,b\n")

    @row_step(extra_sources=["m"], output_schema="kind string, hit string")
    def tag(row, m):
        row["kind"] = type(m).__name__
        row["hit"] = str(m.get(row["k"])) if isinstance(m, dict) else None
        return row

    def phase():
        return Phase(name="P", steps=[tag], extra_sources=[ExtraMapping("m")])

    pipes = [
        Pipeline(working_dir=str(tmp_path / "lin"), source=src, phases=[phase()], spark=spark),
        DagPipeline(
            phases={"P": phase()}, working_dir=str(tmp_path / "dag"), spark=spark
        ),
    ]
    for pipe in pipes:
        pipe.init_source("m", lookup)
        out = pipe.run(src)
        got = {r["id"]: (r["kind"], r["hit"]) for r in out.collect()}
        assert got == {"1": ("TolerantDict", "1"), "2": ("TolerantDict", "2")}, type(pipe)
