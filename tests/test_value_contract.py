"""What a Python worker hands user code, and what it hands back.

The schema probe of a row step and its extra sources hand it the same
values, read through the same row shell on the driver.

A row function sees plain Python values, as in the reference's pure-Python
rows: NaN is ``float('nan')``, null is ``None``, a ``long`` an ``int``, an
array a ``list``, a map a ``dict``, a date a ``date`` and a timestamp a
naive wall-clock ``datetime`` in the session time zone.  Every worker that
passes columns through (``row_step``, the Python ``filter_rows``,
``pca_project``'s Arrow path, ``decode_and_featurize``) gives them back
unchanged: NaN stays NaN, null stays null, a timestamp keeps its instant.
"""
import datetime
import math
import sys

import pyarrow as pa
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql import types as T

from phaser_spark import Context, ExtraMapping, ExtraRecords, IntColumn, Phase, row_step
from phaser_spark.builtin_steps import filter_rows
from phaser_spark.constants import DROP_COL

# the row functions below call this module's helpers on the Python
# workers, which cannot import a test module by name
cloudpickle.register_pickle_by_value(sys.modules[__name__])

SESSION_TZ = "America/New_York"
WALL_CLOCK = datetime.datetime(2024, 3, 1, 12, 0)
NAN, INF = float("nan"), float("inf")

# (id, d, n, s, arr, m, day, p): d and p are doubles the workers only
# pass through; row 4 is null wherever a column may be
ROWS = [
    (1, NAN, 1, (1, "x"), [1.0, NAN], {"k": 1}, datetime.date(2024, 1, 2), NAN),
    (2, INF, 2**40, (2, "y"), [-INF, 0.5], {"k": 2, "j": 3},
     datetime.date(2024, 1, 3), INF),
    (3, -INF, None, (None, "z"), [None, 2.0], {"k": None},
     datetime.date(2024, 1, 4), -INF),
    (4, None, None, None, None, None, None, None),
    (5, 1.5, -7, (5, None), [3.0], {"q": 4}, datetime.date(2024, 1, 6), 2.5),
]
SCHEMA = (
    "id long, d double, n long, s struct<a: long, b: string>, "
    "arr array<double>, m map<string, long>, day date, p double"
)


@pytest.fixture()
def session_tz(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", SESSION_TZ)
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


@pytest.fixture()
def values(spark, session_tz):
    # the literal is read in the session zone: 12:00 New York wall clock
    ts = F.to_timestamp(F.lit(WALL_CLOCK.isoformat(sep=" ")))
    return spark.createDataFrame(ROWS, SCHEMA).withColumn(
        "ts", F.when(F.col("id") != 4, ts)
    )


def _same(a, b):
    """Equal, with NaN equal to NaN and a struct ``Row`` to its tuple."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _by_id(df, cols):
    return {
        r["id"]: r
        for r in df.select("id", *cols, F.col("ts").cast("long").alias("instant"))
        .collect()
    }


def _assert_passed_through(values, out, cols):
    """Every value of ``cols`` comes back as it went in: NaN as NaN, null
    as null, the timestamp at the same instant."""
    want, got = _by_id(values, cols), _by_id(out, cols)
    assert sorted(got) == sorted(want)
    for i, row in want.items():
        for c in [*cols, "instant"]:
            assert _same(got[i][c], row[c]), (i, c, got[i][c], row[c])


def _expected_view(i):
    """What a row function gets for row ``i``: plain Python values."""
    _, d, n, s, arr, m, day, p = ROWS[i - 1]
    return {
        "d": d, "n": n, "arr": arr, "m": m, "day": day, "p": p,
        "s": None if s is None else {"a": s[0], "b": s[1]},
        "ts": None if i == 4 else WALL_CLOCK,
    }


def _view_matches(row) -> bool:
    """Whether a row function got exactly the plain values, types included
    (a naive ``datetime`` never equals an aware one)."""
    return all(
        type(row[k]) is type(v) and _same(row[k], v)
        for k, v in _expected_view(row["id"]).items()
    )


def _run(spark, steps, df):
    return Phase(name="values", steps=steps, context=Context(spark=spark)).run(df)


def test_row_step_sees_python_values_and_passes_them_back(spark, values):
    @row_step(output_schema="seen boolean")
    def look(row):
        row["seen"] = _view_matches(row)
        return row

    out = _run(spark, [look], values)
    assert {r["id"]: r["seen"] for r in out.collect()} == dict.fromkeys(range(1, 6), True)
    _assert_passed_through(values, out, ["d", "n", "s", "arr", "m", "day", "p"])


def test_row_step_sampled_schema_reads_back_what_the_worker_returns(spark, values):
    import warnings

    @row_step
    def copy(row):
        return {f"{c}2": row[c] for c in ("d", "n", "arr", "m", "day", "ts")}

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = _run(spark, [copy], values)
    cols = ["d", "n", "arr", "m", "day"]
    for c in [*cols, "ts"]:
        assert out.schema[f"{c}2"].dataType == values.schema[c].dataType, c
    copies = out.select("id", *[F.col(f"{c}2").alias(c) for c in [*cols, "ts"]])
    _assert_passed_through(values, copies, cols)


#: what the schema probe's calls of a row function saw, on the driver
PROBE_SAW: list = []


def test_schema_probe_sees_the_workers_values(spark, values):
    import warnings

    PROBE_SAW.clear()

    @row_step
    def record(row):
        PROBE_SAW.append(_view_matches(row))
        return {**row, "seen": True}

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        # building the plan runs the probe; the workers never run here
        _run(spark, [record], values)
    assert PROBE_SAW == [True] * len(ROWS)


def test_schema_probe_samples_only_rows_the_function_is_called_on(spark):
    import warnings

    # rows 1-10 come first and break the contract, so the workers never
    # call the function on them; it returns a string there
    @row_step
    def tag(row):
        return {**row, "tag": "quarantined" if row["v"] < 0 else row["id"]}

    df = spark.createDataFrame(
        [(i, -1 if i <= 10 else i) for i in range(1, 31)], "id long, v long"
    )
    phase = Phase(name="values", columns=[IntColumn("v", min_value=0)],
                  steps=[tag], context=Context(spark=spark))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = phase.run(df)
    assert out.schema["tag"].dataType == T.LongType()
    got = {r["id"]: r["tag"] for r in out.select("id", "tag").collect()}
    assert got == {i: None if i <= 10 else i for i in range(1, 31)}


def test_extra_sources_hold_the_rows_values(spark, values):
    @row_step(extra_sources=["records", "ts_by_id"],
              output_schema="records_same boolean, mapping_same boolean")
    def compare(row, records, ts_by_id):
        ts = ts_by_id[row["id"]]
        row["records_same"] = _view_matches(row) and all(map(_view_matches, records))
        row["mapping_same"] = type(ts) is type(row["ts"]) and ts == row["ts"]
        return row

    context = Context(spark=spark)
    context.set_source(ExtraRecords("records", values))
    context.set_source(ExtraMapping(
        "ts_by_id", values.select(F.col("id").alias("key"), F.col("ts").alias("value"))
    ))
    phase = Phase(name="values", steps=[compare], context=context,
                  extra_sources=["records", "ts_by_id"])
    got = phase.run(values).select("records_same", "mapping_same").collect()
    assert [tuple(r) for r in got] == [(True, True)] * len(ROWS)


def test_python_filter_rows_sees_python_values_and_passes_them_back(spark, values):
    out = _run(spark, [filter_rows(_view_matches, name="look")], values)
    kept = out.filter(~F.col(DROP_COL))
    assert sorted(r["id"] for r in kept.collect()) == [1, 2, 3, 4, 5]
    _assert_passed_through(values, kept, ["d", "n", "s", "arr", "m", "day", "p"])


def test_pca_project_arrow_path_passes_columns_back(spark, values):
    from phaser_spark.ops import embeddings as emb

    d, k = 64, 65  # k*d = 4160 > 4096: the Arrow path
    model = {
        "mean": [0.0] * d,
        "components": [[1.0 if j == i % d else 0.0 for j in range(d)] for i in range(k)],
        "explained_variance": [1.0] * k,
    }
    vecs = values.withColumn(
        "v", F.array_repeat(F.coalesce(F.col("d"), F.lit(0.0)), d)
    )
    out = emb.pca_project(vecs, model, vec_col="v", out_col="proj")
    _assert_passed_through(values, out, ["d", "n", "s", "arr", "m", "day", "p"])
    proj = {r["id"]: r["proj"] for r in out.select("id", "proj").collect()}
    # NaN computes through the matmul; Inf·0 is NaN
    assert math.isnan(proj[1][0]) and math.isnan(proj[2][0])
    assert proj[5] == [1.5] * k


def test_decode_and_featurize_passes_columns_back(spark, values):
    from phaser_spark.ops import multimodal

    media = values.withColumn("content", F.col("id").cast("string").cast("binary"))
    out = multimodal.decode_and_featurize(media)
    _assert_passed_through(values, out, ["d", "n", "s", "arr", "m", "day", "p"])
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in out.collect())


# (column type, value a row step returns) -> what the column reads back,
# and the pairs it refuses: the coercions of the earlier pandas shell,
# kept by the Arrow shell
COERCED = {
    ("long", "5"): 5, ("long", 3.0): 3, ("long", True): 1, ("long", 5): 5,
    ("double", "5"): 5.0, ("double", 3.0): 3.0, ("double", 3.7): 3.7,
    ("double", True): 1.0, ("double", 5): 5.0,
    ("string", "5"): "5",
}
REFUSED = [("long", 3.7), ("string", 3.0), ("string", 3.7), ("string", True),
           ("string", 5)]


def test_row_step_coercion_table(spark):
    names = {key: f"c{i}" for i, key in enumerate(COERCED)}

    @row_step(output_schema=", ".join(f"{names[key]} {key[0]}" for key in COERCED))
    def put(row):
        return {names[key]: key[1] for key in COERCED}

    (row,) = _run(spark, [put], spark.createDataFrame([(1,)], "id long")).collect()
    got = {key: row[names[key]] for key in COERCED}
    assert got == COERCED and all(type(got[k]) is type(v) for k, v in COERCED.items())

    # one refusal fails the Spark job; the rest are pinned on the shell
    # itself, which raises the same Arrow error without a job
    @row_step(output_schema="c long")
    def put_fraction(row):
        return {"c": 3.7}

    with pytest.raises(Exception):
        _run(spark, [put_fraction], spark.createDataFrame([(1,)], "id long")).collect()
    from phaser_spark.steps import rows_batch

    for typ, v in REFUSED:
        with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
            rows_batch(T.StructType.fromDDL(f"c {typ}"), "UTC")([{"c": v}])
