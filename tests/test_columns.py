"""Column cast/validate parity tests (reference tests/test_columns.py shapes)."""
import datetime

from pyspark.sql import functions as F

from phaser_spark import (
    BooleanColumn,
    Column,
    DateColumn,
    DateTimeColumn,
    FloatColumn,
    IntColumn,
    Phase,
    make_strict_name,
)
from phaser_spark.constants import ERROR_COL


def run_cols(spark, columns, rows, header):
    df = spark.createDataFrame(rows, header)
    ph = Phase(name="T", columns=columns, context=None)
    from phaser_spark.context import Context

    ph.context = Context(spark=spark)
    return ph.run(df)


def val(df, col):
    out = df.orderBy("__phaser_row_num__").select(col).collect()
    return [r[col] for r in out]


def errs(df):
    out = df.orderBy("__phaser_row_num__").select(ERROR_COL).collect()
    return [r[ERROR_COL]["message"] if r[ERROR_COL] else None for r in out]


def test_int_cast_via_decimal(spark):
    # "5.0" → 5 (int(Decimal) semantics, phaser/column.py:280-283)
    df = run_cols(spark, [IntColumn("n")], [("5.0",), ("7",), ("",), ("NULL",)], ["n"])
    assert val(df, "n") == [5, 7, None, None]
    assert errs(df) == [None, None, None, None]


def test_int_cast_error(spark):
    df = run_cols(spark, [IntColumn("n")], [("abc",)], ["n"])
    assert val(df, "n") == [None]
    assert "could not parse" in errs(df)[0]


def test_float_and_range(spark):
    df = run_cols(
        spark,
        [FloatColumn("x", min_value=0.0, max_value=10.0)],
        [("5.5",), ("-1",), ("11",)],
        ["x"],
    )
    assert val(df, "x") == [5.5, -1.0, 11.0]
    e = errs(df)
    assert e[0] is None and "below min_value" in e[1] and "above max_value" in e[2]


def test_boolean_variants(spark):
    rows = [("t",), ("TRUE",), ("1",), ("Yes",), ("y",), ("F",), ("false",), ("0",), ("no",), ("N",), ("maybe",)]
    df = run_cols(spark, [BooleanColumn("b")], rows, ["b"])
    assert val(df, "b") == [True] * 5 + [False] * 5 + [None]
    assert errs(df)[-1] is not None


def test_date_formats(spark):
    df = run_cols(
        spark,
        [DateColumn("d")],
        [("2020-01-02",), ("2020/01/03",), ("20200104",)],
        ["d"],
    )
    assert val(df, "d") == [
        datetime.date(2020, 1, 2),
        datetime.date(2020, 1, 3),
        datetime.date(2020, 1, 4),
    ]


def test_date_explicit_format(spark):
    df = run_cols(
        spark, [DateColumn("d", date_format="%m/%d/%Y")], [("3/22/2233",)], ["d"]
    )
    assert val(df, "d") == [datetime.date(2233, 3, 22)]


def test_datetime_iso(spark):
    df = run_cols(spark, [DateTimeColumn("ts")], [("2021-06-01T12:30:00",)], ["ts"])
    assert val(df, "ts") == [datetime.datetime(2021, 6, 1, 12, 30)]


def test_default_applied_on_null(spark):
    df = run_cols(spark, [Column("c", default="zz")], [(None,), ("NULL",), ("x",)], ["c"])
    assert val(df, "c") == ["zz", "zz", "x"]


def test_null_false_errors(spark):
    df = run_cols(spark, [Column("c", null=False)], [(None,), ("ok",)], ["c"])
    e = errs(df)
    assert "null value" in e[0] and e[1] is None


def test_blank_false_errors(spark):
    df = run_cols(spark, [Column("c", blank=False)], [("",), ("  ",), ("ok",)], ["c"])
    e = errs(df)
    assert "blank" in e[0] and "blank" in e[1] and e[2] is None


def test_allowed_values_after_cast(spark):
    df = run_cols(
        spark, [IntColumn("n", allowed_values=[1, 2])], [("1",), ("3",)], ["n"]
    )
    e = errs(df)
    assert e[0] is None and "allowed_values" in e[1]


def test_fix_value_fn_whitelist(spark):
    df = run_cols(
        spark,
        [Column("c", fix_value_fn="strip"), Column("u", fix_value_fn=["strip", "upper"])],
        [("  a  ", " b ")],
        ["c", "u"],
    )
    assert val(df, "c") == ["a"] and val(df, "u") == ["B"]


def test_fix_value_fn_callable(spark):
    df = run_cols(
        spark, [Column("c", fix_value_fn=lambda v: v[::-1])], [("abc",)], ["c"]
    )
    assert val(df, "c") == ["cba"]


def test_fix_value_fn_callable_gets_ints_beside_nulls(spark):
    """An IntColumn fix callable gets Python ints and is never called with
    a null, even when nulls share its Arrow batch (a pandas UDF hands it
    2.0 there, and ``"ab" * 2.0`` raises)."""
    rows = [(None if i % 3 == 0 else str(i),) for i in range(60)]
    df = run_cols(
        spark, [IntColumn("n", fix_value_fn=lambda v: len("ab" * v))], rows, ["n"]
    )
    assert val(df, "n") == [None if i % 3 == 0 else 2 * i for i in range(60)]


def test_first_failing_column_wins(spark):
    # row fails both columns; declared order decides the recorded error (E4)
    df = run_cols(
        spark,
        [IntColumn("a"), IntColumn("b")],
        [("x", "y")],
        ["a", "b"],
    )
    assert "'a'" in errs(df)[0]


def test_rename_and_canonicalization(spark):
    df = spark.createDataFrame([("1", "x")], [" Crew ID ", "name"])
    from phaser_spark.context import Context

    ph = Phase(
        name="T",
        columns=[IntColumn("crew id", rename=["crewNumber"])],
        context=Context(spark=spark),
    )
    out = ph.run(df)
    assert "crew id" in out.columns
    assert val(out, "crew id") == [1]


def test_make_strict_name():
    assert make_strict_name("Crew_ID") == "crew id"
    assert make_strict_name("  First\tName ") == "first name"


def test_datetime_default_tz(spark):
    from phaser_spark import DateTimeColumn, Phase
    from phaser_spark.context import Context

    df = spark.createDataFrame([("2024-06-01T12:00:00",)], ["t"])
    ph = Phase(name="tz", columns=[DateTimeColumn("t", default_tz="America/New_York")],
               context=Context(spark=spark))
    out = ph.run(df).select("t").collect()
    # noon EDT == 16:00 UTC (session tz is UTC)
    assert out[0].t.hour == 16


def test_datetime_default_tz_format_decides_not_value_suffix(spark):
    """With an explicit datetime_format the FORMAT decides naive-vs-offset:
    '01-06-2024' (%d-%m-%Y) ends in '-2024', which the old value-suffix
    regex mistook for a UTC offset, silently skipping default_tz."""
    from phaser_spark import DateTimeColumn, Phase
    from phaser_spark.context import Context

    df = spark.createDataFrame([("01-06-2024 12:00:00",)], ["t"])
    ph = Phase(
        name="tzfmt",
        columns=[
            DateTimeColumn(
                "t",
                datetime_format="%d-%m-%Y %H:%M:%S",
                default_tz="America/New_York",
            )
        ],
        context=Context(spark=spark),
    )
    out = ph.run(df).select("t").collect()
    assert out[0].t.hour == 16  # default_tz applied: noon EDT == 16:00 UTC


def test_datetime_default_tz_offset_format_skips_default(spark):
    """A %z-bearing format means every value names its instant — default_tz
    must NOT double-shift it."""
    from phaser_spark import DateTimeColumn, Phase
    from phaser_spark.context import Context

    df = spark.createDataFrame([("2024-06-01 12:00:00 +0200",)], ["t"])
    ph = Phase(
        name="tzoff",
        columns=[
            DateTimeColumn(
                "t",
                datetime_format="%Y-%m-%d %H:%M:%S %z",
                default_tz="America/New_York",
            )
        ],
        context=Context(spark=spark),
    )
    out = ph.run(df).select("t").collect()
    assert out[0].t.hour == 10  # noon +02:00 == 10:00 UTC, not re-shifted
