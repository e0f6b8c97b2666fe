"""Row-number lineage: ``with_row_numbers`` numbers rows 1..n in partition
order, with per-partition offsets folded into the plan as one literal."""
import pytest
from pyspark.sql import functions as F

from phaser_spark.constants import PHASER_ROW_NUM
from phaser_spark.lineage import release_pinned, with_row_numbers


def _pairs(df):
    return sorted((r["id"], r[PHASER_ROW_NUM]) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_gap_free_with_empty_partitions_interleaved(spark):
    # 30 partitions of 2 rows; only every third partition keeps its rows,
    # so empty partitions sit between, before none and after the last
    df = spark.range(0, 60, 1, 30).filter((F.col("id") / 2).cast("long") % 3 == 0)
    kept = [i for i in range(60) if (i // 2) % 3 == 0]
    numbered = with_row_numbers(df)
    assert _pairs(numbered) == [(i, n) for n, i in enumerate(kept, 1)]
    plan = _plan(numbered)
    assert "Join" not in plan and "BroadcastExchange" not in plan


def test_start_above_one(spark):
    numbered = with_row_numbers(spark.range(0, 12, 1, 5), start=100)
    assert _pairs(numbered) == [(i, 100 + i) for i in range(12)]


def test_pinned_post_shuffle_input(spark):
    pins = []
    numbered = with_row_numbers(spark.range(0, 200, 1, 3).repartition(7), pins=pins)
    assert len(pins) == 1  # a shuffled input is pinned automatically
    try:
        first = _pairs(numbered)
        assert sorted(n for _, n in first) == list(range(1, 201))
        assert sorted(i for i, _ in first) == list(range(200))
        # the pin keeps the layout: a second action gives the same numbers
        assert _pairs(numbered) == first
        plan = _plan(numbered)
        assert "Join" not in plan and "BroadcastExchange" not in plan
    finally:
        release_pinned(pins)


def test_zero_rows(spark):
    numbered = with_row_numbers(spark.range(0, 10, 1, 4).filter("id < 0"), start=5)
    assert PHASER_ROW_NUM in numbered.columns
    assert numbered.collect() == []


def test_rows_in_a_partition_the_counts_did_not_see_fail(spark, tmp_path):
    # the filter reads its threshold from a file on every call, so the
    # counts see rows only in partition 0 and the numbering job sees rows
    # in partitions 1..3 as well: those rows must fail, not go unnumbered
    limit = tmp_path / "limit"
    limit.write_text("5")
    below = F.udf(lambda i: i < int(limit.read_text()), "boolean")
    df = spark.range(0, 40, 1, 4).filter(below("id"))
    numbered = with_row_numbers(df, cache=False)
    limit.write_text("40")
    with pytest.raises(Exception, match="row numbering: partition"):
        numbered.collect()

