"""operators/profile.summarize — generic two-pass column profiler."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from post_modern_stack_spark.operators.profile import summarize


def test_summarize_values_and_types(spark):
    df = spark.createDataFrame(
        [
            Row(i=10, d=2.5, s="b"),
            Row(i=2, d=None, s="a"),
            Row(i=10, d=-1.25, s=None),
            Row(i=None, d=10.0, s="a"),
        ]
    )
    got = {r["column"]: r for r in summarize(df).collect()}
    assert set(got) == {"i", "d", "s"}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert (got["i"]["n_nulls"], got["i"]["n_distinct"]) == (1, 2)
    # min/max on the NATIVE type: 2 < 10 numerically (lexicographic
    # string ordering would say "10" < "2")
    assert (got["i"]["min_s"], got["i"]["max_s"]) == ("2", "10")
    assert (got["d"]["n_nulls"], got["d"]["n_distinct"]) == (1, 3)
    assert float(got["d"]["min_s"]) == -1.25 and float(got["d"]["max_s"]) == 10.0
    assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
    assert (got["s"]["min_s"], got["s"]["max_s"]) == ("a", "b")


def test_summarize_subset_errors_and_empty(spark):
    df = spark.range(3).select(F.col("id").alias("a"), F.lit("x").alias("b"))
    rows = summarize(df, ["a"]).collect()
    assert [r["column"] for r in rows] == ["a"]
    with pytest.raises(ValueError, match="unknown columns"):
        summarize(df, ["a", "nope"])
    with pytest.raises(ValueError, match="no columns"):
        summarize(df, [])
    # empty-table edge: n_nulls is a SUM, so NULL as in SQL; min/max null
    empty = df.filter(F.lit(False))
    r = summarize(empty, ["a"]).collect()[0]
    assert (r["n_rows"], r["n_nulls"], r["n_distinct"]) == (0, None, 0)
    assert r["min_s"] is None and r["max_s"] is None


def test_summarize_scan_and_operator_shape(spark):
    """The profile reads all columns in exactly TWO aggregate passes
    (r11: one Expand+HashAggregate pass for every countDistinct, one
    streaming keys=[] pass for nulls/min/max — the single combined agg
    forced SortAggregate over the sorted Expand fan-out because
    var-length min/max buffers are not hash-aggregable), never one
    scan per column. The distinct side must stay a HashAggregate and
    the plan must hold no Sort node at all."""
    df = spark.range(1000).select(
        F.col("id").alias("a"),
        (F.col("id") % 7).alias("b"),
        (F.col("id") % 3).cast("string").alias("c"),
    )
    plan = summarize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Range (") == 2  # two passes, not per-column
    # the Expand (distinct) side hash-aggregates; nothing sorts
    assert "HashAggregate" in plan
    assert "Sort " not in plan
