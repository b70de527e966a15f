"""As-of join (union-window) and bucketed range join: hand-computed
expectations, naive-join parity, and plan-shape guards."""

from __future__ import annotations

from pyspark.sql import functions as F

from post_modern_stack_spark.operators.asof import asof_join
from post_modern_stack_spark.operators.rangejoin import interval_join_buckets


def _frames(spark):
    left = spark.createDataFrame(
        [
            # (key, t, left payload)
            ("a", 10, "L1"),
            ("a", 20, "L2"),
            ("a", 5, "L0"),   # before any right row
            ("b", 10, "L3"),  # key with right rows at same t
            ("c", 10, "L4"),  # key with no right rows at all
        ],
        "k string, t long, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("a", 8, 100, 1.0),
            ("a", 10, 101, 2.0),   # equal-t: inclusive match for ("a",10)
            ("a", 15, 102, 3.0),
            ("b", 10, 103, 4.0),
            ("b", 10, 104, 5.0),   # tie on (k,t): max rid wins
        ],
        "k string, t long, rid long, rv double",
    )
    return left, right


def test_asof_backward_inclusive_hand_computed(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on="t", by=["k"], right_cols=["rid", "rv"], right_tie="rid"
    )
    got = {(r.k, r.t): (r.rid, r.rv) for r in out.collect()}
    assert got == {
        ("a", 5): (None, None),       # no right row at or before 5
        ("a", 10): (101, 2.0),        # equal-t inclusive
        ("a", 20): (102, 3.0),
        ("b", 10): (104, 5.0),        # tie at t=10 → max rid
        ("c", 10): (None, None),      # key absent on right
    }


def test_asof_single_exchange_plan(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="t", by=["k"], right_cols=["rid"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one shuffle: the as-of window


def test_interval_join_matches_naive_theta_join(spark):
    import random

    rnd = random.Random(7)
    rows_l = [("k%d" % rnd.randint(0, 4), rnd.randint(0, 1000), i) for i in range(80)]
    rows_r = [
        ("k%d" % rnd.randint(0, 4), rnd.randint(0, 1000), 100 + i, float(i))
        for i in range(200)
    ]
    left = spark.createDataFrame(rows_l, "k string, lt long, lid long")
    right = spark.createDataFrame(rows_r, "k string, rt long, rid long, rv double")

    for lookback, bucket in [(100, None), (100, 40), (250, 100)]:
        fast = interval_join_buckets(
            left,
            right,
            by=["k"],
            left_time="lt",
            right_time="rt",
            lookback=lookback,
            bucket=bucket,
        )
        naive = left.join(right, "k").filter(
            (F.col("rt") >= F.col("lt") - lookback) & (F.col("rt") < F.col("lt"))
        )
        cols = ["k", "lt", "lid", "rt", "rid", "rv"]
        assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
            map(tuple, naive.select(cols).collect())
        ), (lookback, bucket)


def test_interval_join_inclusive_upper(spark):
    left = spark.createDataFrame([("a", 100, 1)], "k string, lt long, lid long")
    right = spark.createDataFrame(
        [("a", 100, 10), ("a", 99, 11), ("a", 0, 12), ("a", 101, 13)],
        "k string, rt long, rid long",
    )
    incl = interval_join_buckets(
        left, right, by=["k"], left_time="lt", right_time="rt",
        lookback=100, strict_upper=False,
    )
    assert sorted(r.rid for r in incl.collect()) == [10, 11, 12]
    strict = interval_join_buckets(
        left, right, by=["k"], left_time="lt", right_time="rt", lookback=100
    )
    assert sorted(r.rid for r in strict.collect()) == [11, 12]


def test_interval_join_no_nested_loop(spark):
    left, right = _frames(spark)
    out = interval_join_buckets(
        left.withColumnRenamed("t", "lt"),
        right.withColumnRenamed("t", "rt"),
        by=["k"],
        left_time="lt",
        right_time="rt",
        lookback=10,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_apply_cdc_update_delete_insert_and_tie(spark):
    """apply_cdc: update wins over snapshot, delete removes, new key
    inserts, and a same-sequence delete+update tie resolves to delete."""
    from pyspark.sql import Row

    from post_modern_stack_spark.operators.cdc import apply_cdc

    snap = spark.createDataFrame(
        [Row(k=1, v="a", seq=0), Row(k=2, v="b", seq=0), Row(k=3, v="c", seq=0)]
    )
    chg = spark.createDataFrame(
        [
            Row(k=1, v="a2", seq=5, op="U"),   # update
            Row(k=2, v=None, seq=5, op="D"),   # delete
            Row(k=4, v="d", seq=5, op="U"),    # insert (new key)
            Row(k=3, v="c2", seq=7, op="U"),   # same-seq tie with delete
            Row(k=3, v=None, seq=7, op="D"),
        ]
    )
    got = {r["k"]: r["v"] for r in apply_cdc(snap, chg, ["k"], "seq").collect()}
    assert got == {1: "a2", 4: "d"}  # 2 deleted, 3's tie -> delete wins


def test_scd2_intervals_runs_and_bounds(spark):
    """scd2_intervals: change runs collapse to [valid_from, valid_to)
    with NULL valid_to on the open run and per-run event counts."""
    from pyspark.sql import Row

    from post_modern_stack_spark.operators.cdc import scd2_intervals

    rows = [
        Row(k=1, attr="x", seq=10, tid=0),
        Row(k=1, attr="x", seq=20, tid=1),
        Row(k=1, attr="y", seq=30, tid=2),
        Row(k=1, attr="x", seq=40, tid=3),  # x again -> NEW run, not merged
        Row(k=2, attr="z", seq=15, tid=4),
    ]
    df = spark.createDataFrame(rows)
    got = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in scd2_intervals(df, ["k"], "attr", "seq", ["tid"]).collect()
    )
    assert got == [
        (1, "x", 10, 30, 2),
        (1, "x", 40, None, 1),
        (1, "y", 30, 40, 1),
        (2, "z", 15, None, 1),
    ]
