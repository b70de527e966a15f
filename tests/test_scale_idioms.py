"""Scale-idiom tests: salted aggregation correctness under synthetic
skew, and bucketed-join plans with zero exchanges.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from post_modern_stack_spark.operators import skew
from post_modern_stack_spark.registry import load_table
from post_modern_stack_spark.sources import layout

SF = "/root/testdata/sf0.001"


def test_salted_aggregate_matches_plain(spark):
    """Skewed input (one hot key = 90% of rows): salted two-phase agg
    must equal the plain groupBy exactly."""
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            (F.col("id") % 7).cast("string")
        ).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"])
        for r in skew.salted_aggregate(df, ["k"], sums={"v": "s"}).collect()
    }
    assert salted == plain


def test_salted_ordered_collect_matches_plain(spark):
    from post_modern_stack_spark.functions import ordered_collect

    ev = load_table(spark, SF, "events").select("user_id", "ts_ns", "event_id", "value")
    plain = {
        r["user_id"]: r["arr"]
        for r in ev.groupBy("user_id")
        .agg(ordered_collect("value", "ts_ns", "event_id").alias("arr"))
        .collect()
    }
    salted = {
        r["user_id"]: r["arr"]
        for r in skew.salted_ordered_collect(
            ev, ["user_id"], "value", ["ts_ns", "event_id"]
        ).collect()
    }
    assert salted == plain


def test_compaction_preserves_data(spark, tmp_path):
    """Fragmented layout → compact to 2 files; contents identical."""
    import glob

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF, "events")
    ev.repartition(16).write.mode("overwrite").parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 16
    before = sorted(r["event_id"] for r in spark.read.parquet(path).collect())
    n = layout.compact(spark, path, target_files=2, sort_cols=["ts_ns"])
    assert n <= 2
    after = sorted(r["event_id"] for r in spark.read.parquet(path).collect())
    assert after == before


def test_clustered_write_narrow_file_ranges(spark, tmp_path):
    """Range-clustered files carry disjoint-ish user_id ranges (file
    stats enable pruning); data round-trips exactly."""
    import pyarrow.parquet as pq
    import glob

    path = str(tmp_path / "clustered")
    ev = load_table(spark, SF, "events")
    layout.write_clustered(
        ev.select("event_id", "user_id", "ts_ns", "value"),
        path,
        ["user_id"],
        sort_cols=["user_id", "ts_ns"],
        partitions=4,
    )
    files = glob.glob(path + "/*.parquet")
    assert len(files) >= 2
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "user_id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # consecutive files must not fully overlap (clustering did happen)
    overlaps = sum(1 for (a, b), (c, d) in zip(ranges, ranges[1:]) if c < b and a < d)
    assert overlaps <= len(ranges) // 2
    assert spark.read.parquet(path).count() == ev.count()


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key: the join plan must contain
    no Exchange (the 100 TB co-location payoff). Managed tables land in
    the session warehouse dir (./spark-warehouse, gitignored) and are
    dropped afterwards."""
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    layout.write_bucketed(orders, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    layout.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        ["o_orderkey"],
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = layout.bucketed_join_ready(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        # and it computes the right thing
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_chunked_running_sum_matches_plain_window(spark):
    """Distributed prefix-sum parity: chunked decomposition equals the
    single-window running sum row for row (chunk span forced small so
    every user crosses many chunks)."""
    from pyspark.sql import Window

    from post_modern_stack_spark.operators.skew import chunked_running_sum
    from post_modern_stack_spark.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts_ns", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["user_id"], r["event_id"]): r["run"]
        for r in ev.withColumn("run", F.sum("value").over(w)).collect()
    }
    # ~6-minute chunks in ns → events spread over many chunks per user
    got_df = chunked_running_sum(
        ev,
        ["user_id"],
        "ts_ns",
        ["event_id"],
        "value",
        out_col="run",
        chunk_span=360_000_000_000,
    )
    got = {(r["user_id"], r["event_id"]): r["run"] for r in got_df.collect()}
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, k
    # and the decomposition really used >1 chunk for most users
    n_chunks = ev.select(
        "user_id", (F.col("ts_ns") / 360_000_000_000).cast("long").alias("c")
    ).distinct().groupBy("user_id").count()
    assert n_chunks.filter(F.col("count") > 1).count() > 0


def test_hll_sketch_merge_tracks_exact_distinct(spark):
    """K6 mergeable sketches: the union of per-day HLL sketches
    estimates the period distinct within HLL error (≤5% at default
    lgConfigK=12), and is NOT the (overcounting) sum of daily counts."""
    import __spark_entry__ as entry_mod
    from post_modern_stack_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    row = entry_mod.queries()["daily_sketch_rollup"](spark, sf).collect()[0]
    exact = (
        load_table(spark, sf, "events").select("user_id").distinct().count()
    )
    assert abs(row["distinct_users_merged"] - exact) / exact <= 0.05
    assert row["sum_daily_distincts"] >= row["distinct_users_merged"]


def _hyp_session():
    from post_modern_stack_spark.session import get_spark

    return get_spark()


def test_zorder_key_is_bijective_and_pure():
    """Morton interleave properties over random in-range pairs: the key
    is a bijection (distinct inputs → distinct keys) and decomposes
    back to its inputs bit-by-bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from post_modern_stack_spark.sources.layout import zorder_key

    spark = _hyp_session()

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255)),
            min_size=2,
            max_size=50,
            unique=True,
        )
    )
    def prop(pairs):
        df = spark.createDataFrame(pairs, "x long, y long")
        rows = df.select("x", "y", zorder_key(["x", "y"], bits=8).alias("k")).collect()
        keys = [r["k"] for r in rows]
        assert len(set(keys)) == len(pairs)  # bijective on unique pairs
        for r in rows:
            x = y = 0
            for bit in range(8):
                x |= ((r["k"] >> (2 * bit)) & 1) << bit
                y |= ((r["k"] >> (2 * bit + 1)) & 1) << bit
            assert (x, y) == (r["x"], r["y"])

    prop()


def test_chunked_running_sum_property_random_timelines():
    """Prefix-sum decomposition equals the plain running window on
    arbitrary small timelines (duplicate timestamps included — the
    tie-break column disambiguates identically in both plans)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from post_modern_stack_spark.operators.skew import chunked_running_sum

    spark = _hyp_session()

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 2),          # key
                st.integers(0, 1000),       # order value (dupes likely)
                st.floats(-100, 100, allow_nan=False, width=32),
            ),
            min_size=1,
            max_size=60,
        )
    )
    def prop(rows):
        data = [(k, t, i, float(v)) for i, (k, t, v) in enumerate(rows)]
        df = spark.createDataFrame(data, "k long, t long, uid long, v double")
        w = (
            Window.partitionBy("k")
            .orderBy("t", "uid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {
            (r["k"], r["uid"]): r["run"]
            for r in df.withColumn("run", F.sum("v").over(w)).collect()
        }
        got_df = chunked_running_sum(
            df, ["k"], "t", ["uid"], "v", out_col="run", chunk_span=100
        )
        got = {(r["k"], r["uid"]): r["run"] for r in got_df.collect()}
        assert got.keys() == want.keys()
        for key, val in want.items():
            assert abs(got[key] - val) < 1e-6, key

    prop()


def test_salted_join_parity_with_plain_join(spark):
    """salted_join == plain join for inner and left_outer, including a
    hot key (80% of left rows) and left rows with no match."""
    import random

    from pyspark.sql import Row

    from post_modern_stack_spark.operators.skew import salted_join

    rng = random.Random(11)
    left = spark.createDataFrame(
        [
            Row(k=0 if rng.random() < 0.8 else rng.randrange(1, 30), lv=i)
            for i in range(500)
        ]
    )
    # keys 0..19 matched (key 0 hot, multiple right rows); 20+ unmatched
    right = spark.createDataFrame(
        [Row(k=i % 20, rv=100 + i) for i in range(40)]
    )
    for how in ("inner", "left_outer"):
        got = sorted(
            map(tuple, salted_join(left, right, "k", buckets=4, how=how).collect())
        )
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, f"salted_join diverges for how={how}"

    import pytest

    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="right_outer")


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """Rewriting one partition with dynamic mode must leave sibling
    partitions' data intact; static overwrite would drop them. Also
    asserts the partition filter prunes at scan (PartitionFilters)."""
    import glob

    path = str(tmp_path / "part")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(30)],
        ["id", "day", "v"],
    )
    layout.write_partitioned(base, path, ["day"])
    assert spark.read.parquet(path).count() == 30

    patch = spark.createDataFrame([(99, "2024-01-02", -1.0)], ["id", "day", "v"])
    layout.write_partitioned(patch, path, ["day"], dynamic=True)
    after = spark.read.parquet(path)
    # day 2 replaced by the single patch row; days 1 and 3 untouched
    assert after.count() == 21
    assert after.filter(F.col("day") == "2024-01-02").count() == 1
    assert after.filter(F.col("day") == "2024-01-01").count() == 10

    plan = after.filter(F.col("day") == "2024-01-03")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:120]


def test_bloom_filter_layout_written_and_readable(spark, tmp_path):
    """Bloom-filtered parquet round-trips, point lookups still hit, and
    the filter bitset is actually in the files (this pyarrow build
    doesn't surface bloom metadata, so the ~1.2 bytes/ndv footprint
    delta vs a plain write is the observable)."""
    import glob
    import os

    bloom_path = str(tmp_path / "bloom")
    plain_path = str(tmp_path / "plain")
    df = spark.range(5000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("key")
    ).coalesce(1)
    layout.write_with_bloom_filters(df, bloom_path, ["key"], ndv=5000)
    df.write.mode("overwrite").parquet(plain_path)

    back = spark.read.parquet(bloom_path)
    assert back.count() == 5000
    probe = back.filter(
        F.col("key")
        == spark.range(1).select(F.sha2(F.lit("7"), 256)).collect()[0][0]
    )
    assert probe.count() == 1

    size = lambda p: sum(os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet"))
    assert size(bloom_path) - size(plain_path) > 4000


def test_join_strategy_hints_are_honored(spark):
    """Join strategy control (the tuning surface when AQE's choice is
    wrong): broadcast / merge / shuffle_hash hints must each produce
    their join operator for the same logical join."""
    import io
    from contextlib import redirect_stdout

    left = spark.range(10_000).select(F.col("id"), (F.col("id") * 2).alias("a"))
    right = spark.range(1_000).select(F.col("id"), (F.col("id") * 3).alias("b"))

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert "BroadcastHashJoin" in plan(left.join(right.hint("broadcast"), "id"))
    assert "SortMergeJoin" in plan(left.join(right.hint("merge"), "id"))
    assert "ShuffledHashJoin" in plan(left.join(right.hint("shuffle_hash"), "id"))


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """DPP: a fact partitioned by day, joined to a dim filtered to 2
    days, must scan only those partitions — the filter arrives at the
    fact scan as a dynamicpruning subquery, not a full scan + join."""
    fact = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("string").alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "fact_days")
    fact.write.mode("overwrite").partitionBy("day").parquet(path)
    f = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("3", "a"), ("7", "b"), ("9", "zz")], "day string, label string"
    )
    try:
        # local tiny fixtures fail DPP's stats-based benefit estimate;
        # the mechanism under test is the pruning subquery itself
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false"
        )
        joined = f.join(dim.filter(F.col("label") < "z"), "day")
        plan = joined._jdf.queryExecution().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # and it computes the right rows: only days 3 and 7
        assert joined.count() == 400
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats"
        )


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE must shrink the 32 configured shuffle partitions for a tiny
    aggregate — the final (adaptive) plan shows coalesced reads, so
    downstream stages don't schedule 32 near-empty tasks."""
    df = spark.range(0, 1000).groupBy((F.col("id") % 5).alias("g")).count()
    df.collect()  # materialize so AQE finalizes the plan
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final_plan and "coalesced" in final_plan, (
        final_plan[:1500]
    )


def test_widen_narrow_scan_conditional(spark, tmp_path):
    """r11 widen_narrow_scan: a narrow (single-row-group) scan is
    round-robin repartitioned to defaultParallelism; an already-wide
    frame is returned untouched (identity object, no added exchange) —
    the production-scale no-op guarantee."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    p = str(tmp_path / "one_group.parquet")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() == 1
    widened = widen_narrow_scan(narrow)
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == target
    # values unchanged
    assert sorted(r.id for r in widened.collect()) == list(range(1000))

    wide = spark.range(1000).repartition(max(2, target))
    assert widen_narrow_scan(wide) is wide


def test_widen_narrow_scan_counts_row_groups_not_splits(spark, tmp_path):
    """A one-row-group file split into many byte ranges still reads on
    one task, so it is widened; a file with enough row groups is not,
    nor is a wide scan whose files have no parquet footer (CSV)."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    target = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one_group.parquet")
    many = str(tmp_path / "many_groups.parquet")
    spark.range(20000).coalesce(1).write.parquet(one)
    spark.range(20000).repartition(target).write.parquet(many)
    csv = str(tmp_path / "rows.csv")
    spark.range(20000).coalesce(1).write.csv(csv)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        split = spark.read.parquet(one)
        assert split.rdd.getNumPartitions() >= target
        widened = widen_narrow_scan(split)
        assert widened is not split
        assert widened.rdd.getNumPartitions() == target
        assert widened.count() == 20000
        wide = spark.read.parquet(many)
        assert widen_narrow_scan(wide) is wide
        text = spark.read.csv(csv)
        assert text.rdd.getNumPartitions() >= target
        assert widen_narrow_scan(text) is text
    finally:
        spark.conf.set(key, old)

