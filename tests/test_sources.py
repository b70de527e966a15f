"""H1-H3 source/sink round-trips + hypothesis property tests for the
shaping primitives (SURVEY.md §5 strategy 4).
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from post_modern_stack_spark.functions import ordered_collect, pad_sequence
from post_modern_stack_spark.registry import load_table
from post_modern_stack_spark.sources import ingest


def test_csv_roundtrip_quote_all_gzip(spark, tmp_path):
    """H1/H2/H3: quote-all gzip CSV out, explicit-schema read back —
    values (incl. embedded commas/quotes) survive the trip."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(id=1, name='comma, and "quote"', amount=1.5),
            Row(id=2, name=None, amount=-2.25),
            Row(id=3, name="plain", amount=0.0),
        ],
        schema,
    )
    path = str(tmp_path / "csvout")
    ingest.write_csv(df, path)
    back = ingest.read_csv(spark, path, schema)
    assert sorted(back.collect(), key=lambda r: r["id"]) == sorted(
        df.collect(), key=lambda r: r["id"]
    )
    # gzip applied (H2)
    import glob

    gz_files = glob.glob(path + "/*.csv.gz")
    assert gz_files
    # quoteAll (H1): every field in the raw file is double-quoted, matching
    # the reference's csv.QUOTE_ALL writer (upload_to_snowflake.py:158-176)
    import gzip

    for f in gz_files:
        with gzip.open(f, "rt") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                assert line.startswith('"') and line.endswith('"'), line


def test_ingest_max_sessions_cap(spark, tmp_path):
    """H7: MAX_SESSIONS truncation — only the first N session rows are
    exploded and loaded (reference upload_to_snowflake.py:152-165 caps
    the session iterator at MAX_SESSIONS)."""
    sessions = spark.createDataFrame(
        [
            Row(
                events=[
                    Row(
                        event_type="event_product",
                        hashed_url=f"u{i}-{j}",
                        product_action="detail",
                        product_sku=f"sku{i}",
                        server_timestamp_epoch_ms="1547528000000",
                        session_id=f"s{i}",
                    )
                    for j in range(3)
                ]
            )
            for i in range(10)
        ]
    ).coalesce(1)
    out = str(tmp_path / "capped")
    ingest.ingest_events(sessions, out, "tenant-cap", max_sessions=4)
    raw = ingest.read_raw_events(spark, out)
    # 4 sessions x 3 events each — the cap applies to SESSIONS, not rows
    assert raw.count() == 12
    # uncapped control
    out2 = str(tmp_path / "uncapped")
    ingest.ingest_events(sessions, out2, "tenant-cap")
    assert ingest.read_raw_events(spark, out2).count() == 30


def test_ingest_partitioned_by_tenant(spark, tmp_path):
    """The api_key partition layout (the 100 TB pruning decision)."""
    sessions = spark.createDataFrame(
        [
            Row(
                events=[
                    Row(
                        event_type="event_product",
                        hashed_url="u",
                        product_action="detail",
                        product_sku="s",
                        server_timestamp_epoch_ms="1547528000000",
                        session_id="s1",
                    )
                ]
            )
        ]
    )
    out = str(tmp_path / "raw")
    ingest.ingest_events(sessions, out, "tenant-x")
    import os

    assert any(d.startswith("api_key=tenant-x") for d in os.listdir(out))
    # partition-pruned read path
    raw = ingest.read_raw_events(spark, out).filter(F.col("api_key") == "tenant-x")
    assert raw.count() == 1
    # the declared read schema is the one parquet would infer, partition
    # column last, so naming it skips the footer job and changes nothing
    assert ingest.read_raw_events(spark, out).schema == spark.read.parquet(out).schema


# --- hypothesis property tests (driver-side example generation, one
# Spark round-trip per example batch — examples kept small) -----------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.lists(st.integers(0, 99), max_size=30), min_size=1, max_size=8),
    st.integers(1, 25),
)
def test_pad_sequence_properties(arrs, maxlen):
    spark = _session()
    df = spark.createDataFrame(
        [Row(i=i, a=a) for i, a in enumerate(arrs)],
        T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("a", T.ArrayType(T.IntegerType()), True),
            ]
        ),
    )
    out = df.select("i", "a", pad_sequence("a", maxlen).alias("p")).collect()
    for r in out:
        assert len(r["p"]) == maxlen  # always exact width
        tail = r["a"][-maxlen:]
        assert r["p"] == [0] * (maxlen - len(tail)) + tail  # keras parity


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 10), st.text("abc", max_size=3)),
        min_size=1,
        max_size=40,
    )
)
def test_ordered_collect_matches_python_sort(rows):
    spark = _session()
    df = spark.createDataFrame(
        [Row(g=g, ts=ts, v=v) for g, ts, v in rows],
        T.StructType(
            [
                T.StructField("g", T.IntegerType()),
                T.StructField("ts", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]
        ),
    ).repartition(8)  # force shuffle nondeterminism into collect_list
    got = {
        r["g"]: r["arr"]
        for r in df.groupBy("g")
        .agg(ordered_collect("v", "ts", "v").alias("arr"))
        .collect()
    }
    expect: dict[int, list[str]] = {}
    for g, ts, v in sorted(rows, key=lambda x: (x[1], x[2])):
        expect.setdefault(g, []).append(v)
    assert got == expect


def _session():
    from post_modern_stack_spark.session import get_spark

    return get_spark(app_name="pmss-tests", shuffle_partitions=8)


def test_jsonl_roundtrip_and_permissive_corrupt_line(spark, tmp_path):
    """JSONL sink/source round trip preserves values; a malformed line
    surfaces as a NULL row carrying _corrupt_record, not a job failure."""
    from pyspark.sql import types as T

    from post_modern_stack_spark.sources.ingest import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25)], "id long, name string, score double"
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out, compression=None)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    back = read_jsonl(spark, out, schema)
    assert {tuple(r) for r in back.collect()} == {(1, "a", 1.5), (2, "b", -0.25)}

    # corrupt line handling
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    (bad_dir / "part-0.json").write_text('{"id": 3, "name": "c", "score": 2.0}\n{oops\n')
    schema_c = schema.add("_corrupt_record", T.StringType())
    rows = read_jsonl(spark, str(bad_dir), schema_c).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["id"] == 3
    assert len(bad) == 1 and bad[0]["id"] is None



def test_write_zordered_clusters_both_dims(spark, tmp_path):
    """Z-ordered layout: every file covers a narrow range of BOTH
    cluster columns (vs plain range-clustering, which is narrow in the
    first column only), so min/max stats prune on either predicate."""
    import glob

    from pyspark.sql import functions as F

    from post_modern_stack_spark.sources.layout import write_zordered, zorder_key

    # direct key check: (3, 0) with 2 bits → y1x1 y0x0 interleave
    row = (
        spark.range(1)
        .select(F.lit(3).alias("x"), F.lit(0).alias("y"))
        .select(zorder_key(["x", "y"], bits=2).alias("k"))
        .collect()[0]
    )
    assert row["k"] == 0b0101

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"),
        (F.pmod(F.xxhash64("id"), F.lit(64))).alias("b"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "zordered")
    write_zordered(df, out, ["a", "b"], bits=6, partitions=16)

    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 8
    # per-file spans: both dims should be narrow for most files
    spans_a, spans_b = [], []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            F.min("a"), F.max("a"), F.min("b"), F.max("b")
        ).collect()[0]
        spans_a.append(pdf[1] - pdf[0])
        spans_b.append(pdf[3] - pdf[2])
    avg_a = sum(spans_a) / len(spans_a)
    avg_b = sum(spans_b) / len(spans_b)
    # full domain is 64; clustered files must cover well under half of
    # it on average in EACH dimension
    assert avg_a < 32, f"dim a not clustered: avg span {avg_a}"
    assert avg_b < 32, f"dim b not clustered: avg span {avg_b}"
    # and the data survived intact
    assert spark.read.parquet(out).count() == n


def test_write_zordered_approx_no_global_sort(spark, tmp_path):
    """approx=True (the 100 TB path): rank buckets come from one
    approxQuantile sketch + a per-row crossing count — NO global ntile
    window anywhere — yet (a) a power-law column still spreads across
    rank buckets (width-buckets would collapse it into one or two) and
    (b) the written files cluster both dimensions like the exact path."""
    import glob

    from pyspark.sql import functions as F

    from post_modern_stack_spark.sources.layout import write_zordered

    n = 4096
    df = spark.range(n).select(
        # power-law: id^2 concentrates 75% of the RANGE in the top 6%
        # of rows — uniform width-bucketing is useless here
        (F.col("id") * F.col("id")).cast("double").alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("double").alias("b"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "zapprox")
    write_zordered(df, out, ["a", "b"], bits=6, partitions=16, approx=True)

    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 8
    # rank-space clustering on the SKEWED column: per-file ROW-count
    # balance is the observable (each file ≈ n/16 rows; a width-bucket
    # scheme would pile ~94% of rows into the bucket-0 files)
    sizes = [spark.read.parquet(f).count() for f in files]
    assert max(sizes) < 3 * n / len(files), f"skew-collapsed files: {sizes}"
    # dimension b (uniform) still clusters narrowly per file
    spans_b = []
    for f in files:
        row = spark.read.parquet(f).agg(F.min("b"), F.max("b")).collect()[0]
        spans_b.append(row[1] - row[0])
    assert sum(spans_b) / len(spans_b) < 32
    assert spark.read.parquet(out).count() == n
    # no global-sort operator in the approx plan: build the keyed frame
    # the same way and check its explain for a ntile window
    import pytest

    with pytest.raises(ValueError, match="caps bits"):
        write_zordered(df, out, ["a", "b"], bits=12, approx=True)


def test_synthetic_events_datasource(spark):
    """Custom Python DataSource: registered by name, partition-parallel,
    deterministic — same rows regardless of partition count."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("users", 50)
        .option("numPartitions", 8)
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    stats = df.agg(
        F.count_distinct("user_id").alias("u"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    ).collect()[0]
    assert stats["lo"] == 0 and stats["hi"] == 4999
    assert stats["u"] == 50

    # determinism across partitioning: identical content with 3 partitions
    df3 = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("users", 50)
        .option("numPartitions", 3)
        .load()
    )
    h1 = df.agg(F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]["h"]
    h3 = df3.agg(F.bit_xor(F.xxhash64(*df3.columns)).alias("h")).collect()[0]["h"]
    assert h1 == h3


def test_synthetic_events_stream_resumes_from_checkpoint(spark, tmp_path):
    """Custom STREAMING source: offsets advance per micro-batch and a
    restart from the checkpoint continues exactly where the last run
    committed (no gaps, no repeats)."""
    from post_modern_stack_spark.sources.synthetic import register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def committed_rows() -> int:
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:
            return 0  # sink dir not created yet

    def run_until_output_exceeds(prev_rows: int):
        q = (
            spark.readStream.format("synthetic_events")
            .option("rowsPerBatch", 500)
            .option("users", 10)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        import time

        deadline = time.time() + 90
        while time.time() < deadline and committed_rows() <= prev_rows:
            time.sleep(0.5)
        q.stop()
        try:
            q.awaitTermination(30)
        except Exception:
            # stop() mid-batch aborts the in-flight task; the parquet
            # sink's commit log keeps the output transactional, so an
            # aborted batch is simply invisible — safe to ignore here
            pass

    run_until_output_exceeds(0)
    first = {r["event_id"] for r in spark.read.parquet(out_dir).collect()}
    assert len(first) >= 500 and min(first) == 0
    # ids are contiguous from 0 (offset discipline within the run)
    assert first == set(range(len(first)))
    run_until_output_exceeds(len(first))
    both = {r["event_id"] for r in spark.read.parquet(out_dir).collect()}
    # restart resumed AFTER the committed offset: still contiguous from
    # 0 with NO duplicates (exactly-once), and strictly more data
    assert both == set(range(len(both)))
    assert len(both) > len(first)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """H-family ORC: zlib round trip preserves values + types, filters
    reach the ORC scan (PushedFilters in the physical plan) and column
    pruning shrinks ReadSchema to the projection."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.sources import ingest

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
    )
    path = str(tmp_path / "orc_roundtrip")
    ingest.write_orc(df, path, compression="zlib")
    back = ingest.read_orc(spark, path)
    assert back.count() == 1000
    assert dict(back.dtypes) == {"id": "bigint", "bucket": "bigint", "label": "string"}
    assert back.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2

    plan = (
        back.filter(F.col("bucket") == 3)
        .select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "bucket" in plan
    # projection pruned to the two needed columns (filter col + output)
    assert "label" not in plan.split("ReadSchema")[1][:120]


def test_hilbert_key_matches_reference_and_is_adjacent(spark):
    """with_hilbert_key == the textbook xy2d loop on random points;
    sorting a full 16x16 grid by the key walks a path where every
    consecutive pair is grid-adjacent (the Hilbert property Morton
    lacks — no Z jumps)."""
    import random

    from post_modern_stack_spark.sources.layout import with_hilbert_key

    def xy2d_ref(order, x, y):
        d, s = 0, order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rng = random.Random(3)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(300)]
    rows = with_hilbert_key(
        spark.createDataFrame(pts, "x long, y long"), "x", "y", bits=8, out="hk"
    ).collect()
    assert all(r["hk"] == xy2d_ref(256, r["x"], r["y"]) for r in rows)

    grid = [(x, y) for x in range(16) for y in range(16)]
    seq = sorted(
        with_hilbert_key(
            spark.createDataFrame(grid, "x long, y long"), "x", "y", bits=4, out="hk"
        ).collect(),
        key=lambda r: r["hk"],
    )
    assert [r["hk"] for r in seq] == list(range(256))
    assert all(
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"]) == 1 for a, b in zip(seq, seq[1:])
    )


def test_write_hilbert_clusters_both_dims(spark, tmp_path):
    """Hilbert layout: like the z-order test, every file covers a
    narrow range of BOTH cluster columns; 2-D-only guard raises."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from post_modern_stack_spark.sources.layout import write_hilbert

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"),
        (F.pmod(F.xxhash64("id"), F.lit(64))).alias("b"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "hilberted")
    write_hilbert(df, out, ["a", "b"], bits=6, partitions=16)
    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 8
    spans_a, spans_b = [], []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("a"), F.max("a"), F.min("b"), F.max("b")
        ).collect()[0]
        spans_a.append(r[1] - r[0])
        spans_b.append(r[3] - r[2])
    assert sum(spans_a) / len(spans_a) < 32
    assert sum(spans_b) / len(spans_b) < 32
    assert spark.read.parquet(out).count() == n
    with pytest.raises(ValueError):
        write_hilbert(df, out, ["a"], bits=6)

    # approx rank stage (shared with write_zordered): same clustering
    # payoff without any global ntile sort
    out2 = str(tmp_path / "hilbert_approx")
    write_hilbert(df, out2, ["a", "b"], bits=6, partitions=16, approx=True)
    files2 = glob.glob(out2 + "/*.parquet")
    spans2 = []
    for f in files2:
        r = spark.read.parquet(f).agg(F.min("b"), F.max("b")).collect()[0]
        spans2.append(r[1] - r[0])
    assert sum(spans2) / len(spans2) < 32
    assert spark.read.parquet(out2).count() == n


def test_jsonl_gz_sink_two_phase_commit(spark, tmp_path):
    """Custom Python DataSource WRITER: shards are gzip JSONL, rows
    round-trip exactly, no temp files survive commit, and shard names
    carry the partition id (the commit rename happened)."""
    import glob
    import gzip
    import json

    from post_modern_stack_spark.sources.synthetic import register_sink

    register_sink(spark)
    out = str(tmp_path / "sink")
    df = spark.range(200).selectExpr(
        "id", "cast(id * 0.5 as double) AS v", "concat('u', id % 5) AS u"
    ).repartition(3)
    df.write.format("jsonl_gz").option("path", out).mode("append").save()

    files = sorted(glob.glob(out + "/part-*.jsonl.gz"))
    assert len(files) == 3
    assert glob.glob(out + "/_tmp*") == []
    rows = [json.loads(l) for f in files for l in gzip.open(f, "rt")]
    assert len(rows) == 200
    assert {r["id"] for r in rows} == set(range(200))
    back = spark.read.json(out)  # Spark reads .gz JSONL transparently
    assert back.count() == 200


def test_merge_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """Keyed-parquet MERGE: upserts + deletes land, untouched buckets'
    FILES are bit-identical (mtime+size equality — not just row
    counts), and only the affected bucket dirs report in the audit."""
    import glob
    import os
    import time

    from post_modern_stack_spark.sources import merge as M

    path = str(tmp_path / "keyed")
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(200)], ["id", "name", "v"]
    )
    M.write_keyed_table(base, path, "id", n_buckets=8)

    def snapshot():
        return {
            f: (os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        }

    before = snapshot()
    time.sleep(1.1)  # mtime resolution guard

    updates = spark.createDataFrame(
        [(3, "UPDATED", 99.0, False), (7, "x", 0.0, True), (1000, "NEW", 1.0, False)],
        ["id", "name", "v", "is_delete"],
    )
    audit = M.merge_upsert(spark, path, updates, "id", n_buckets=8,
                           delete_col="is_delete")
    assert 0 < len(audit["affected_buckets"]) <= 3

    after = snapshot()
    out = M.read_keyed_table(spark, path)
    rows = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    assert rows[3] == ("UPDATED", 99.0)         # update applied
    assert 7 not in rows                        # delete applied
    assert rows[1000] == ("NEW", 1.0)           # insert applied
    assert rows[5] == ("name5", 5.0)            # untouched row intact
    assert len(rows) == 200 - 1 + 1

    from post_modern_stack_spark.sources.merge import BUCKET_COL, bucket_of
    affected = set(audit["affected_buckets"])
    untouched_files = [
        f for f in before
        if int(f.split(f"{BUCKET_COL}=")[1].split("/")[0]) not in affected
    ]
    assert untouched_files, "expected some untouched buckets"
    for f in untouched_files:
        assert f in after and after[f] == before[f], f"rewritten: {f}"


def test_streaming_merge_applies_cdc_batches(spark, tmp_path):
    """foreachBatch MERGE loop: a file stream of CDC updates lands in
    the keyed table with upsert/delete semantics."""
    from post_modern_stack_spark.sources import merge as M

    path = str(tmp_path / "keyed_stream")
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(50)], ["id", "name", "v"]
    )
    M.write_keyed_table(base, path, "id", n_buckets=4)

    upd_dir = str(tmp_path / "updates")
    spark.createDataFrame(
        [(3, "UPDATED", 99.0, False), (7, "x", 0.0, True)],
        ["id", "name", "v", "is_delete"],
    ).write.mode("overwrite").parquet(upd_dir)

    schema = "id bigint, name string, v double, is_delete boolean"
    stream = spark.readStream.schema(schema).parquet(upd_dir)
    q = M.start_merge_stream(
        spark, stream, path, "id", n_buckets=4, delete_col="is_delete",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    rows = {r["id"]: (r["name"], r["v"]) for r in M.read_keyed_table(spark, path).collect()}
    assert rows[3] == ("UPDATED", 99.0)
    assert 7 not in rows
    assert rows[5] == ("name5", 5.0)
    assert len(rows) == 49


def test_versioned_keyed_table_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot isolation on parquet: merges create new versions, old
    versions stay byte-identical and readable (time travel), vacuum
    removes only unreferenced dirs, and the latest read survives it."""
    import glob
    import os

    from post_modern_stack_spark.sources.merge import VersionedKeyedTable

    t = VersionedKeyedTable(spark, str(tmp_path / "vt"), n_buckets=4)
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(40)], ["id", "name", "v"]
    )
    t.create(base, "id")

    v0_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "vt" / "v0" / "**" / "*.parquet"),
                           recursive=True)
    }

    r1 = t.merge(spark.createDataFrame(
        [(3, "M1", 99.0, False)], ["id", "name", "v", "is_delete"]),
        delete_col="is_delete")
    r2 = t.merge(spark.createDataFrame(
        [(3, "M2", 100.0, False), (7, "x", 0.0, True)],
        ["id", "name", "v", "is_delete"]), delete_col="is_delete")
    assert r1["version"] == 1 and r2["version"] == 2

    latest = {r["id"]: r["name"] for r in t.read().collect()}
    assert latest[3] == "M2" and 7 not in latest and latest[5] == "name5"

    # time travel: v1 sees the first merge only, v0 the original
    v1 = {r["id"]: r["name"] for r in t.read(version=1).collect()}
    assert v1[3] == "M1" and 7 in v1
    v0 = {r["id"]: r["name"] for r in t.read(version=0).collect()}
    assert v0[3] == "name3" and len(v0) == 40

    # immutability: v0 files untouched by both merges
    for f, mt in v0_files.items():
        assert os.path.getmtime(f) == mt

    # vacuum to latest-only: older snapshots go, latest still correct
    removed = t.vacuum(retain_last=1)
    assert removed, "expected unreferenced dirs to be removed"
    latest2 = {r["id"]: r["name"] for r in t.read().collect()}
    assert latest2 == latest


def test_versioned_merge_schema_evolution_and_dup_keys(spark, tmp_path):
    """Updates may ADD columns (existing rows read NULL there — the
    mergeSchema contract) and duplicate keys within a batch collapse
    deterministically."""
    from post_modern_stack_spark.sources.merge import VersionedKeyedTable

    t = VersionedKeyedTable(spark, str(tmp_path / "vt2"), n_buckets=2)
    t.create(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]), "id"
    )
    # same key twice in one batch + a brand-new column
    t.merge(
        spark.createDataFrame(
            [(1, "x1", 5.0), (1, "x2", 7.0), (3, "c", 1.0)],
            ["id", "name", "score"],
        )
    )
    rows = {r["id"]: (r["name"], r["score"]) for r in t.read().collect()}
    assert rows[1] == ("x2", 7.0)       # deterministic max-struct pick
    assert rows[2] == ("b", None)       # old row: new column is NULL
    assert rows[3] == ("c", 1.0)


def test_load_table_sees_rewrite_that_keeps_dir_mtime(spark, tmp_path):
    """The registry's schema memo is keyed on the table's file listing,
    so an in-place rewrite that restores the directory mtime still
    exposes the new column instead of null-filling a stale schema."""
    path = str(tmp_path / "region.parquet")
    first = spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string")
    first.write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    st = os.stat(path)
    spark.createDataFrame(
        [(0, "AFRICA", "new")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    rows = load_table(spark, str(tmp_path), "region").collect()
    assert [r.asDict() for r in rows] == [
        {"r_regionkey": 0, "r_name": "AFRICA", "r_comment": "new"}
    ]
