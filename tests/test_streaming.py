"""Streaming surface tests (J1, J2, J4, J5): batch/stream parity for
windowed aggregation, watermark-bounded dedup and the stateful
ordered-array operator (SURVEY.md §7 Phase 5 parity requirement).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from post_modern_stack_spark.registry import load_table
from post_modern_stack_spark.streaming import sessionize_stream as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage the events table as a multi-file parquet directory (a file
    stream source reads directories of arriving files)."""
    out = str(tmp_path_factory.mktemp("stream") / "events_in")
    load_table(spark, SF, "events").select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type", "value", "props"
    ).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if sdf.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_windowed_counts_batch_stream_parity(spark, events_dir):
    stream = S.stream_events(spark, events_dir)
    got = _run_to_memory(
        spark, S.windowed_event_counts(stream, "6 hours"), "win_counts"
    ).toPandas()

    batch = S.windowed_event_counts(
        load_table(spark, SF, "events"), "6 hours"
    ).toPandas()

    # append mode emits a window only once the watermark passes its
    # end; the final (still-open) window per event_type stays in state.
    # Parity contract: every emitted window matches batch exactly, and
    # only trailing windows may be withheld.
    key = ["window_start", "window_end", "event_type"]
    bmap = {tuple(r[:3]): tuple(r[3:]) for r in batch[key + ["n_events", "total_value"]].values.tolist()}
    gmap = {tuple(r[:3]): tuple(r[3:]) for r in got[key + ["n_events", "total_value"]].values.tolist()}
    assert set(gmap) <= set(bmap)
    for k, v in gmap.items():
        assert v == bmap[k], f"window {k}: stream={v} batch={bmap[k]}"
    n_types = batch["event_type"].nunique()
    assert len(bmap) - len(gmap) <= n_types, "more than trailing windows withheld"


@pytest.mark.parametrize("n_buckets", [8, 512])
def test_stateful_session_arrays_bucketed_parity(
    spark, events_dir, tmp_path, n_buckets
):
    """J5: once every session has timed out, the stateful sessionizer
    must reproduce the batch flagship's per-user ordered arrays.
    n_buckets=8 puts many users in each state group, so the per-user
    close and emission inside a bucket are exercised (incl. the late
    flush by the bucket timeout sweep); n_buckets=512 gives each of
    the fixture's users its own group."""
    import time

    stream = S.stream_events(spark, events_dir, max_files_per_trigger=2)
    sdf = S.stateful_session_arrays_bucketed(stream, n_buckets=n_buckets)
    sink = f"state_sess_bucketed_{n_buckets}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    # drain input, then keep the query alive past the 5 s session
    # timeout so state flushes. Never call processAllAvailable here: a
    # stateful query with processing-time timeouts keeps scheduling
    # timeout batches, so it never settles — poll the sink instead.
    try:
        deadline = time.time() + 120
        expected = (
            load_table(spark, SF, "events").select("user_id").distinct().count()
        )
        emitted = 0
        while time.time() < deadline:
            emitted = spark.table(sink).count()
            if emitted >= expected:
                break
            time.sleep(2)
    finally:
        q.stop()

    got = {
        r["user_id"]: r["interactions"]
        for r in spark.table(sink).collect()
    }
    batch = {
        r["user_id"]: r["interactions"]
        for r in load_table(spark, SF, "events")
        .select(
            "user_id",
            "ts_ns",
            "event_id",
            F.get_json_object("props", "$.k").alias("k"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_ns", "event_id", "k"))),
                lambda s: s.getField("k"),
            ).alias("interactions")
        )
        .collect()
    }
    assert len(got) == len(batch)
    assert got == batch


def test_stream_dedup_drops_within_watermark_dupes(spark, events_dir, tmp_path):
    """J×K1: a feed where every file arrives twice (the classic
    at-least-once delivery failure) dedups back to the batch-exact row
    set; batch mode of the same operator equals dropDuplicates."""
    from post_modern_stack_spark.streaming.dedup_stream import dedup_events

    dup_dir = str(tmp_path / "dup_feed")
    import glob
    import os

    os.makedirs(dup_dir)
    for i, f in enumerate(sorted(glob.glob(events_dir + "/*.parquet"))):
        shutil.copy(f, f"{dup_dir}/a{i}.parquet")
        shutil.copy(f, f"{dup_dir}/b{i}.parquet")

    stream = S.stream_events(spark, dup_dir)
    got = _run_to_memory(
        spark,
        dedup_events(stream).select("event_id", "user_id", "value"),
        "dedup_stream_out",
    )
    batch = dedup_events(load_table(spark, SF, "events")).select(
        "event_id", "user_id", "value"
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in batch.collect()}
    assert got_rows == want_rows
    # and the duplicated feed really had 2x rows before dedup
    assert spark.read.parquet(dup_dir).count() == 2 * len(want_rows)
