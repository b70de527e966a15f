"""Streaming surface tests (J1-J5): batch/stream parity for windowed
aggregation, gap sessionization, and the stateful ordered-array
operator (SURVEY.md §7 Phase 5 parity requirement).
"""

from __future__ import annotations

import shutil

import pandas as pd
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


def test_gap_sessions_stream_runs(spark, events_dir):
    stream = S.stream_events(spark, events_dir)
    out = _run_to_memory(spark, S.gap_sessions(stream, "2 hours"), "gap_sess")
    assert out.count() > 0
    assert set(out.columns) == {
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        "total_value",
    }


def test_foreachbatch_ingest_roundtrip(spark, events_dir, tmp_path):
    """Streaming ingest writes the raw-log layout; every input event
    lands exactly once with a batch-derived etl_id and the tenant
    partition."""
    from post_modern_stack_spark.streaming.ingest_stream import start_ingest_stream

    out = str(tmp_path / "rawlog")
    ckpt = str(tmp_path / "ckpt")
    stream = S.stream_events(spark, events_dir)
    q = start_ingest_stream(stream, out, ckpt, api_key="tenant-s")
    q.awaitTermination(120)

    raw = spark.read.parquet(out)
    n_in = load_table(spark, SF, "events").count()
    assert raw.count() == n_in
    assert set(raw.select("api_key").distinct().toPandas()["api_key"]) == {"tenant-s"}
    assert raw.select("etl_id").distinct().count() >= 1
    # the written log is consumable by the batch JSON-extraction path
    k = raw.select(F.get_json_object("raw_data", "$.session_id").alias("sid"))
    assert k.filter(F.col("sid").isNull()).count() == 0


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


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """J-family stream-stream join parity: the watermarked interval
    join over two event-type streams produces exactly the batch
    inequality-join rows (availableNow drains everything, so late-data
    drops don't apply)."""
    from post_modern_stack_spark.streaming.dedup_stream import (
        view_purchase_stream_join,
    )

    stream = S.stream_events(spark, events_dir)
    sp = stream.filter(F.col("event_type") == "purchase")
    sv = stream.filter(F.col("event_type") == "view")
    got = _run_to_memory(
        spark, view_purchase_stream_join(sp, sv), "ss_join_out"
    )

    batch = load_table(spark, SF, "events")
    bp = batch.filter(F.col("event_type") == "purchase")
    bv = batch.filter(F.col("event_type") == "view")
    want = view_purchase_stream_join(bp, bv)

    got_rows = {tuple(r) for r in got.select("purchase_id", "view_id").collect()}
    want_rows = {tuple(r) for r in want.select("purchase_id", "view_id").collect()}
    assert got_rows == want_rows
    assert len(want_rows) > 0


def test_stream_stream_left_outer_join_emits_viewless_purchases(spark, events_dir, tmp_path):
    """Outer stream-stream join: purchases with no in-window view come
    out null-padded (emitted on watermark close; availableNow drains
    state fully so the batch outer join is the exact expectation)."""
    from post_modern_stack_spark.streaming.dedup_stream import (
        view_purchase_stream_join,
    )

    # outer-join null rows emit only when the watermark passes the
    # purchase's join window — append one far-future flush event so
    # even the latest purchase's state expires before the drain ends
    import shutil as _sh

    flush_dir = str(tmp_path / "outer_feed")
    _sh.copytree(events_dir, flush_dir)
    far_ns = load_table(spark, SF, "events").agg(F.max("ts_ns")).collect()[0][0]
    # one flush per SIDE: the global watermark is the MIN over all
    # watermarked inputs, so a view-only flush would leave the purchase
    # side's watermark (and the last purchases' outer state) behind
    spark.createDataFrame(
        [
            (10**9, far_ns + 10 * 24 * 3600 * 10**9, -1, "view", 0.0, "{}"),
            (10**9 + 1, far_ns + 10 * 24 * 3600 * 10**9, -1, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).write.mode("append").parquet(flush_dir)

    stream = S.stream_events(spark, flush_dir)
    got = _run_to_memory(
        spark,
        view_purchase_stream_join(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "view"),
            how="left_outer",
        ),
        "ss_outer_out",
    )
    batch = load_table(spark, SF, "events")
    want = view_purchase_stream_join(
        batch.filter(F.col("event_type") == "purchase"),
        batch.filter(F.col("event_type") == "view"),
        how="left_outer",
    )
    got_rows = {
        tuple(r)
        for r in got.select("purchase_id", "view_id").collect()
        if r["purchase_id"] < 10**9  # drop the flush sentinels
    }
    want_rows = {tuple(r) for r in want.select("purchase_id", "view_id").collect()}
    assert got_rows == want_rows
    # the outer join genuinely added null-padded rows vs the inner one
    assert any(v is None for _, v in want_rows)


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """J-family stream-static join: enriching the event stream with a
    static user dimension produces exactly the batch join's rows
    (stateless per-micro-batch join — no watermark, no withheld rows),
    and unmatched users keep their events (left semantics)."""
    from post_modern_stack_spark.streaming import enrich_stream

    ev = load_table(spark, SF, "events")
    # static dim covering ~half the users so the left side matters
    dims = (
        ev.select("user_id").distinct().filter(F.col("user_id") % 2 == 0)
        .withColumn("segment", F.concat(F.lit("seg_"), F.col("user_id") % 3))
    )

    stream = S.stream_events(spark, events_dir)
    got = _run_to_memory(
        spark,
        enrich_stream.enrich_events(stream, dims).select(
            "event_id", "user_id", "segment"
        ),
        "enriched",
    ).toPandas()

    batch = (
        enrich_stream.enrich_events(
            ev.select("event_id", F.col("ts_ns").alias("ts"), "user_id"), dims
        )
        .select("event_id", "user_id", "segment")
        .toPandas()
    )
    assert len(got) == len(batch) == ev.count()
    g = got.sort_values("event_id").reset_index(drop=True).fillna("∅")
    b = batch.sort_values("event_id").reset_index(drop=True).fillna("∅")
    assert (g.values == b.values).all()
    assert (b["segment"] == "∅").any(), "left join must keep unmatched users"

    import pytest

    with pytest.raises(ValueError):
        enrich_stream.enrich_events(stream, dims, how="full")


def test_windowed_approx_distinct_batch_stream_parity(spark, events_dir):
    """HLL sketches merge deterministically, so the streaming estimate
    must EQUAL the batch estimate for every emitted window (same
    algorithm, same rsd — not just 'close')."""
    stream = S.stream_events(spark, events_dir)
    got = _run_to_memory(
        spark, S.windowed_approx_distinct(stream, "6 hours"), "win_hll"
    ).toPandas()

    batch = S.windowed_approx_distinct(
        load_table(spark, SF, "events"), "6 hours"
    ).toPandas()

    key = ["window_start", "window_end", "event_type"]
    cols = key + ["n_events", "approx_users"]
    bmap = {tuple(r[:3]): tuple(r[3:]) for r in batch[cols].values.tolist()}
    gmap = {tuple(r[:3]): tuple(r[3:]) for r in got[cols].values.tolist()}
    assert len(gmap) > 0
    assert set(gmap) <= set(bmap)
    for k, v in gmap.items():
        assert v == bmap[k], (k, v, bmap[k])
    # the estimate is a real estimate of a real cardinality
    exact = (
        load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    )
    assert all(r["exact"] > 0 for r in exact)


def test_chained_dedup_window_multi_stateful(spark, events_dir, tmp_path):
    """Two stateful operators chained in ONE streaming query: dedup
    state + window state under a shared watermark. A duplicated feed
    must produce the same emitted windows as batch dedup + agg on the
    clean frame."""
    import pathlib

    from post_modern_stack_spark.streaming import dedup_stream as D

    # duplicated feed: every file written twice
    dup_dir = str(tmp_path / "dup_events")
    src = spark.read.parquet(events_dir)
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)

    stream = S.stream_events(spark, dup_dir)
    got = _run_to_memory(
        spark,
        D.dedup_then_windowed_counts(stream, window="6 hours"),
        "dedup_win",
    ).toPandas()

    batch = D.dedup_then_windowed_counts(
        load_table(spark, SF, "events"), window="6 hours"
    ).toPandas()

    key = ["window_start", "window_end", "event_type"]
    cols = key + ["n_events", "total_value"]
    bmap = {tuple(r[:3]): tuple(r[3:]) for r in batch[cols].values.tolist()}
    gmap = {tuple(r[:3]): tuple(r[3:]) for r in got[cols].values.tolist()}
    assert len(gmap) > 0
    assert set(gmap) <= set(bmap)
    for k, v in gmap.items():
        assert v == bmap[k], (k, v, bmap[k])


def test_stateful_funnel_matches_batch(spark, events_dir):
    """Custom stateful ordered funnel == the batch per-user stage
    times, for every user that produced a view."""
    import time

    stream = S.stream_events(spark, events_dir, max_files_per_trigger=2)
    q = (
        S.stateful_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_state")
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    ev = load_table(spark, SF, "events")
    expected = (
        ev.filter(F.col("event_type") == "view").select("user_id").distinct().count()
    )
    # poll the sink until every viewing user's funnel row flushed (the
    # 5 s quiet timeout keeps scheduling batches; see session-arrays test)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("funnel_state").count() >= expected:
                break
            time.sleep(2)
        got = spark.table("funnel_state").toPandas()
    finally:
        q.stop()

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )
    batch = (
        v.join(c, "user_id", "left").join(p, "user_id", "left").toPandas()
    )
    want = {
        int(r.user_id): (
            int(r.t1),
            None if pd.isna(r.t2) else int(r.t2),
            None if pd.isna(r.t3) else int(r.t3),
        )
        for r in batch.itertuples()
    }
    got_map = {
        int(r.user_id): (
            int(r.t1),
            None if pd.isna(r.t2) else int(r.t2),
            None if pd.isna(r.t3) else int(r.t3),
        )
        for r in got.itertuples()
    }
    assert got_map == want
