"""Streaming throughput probe (VERDICT r09 item 6): sustained-rate +
state-size evidence for the J-family, which is parity-tested but had
zero BASELINE.md rows. The reference's append-only log is explicitly
its streaming-ingest pattern (reference README.md:80); this measures
what OUR streaming twins sustain on the same local[32] host.

    python scripts/streaming_throughput.py [--files 20] [--rows-per-file 500000]

Method: N ordered parquet files (1 file = 1 micro-batch via
maxFilesPerTrigger=1), event time advancing ~10 min of horizon per
file so watermarks genuinely evict state; ~10% duplicate event_ids
planted WITHIN the horizon so dedup does real work. Each probe runs
the full file backlog through a noop-like parquet sink and reports,
from the query's progress events:

  rows/s        total input rows / wall seconds (sustained, all batches)
  peak_rps      best single-batch processedRowsPerSecond
  state_rows    max stateOperators numRowsTotal across batches
  state_mb      max stateOperators memoryUsedBytes across batches

Probes: dedup_events at a 10-minute AND a 2-hour watermark (state must
track the horizon), windowed_event_counts (tumbling 1 h), and the
stateful sessionizer stateful_session_arrays_bucketed
(applyInPandasWithState, default n_buckets). Writes nothing outside /tmp.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

TEN_MIN_NS = 600 * 1_000_000_000


def write_batch_files(spark, path: str, n_files: int, rows_per_file: int,
                      n_users: int) -> int:
    """Ordered parquet files, one per future micro-batch. File i covers
    event-time [i*10min, (i+1)*10min). Every 10th row re-uses the
    previous row's event_id (an in-horizon duplicate ~10%); user ids
    hash-scatter across n_users so sessionization state is user-grain."""
    base_ns = 1_700_000_000_000_000_000
    import glob as _glob

    for i in range(n_files):
        # write to a scratch dir, then move the single part-file into
        # the source dir as a REAL file (the file-stream source lists
        # plain files; a parquet DIRECTORY per batch is invisible to
        # it). Zero-padded name => listed in order.
        tmp_dir = f"{path}__tmp"
        fname = f"{path}/batch_{i:05d}.parquet"
        rid = F.col("id") + i * rows_per_file
        dup = F.when(F.pmod(F.col("id"), F.lit(10)) == 0, 1).otherwise(0)
        (
            spark.range(rows_per_file)
            .select(
                (rid - dup).alias("event_id"),
                (
                    F.lit(base_ns + i * TEN_MIN_NS)
                    + F.pmod(F.xxhash64("id", F.lit(i)), F.lit(TEN_MIN_NS))
                ).alias("ts"),
                F.pmod(F.xxhash64("id", F.lit(i + 7)), F.lit(n_users)).alias("user_id"),
                F.element_at(
                    F.array(*[F.lit(x) for x in ["view", "click", "purchase"]]),
                    (F.pmod(F.xxhash64("id", F.lit(i + 13)), F.lit(3)) + 1).cast("int"),
                ).alias("event_type"),
                (F.pmod(F.xxhash64("id", F.lit(i + 17)), F.lit(10_000)) / 100.0).alias(
                    "value"
                ),
                F.concat(
                    F.lit('{"k": '),
                    F.pmod(F.xxhash64("id", F.lit(i + 23)), F.lit(100)),
                    F.lit("}"),
                ).alias("props"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp_dir)
        )
        part = _glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        shutil.move(part, fname)
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return n_files * rows_per_file


def drain(query) -> dict:
    """Block until the availableNow backlog drains, then fold the
    progress events."""
    query.awaitTermination()
    rows = 0
    peak_rps = 0.0
    state_rows = 0
    state_mb = 0.0
    for p in query.recentProgress:
        rows += p.get("numInputRows", 0)
        peak_rps = max(peak_rps, p.get("processedRowsPerSecond", 0.0) or 0.0)
        for so in p.get("stateOperators", []) or []:
            state_rows = max(state_rows, so.get("numRowsTotal", 0))
            state_mb = max(state_mb, (so.get("memoryUsedBytes", 0) or 0) / 1e6)
    query.stop()
    return {
        "rows_seen": rows,
        "peak_rps": round(peak_rps),
        "state_rows": state_rows,
        "state_mb": round(state_mb, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=20)
    ap.add_argument("--rows-per-file", type=int, default=500_000)
    ap.add_argument("--n-users", type=int, default=100_000)
    ap.add_argument("--only", type=str, default=None)
    args = ap.parse_args()

    from post_modern_stack_spark.session import get_spark
    from post_modern_stack_spark.streaming.dedup_stream import dedup_events
    from post_modern_stack_spark.streaming.sessionize_stream import (
        stateful_session_arrays_bucketed,
        stream_events,
        windowed_event_counts,
    )

    spark = get_spark(app_name="pmss-streaming-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="pmss-stream-")
    src = f"{base}/events"
    os.makedirs(src, exist_ok=True)
    t0 = time.perf_counter()
    total = write_batch_files(spark, src, args.files, args.rows_per_file, args.n_users)
    print(
        json.dumps(
            {"step": "synthesize", "files": args.files, "rows": total,
             "sec": round(time.perf_counter() - t0, 1)}
        ),
        flush=True,
    )

    def probe(name: str, build):
        if args.only and args.only not in name:
            return
        ckpt = f"{base}/ckpt_{name}"
        out = f"{base}/out_{name}"
        events = stream_events(spark, src, max_files_per_trigger=1)
        df = build(events)
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            # availableNow honors maxFilesPerTrigger: the backlog runs
            # as n_files rate-limited micro-batches, then terminates
            .trigger(availableNow=True)
            .start()
        )
        stats = drain(q)
        wall = time.perf_counter() - t0
        stats.update(
            {
                "probe": name,
                "sec": round(wall, 1),
                "rows_per_sec": round(stats["rows_seen"] / max(wall, 0.001)),
            }
        )
        print(json.dumps(stats), flush=True)
        shutil.rmtree(out, ignore_errors=True)

    def probe_stateful(name: str, build):
        """applyInPandasWithState uses ProcessingTimeTimeout, which is
        incompatible with availableNow + the file sink's state
        checkpointing (task aborts observed); mirror the parity test's
        harness instead — memory sink, processingTime trigger, poll
        until the backlog's input rows are consumed. Throughput is
        input consumption; sessions themselves only emit on timeout."""
        if args.only and args.only not in name:
            return
        ckpt = f"{base}/ckpt_{name}"
        events = stream_events(spark, src, max_files_per_trigger=1)
        df = build(events)
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("memory")
            .queryName(f"mem_{name}")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        seen = 0
        deadline = time.perf_counter() + 1800
        while time.perf_counter() < deadline:
            time.sleep(1)
            seen = sum(p.get("numInputRows", 0) for p in q.recentProgress)
            if seen >= total:
                break
        wall = time.perf_counter() - t0
        peak_rps = 0.0
        state_rows = 0
        state_mb = 0.0
        for p in q.recentProgress:
            peak_rps = max(peak_rps, p.get("processedRowsPerSecond", 0.0) or 0.0)
            for so in p.get("stateOperators", []) or []:
                state_rows = max(state_rows, so.get("numRowsTotal", 0))
                state_mb = max(state_mb, (so.get("memoryUsedBytes", 0) or 0) / 1e6)
        q.stop()
        print(
            json.dumps(
                {"rows_seen": seen, "peak_rps": round(peak_rps),
                 "state_rows": state_rows, "state_mb": round(state_mb, 1),
                 "probe": name, "sec": round(wall, 1),
                 "rows_per_sec": round(seen / max(wall, 0.001))}
            ),
            flush=True,
        )

    probe("dedup_wm10min", lambda ev: dedup_events(ev, watermark="10 minutes"))
    probe("dedup_wm2h", lambda ev: dedup_events(ev, watermark="2 hours"))
    probe(
        "windowed_counts_1h",
        lambda ev: windowed_event_counts(ev, window="1 hour", watermark="10 minutes"),
    )
    probe_stateful(
        "stateful_session_arrays_bucketed", stateful_session_arrays_bucketed
    )

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
