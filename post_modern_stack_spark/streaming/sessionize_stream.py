"""Streaming sessionization (SURVEY.md §2 J1-J5).

The reference batch-simulates a stream: an append-only log reloaded per
ETL (reference README.md:80). Here the same semantics run incrementally:

- J1: file stream source over the events parquet layout (sinks call
  ``writeStream`` directly).
- J2: event-time watermark bounding late data and state.
- J4: tumbling/sliding event-time windows.
- J5: stateful time-ordered interaction-array accumulation via
  ``applyInPandasWithState`` (``stateful_session_arrays_bucketed``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# a user's session closes after this much processing-time
# quiet, checked at micro-batch boundaries
_QUIET_CLOSE_MS = 5_000

# physical schema of the driver's events parquet (ts stored as ns long
# when read with nanosAsLong — streaming sources need an explicit schema)
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),  # raw ns
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """J1 source: incremental parquet file stream, normalized to the
    registry's (ts, ts_ns, ts_ms) triplet."""
    from post_modern_stack_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return (
        df.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", F.expr("timestamp_micros(ts_ns DIV 1000)"))
        .withColumn("ts_ms", F.expr("ts_ns DIV 1000000"))
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """J4 + J2: tumbling (or sliding) event-time aggregation with a
    watermark; identical semantics in batch (run on a static frame the
    window fn degrades to a plain groupBy — the parity test relies on
    this). ``watermark=None`` skips the ``withWatermark`` call for
    upstream stages that already declared one (chained multi-stateful
    queries re-declaring it is an AnalysisException)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    wm = (
        events.withWatermark("ts", watermark)
        if events.isStreaming and watermark is not None
        else events
    )
    return (
        wm.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("interactions", T.ArrayType(T.StringType()), True),
    ]
)


BUCKET_STATE_SCHEMA = T.StructType(
    [
        # user-grain, parallel arrays
        T.StructField("users", T.ArrayType(T.LongType()), True),
        T.StructField("last_ms", T.ArrayType(T.LongType()), True),
        # event-grain, parallel arrays (owner = the event's user)
        T.StructField("owner", T.ArrayType(T.LongType()), True),
        T.StructField("ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("event_id", T.ArrayType(T.LongType()), True),
        T.StructField("k", T.ArrayType(T.StringType()), True),
    ]
)

def _emit_quiet_users(users, last_ms, owner, ts_ns, event_id, k, now_ms):
    """Split bucket state into (emission DataFrame | None, kept state).
    A user emits once ``now - last_seen >= _QUIET_CLOSE_MS``; ``now`` is
    the processing time of the micro-batch (or bucket timeout) being
    handled, so a close is only ever decided at a batch boundary. Each
    emitted row is one user's interaction array, ordered by
    ``(ts_ns, event_id)``; the user's events leave the state."""
    import numpy as np

    users_a = np.asarray(users, dtype=np.int64)
    last_a = np.asarray(last_ms, dtype=np.int64)
    quiet = last_a <= now_ms - _QUIET_CLOSE_MS
    if not quiet.any():
        return None, (users, last_ms, owner, ts_ns, event_id, k)
    emit_set = users_a[quiet]
    owner_a = np.asarray(owner, dtype=np.int64)
    sel = np.isin(owner_a, emit_set)
    ts_a = np.asarray(ts_ns, dtype=np.int64)
    eid_a = np.asarray(event_id, dtype=np.int64)
    k_a = np.asarray(k, dtype=object)
    out_users, out_n, out_inter = [], [], []
    eo, et, ee, ek = owner_a[sel], ts_a[sel], eid_a[sel], k_a[sel]
    for u in sorted(emit_set.tolist()):
        m = eo == u
        rows = sorted(zip(et[m].tolist(), ee[m].tolist(), ek[m].tolist()))
        out_users.append(u)
        out_n.append(len(rows))
        out_inter.append([r[2] for r in rows])
    keep = ~quiet
    ksel = ~sel
    kept = (
        users_a[keep].tolist(),
        last_a[keep].tolist(),
        owner_a[ksel].tolist(),
        ts_a[ksel].tolist(),
        eid_a[ksel].tolist(),
        k_a[ksel].tolist(),
    )
    emission = pd.DataFrame(
        {"user_id": out_users, "n_events": out_n, "interactions": out_inter}
    )
    return emission, kept


def _accumulate_sessions_bucketed(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """J5 state update for one bucket (group key
    ``pmod(user_id, n_buckets)``). The state holds, per user, the
    last-seen processing time, and per event its owner, ``ts_ns``,
    ``event_id`` and ``k``. Each update appends the batch's events,
    refreshes the last-seen time of the users in it, and emits every
    user of the bucket that has been quiet for ``_QUIET_CLOSE_MS``.
    A bucket that receives no data is swept by its processing-time
    timeout, which re-arms while any of its users is still open.

    Keying state by bucket, not by user, pays the per-group state
    protocol (Arrow slice → pandas frame → GroupState codec) once per
    bucket per batch: at 100k users a batch held ~2.3 rows per user,
    so per-user groups were almost all protocol (OPTIMIZATION_r12)."""
    now = state.getCurrentProcessingTimeMs()
    if state.hasTimedOut:
        (users, last_ms, owner, ts_ns, event_id, k) = state.get
        emission, kept = _emit_quiet_users(
            users, last_ms, owner, ts_ns, event_id, k, now
        )
        if kept[0]:
            state.update(kept)
            state.setTimeoutDuration(_QUIET_CLOSE_MS)
        else:
            state.remove()
        if emission is not None:
            yield emission
        return
    users: list = []
    last_ms: list = []
    owner: list = []
    ts_ns: list = []
    event_id: list = []
    k: list = []
    if state.exists:
        (users, last_ms, owner, ts_ns, event_id, k) = state.get
        users, last_ms = list(users), list(last_ms)
        owner, ts_ns = list(owner), list(ts_ns)
        event_id, k = list(event_id), list(k)
    seen: set = set()
    for pdf in pdfs:
        us = pdf["user_id"].tolist()
        owner.extend(us)
        ts_ns.extend(pdf["ts_ns"].tolist())
        event_id.extend(pdf["event_id"].tolist())
        k.extend(pdf["k"].tolist())
        seen.update(us)
    if seen:
        pos = {u: i for i, u in enumerate(users)}
        for u in seen:
            i = pos.get(u)
            if i is None:
                users.append(u)
                last_ms.append(now)
            else:
                last_ms[i] = now
    emission, kept = _emit_quiet_users(
        users, last_ms, owner, ts_ns, event_id, k, now
    )
    state.update(kept)
    state.setTimeoutDuration(_QUIET_CLOSE_MS)
    if emission is not None:
        yield emission


def stateful_session_arrays_bucketed(
    events: DataFrame, n_buckets: int = 512
) -> DataFrame:
    """J5: the stateful sessionizer (``applyInPandasWithState``), the
    streaming twin of the batch flagship (catalog ``sessionize``).

    Emits one ``(user_id, n_events, interactions)`` row per user once
    the user has sent no event for 5 s (``_QUIET_CLOSE_MS``). The
    contract is the batch reference: ``interactions`` holds all of the
    user's events with a non-NULL ``props.k``, ordered by
    ``(ts_ns, event_id)``, whatever the arrival order.

    ``n_buckets`` sizes the state: groups are
    ``pmod(user_id, n_buckets)``, each holding ~|users| / n_buckets
    users. Fewer buckets amortize the per-group state protocol over
    more users; the emitted rows do not depend on it."""
    # drop NULL-k events before accumulation: the pandas path would
    # stringify None into a literal "None" token, where batch drops
    # NULL array elements at the concat_ws edge
    prepped = events.select(
        "user_id",
        "ts_ns",
        "event_id",
        F.get_json_object("props", "$.k").alias("k"),
    ).filter(F.col("k").isNotNull())
    return prepped.withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
    ).groupBy("bucket").applyInPandasWithState(
        _accumulate_sessions_bucketed,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
