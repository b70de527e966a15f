"""Streaming exact dedup (SURVEY.md §2 J1/J2 × K1), bounded by the
event-time watermark.

The batch K1 operator (operators/dedup.exact_dedup) reprocesses the
whole corpus per run — the reference's append-only-log posture
(reference README.md:80). The streaming form dedups INCREMENTALLY:
each micro-batch drops rows whose key was already seen, with state
bounded by the event-time watermark.

Spark-first: ``dropDuplicatesWithinWatermark`` (Spark 3.5+) is the
purpose-built primitive — it keeps one state row per key and expires
keys once the watermark passes them, so state size follows the
duplicate-arrival horizon (e.g. "dupes arrive within 10 minutes"),
NOT corpus size. That bound is what makes streaming dedup viable on an
unbounded 100 TB/day feed; a plain ``dropDuplicates`` on a stream
would accumulate state forever.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_events(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once event feed by key, duplicates within the watermark
    horizon dropped.

    Batch and streaming share the call so parity tests can run the
    same plan both ways. Streaming keeps the FIRST ARRIVAL per key
    (processing order — that is ``dropDuplicatesWithinWatermark``'s
    contract), with state bounded by the watermark; duplicates
    separated by more than the horizon are NOT caught (pair with a
    periodic batch sweep for full-history guarantees — the standard
    lambda posture for dedup at scale). Batch has no arrival order, so
    it keeps a DETERMINISTIC row instead: earliest event time, then
    smallest remaining-column tuple (plain ``dropDuplicates`` would
    keep whichever row a partition surfaces first — nondeterministic
    when same-key rows differ in payload). The two paths agree exactly
    when duplicates are bitwise-identical.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    order_cols = ["ts"] if "ts" in events.columns else []
    order_cols += [c for c in events.columns if c not in keys and c not in order_cols]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
