"""Sessionization — the reference's two-model transformation DAG,
re-expressed as Spark dataflow (SURVEY.md §2 A5-A15, B1; §3 entry 2).

Model 1 (``events_exploded``): semi-structured event log → flat typed
events, latest-ETL-only, each event stamped with its session's start
date via a window (reference
src/dbt/models/metaflow/shopping_events_exploded.sql:7-29).

Model 2 (``session_events``): flat events → one row per session with a
time-ordered SKU interaction array (reference
src/dbt/models/metaflow/nep_session_events.sql:7-19).

Both exist in two shapes:
- *reference shape* over a ``raw_events`` log produced by
  ``sources.ingest`` (etl_id / api_key / raw_data JSON columns);
- *driver shape* over the synthetic ``events`` table
  (user_id ↔ session_id, props ↔ raw_data; FIXTURES.md role mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import (
    json_get,
    normalize_sku,
    ordered_collect,
)

# product actions kept by the NEP pipeline
# (reference nep_session_events.sql:16)
PRODUCT_ACTIONS = ("detail", "add", "purchase")
# driver-table analog of the `event_type = 'event_product'` filter
# (reference nep_session_events.sql:15): keep product-ish interactions
EVENT_TYPES = ("view", "click", "purchase")


def latest_etl(raw: DataFrame) -> DataFrame:
    """Newest load id from the append-only log (A5).

    Reference: ``ORDER BY ETL_TIMESTAMP DESC LIMIT 1``
    (shopping_events_exploded.sql:8-12). Spark-first: a single-row
    ``max_by`` aggregate — one partial+final agg, no global sort.
    """
    return raw.agg(F.max_by("etl_id", "etl_timestamp").alias("etl_id"))


def events_exploded(raw: DataFrame) -> DataFrame:
    """Model 1: VARIANT JSON → flat typed columns, latest ETL only
    (reference shopping_events_exploded.sql:14-29).

    The 1-row ``latest_etl`` join is broadcast (A6) — at 100 TB this is
    a dynamic filter, never a shuffle.

    B1: one ``json_tuple`` parses each payload once for all five fields
    (five ``json_get`` calls parse it five times). Its per-field
    semantics are ``get_json_object``'s: missing key or malformed JSON →
    NULL, strings unquoted; the timestamp is ``try_cast`` like
    ``json_get(..., "long")``.
    """
    fields = {
        "hashed_url": "url",
        "product_action": "product_action",
        "product_sku": "sku",
        "server_timestamp_epoch_ms": "event_epoch_timestamp",
        "session_id": "session_id",
    }
    flat = (
        raw.join(F.broadcast(latest_etl(raw)), "etl_id", "inner")
        .select(
            "etl_id",
            "api_key",
            "event_date",
            "event_type",
            F.json_tuple("raw_data", *fields).alias(*fields.values()),
        )
        .withColumns(
            {
                "sku": normalize_sku("sku"),
                "event_epoch_timestamp": F.col("event_epoch_timestamp").try_cast(
                    "long"
                ),
            }
        )
    )
    # A9: stamp each event with its session's first event_date
    w = (
        Window.partitionBy("session_id")
        .orderBy("event_epoch_timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flat.withColumn("session_date", F.first("event_date").over(w))


def session_events(exploded: DataFrame) -> DataFrame:
    """Model 2: flat events → per-session ordered SKU arrays
    (reference nep_session_events.sql:7-19).

    A7 ordered aggregation uses the sort-struct idiom with an explicit
    (event_epoch_timestamp, sku) tie-break so results are deterministic
    under shuffle (SURVEY.md §7 watch-list 1).
    """
    return (
        exploded.filter(F.col("event_type") == "event_product")
        .filter(F.col("product_action").isin(*PRODUCT_ACTIONS))
        .groupBy("session_id", "api_key", "session_date")
        .agg(
            ordered_collect("sku", "event_epoch_timestamp", "sku").alias(
                "interactions"
            )
        )
    )


# ---------------------------------------------------------------------------
# Driver-table shape (synthetic `events`: event_id, ts/ts_ns/ts_ms,
# user_id, event_type, value, props)
# ---------------------------------------------------------------------------


def driver_events_exploded(events: DataFrame) -> DataFrame:
    """Model 1 on the driver's events table: JSON-extract ``props.k``
    (the RAW_DATA role, FIXTURES.md), stamp per-user session dates.

    Window A9 partitions by ``user_id`` (the session key) — never a
    global ``Window.orderBy()`` (SURVEY.md §7 watch-list 6).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts_ns",
        "ts_ms",
        F.to_date("ts").alias("event_date"),
        json_get("props", "k", "long").alias("k"),
    ).withColumn("session_date", F.first("event_date").over(w))


def driver_session_events(events: DataFrame, min_events: int = 3) -> DataFrame:
    """Flagship sessionization (SURVEY.md §7 Phase 1).

    scan → JSON extract (B1) → event-type filter (A10/A11) → grouped
    ordered array-agg (A7+A8) with (ts_ns, event_id) tie-break →
    size filter (A14) → sort by session_date (A15).

    One shuffle total (the groupBy); the session_date comes from the
    same aggregation (``min(ts)``), not a second window pass.
    """
    return (
        events.filter(F.col("event_type").isin(*EVENT_TYPES))
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            "ts",
            json_get("props", "k", "long").alias("k"),
        )
        .groupBy("user_id")
        .agg(
            F.to_date(F.min("ts")).alias("session_date"),
            F.count(F.lit(1)).alias("n_events"),
            ordered_collect(F.col("k").cast("string"), "ts_ns", "event_id").alias(
                "interactions"
            ),
        )
        .filter(F.col("n_events") >= min_events)
        .orderBy("session_date", "user_id")
    )
