"""Append-only event-log ingestion (SURVEY.md §2 H1-H7; reference
upload/upload_to_snowflake.py).

The reference's ingestion is: dataset of nested sessions → truncate to
MAX_SESSIONS → one CSV row per event stamped with (etl_timestamp,
etl_id, api_key, event_date) + the raw JSON payload → PUT (gzip) →
COPY INTO an append-only table (upload_to_snowflake.py:152-207).

Spark-first: the CSV/stage/COPY three-step collapses into one lazy
chain ending in ``df.write.mode("append").parquet`` partitioned by the
tenant key — the layout decision that makes A12 tenant filters prune
partitions for free at 100 TB (SURVEY.md §4).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# raw table DDL parity (reference upload_to_snowflake.py:56-70)
RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("etl_timestamp", T.LongType(), False),
        T.StructField("etl_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("api_key", T.StringType(), True),
        T.StructField("event_date", T.DateType(), True),
        T.StructField("raw_data", T.StringType(), True),
    ]
)


def explode_sessions(sessions: DataFrame, events_col: str = "events") -> DataFrame:
    """H6: nested sessions → one row per event (reference
    upload_to_snowflake.py:165-176 iterates sessions then events;
    here a single ``explode``)."""
    other = [c for c in sessions.columns if c != events_col]
    return sessions.select(*other, F.explode(F.col(events_col)).alias("event"))


def stamp_etl(
    df: DataFrame,
    api_key: str,
    etl_id: str | None = None,
    etl_timestamp_ms: int | None = None,
) -> DataFrame:
    """H5: constant load-metadata columns on every row of a load
    (reference upload_to_snowflake.py:152-154,168-175)."""
    etl_id = etl_id or str(uuid.uuid4())
    ts = etl_timestamp_ms if etl_timestamp_ms is not None else int(time.time() * 1000)
    return (
        df.withColumn("etl_timestamp", F.lit(ts).cast("long"))
        .withColumn("etl_id", F.lit(etl_id))
        .withColumn("api_key", F.lit(api_key))
    )


def ingest_events(
    sessions: DataFrame,
    out_path: str,
    api_key: str,
    max_sessions: int | None = None,
    etl_id: str | None = None,
    etl_timestamp_ms: int | None = None,
    events_col: str = "events",
) -> str:
    """The full H1-H7 chain: truncate → explode → project the raw-table
    shape (JSON payload + typed envelope) → stamp → append-write.

    ``sessions`` rows carry an array-of-struct ``events`` column where
    each struct has the payload fields of FIXTURES.md A2 (event_type,
    hashed_url, product_action, product_sku, server_timestamp_epoch_ms,
    session_id). Returns the written path.

    Writes ``partitionBy(api_key)``: the tenant key is the reference's
    multi-tenant partition key (upload_to_snowflake.py:187), and
    partition-pruned reads replace its ``WHERE api_key = ?`` scans.
    """
    if max_sessions is not None:
        sessions = sessions.limit(max_sessions)  # H7 (MAX_SESSIONS)
    ev = explode_sessions(sessions, events_col)
    flat = ev.select(
        F.col("event.event_type").alias("event_type"),
        # C3: epoch ms → DATE, pinned UTC (reference derived in local tz)
        F.to_date(
            F.timestamp_millis(
                F.col("event.server_timestamp_epoch_ms").try_cast("long")
            )
        ).alias("event_date"),
        # B2: payload serialized back to one JSON document per row
        F.to_json(F.col("event")).alias("raw_data"),
    )
    stamped = stamp_etl(flat, api_key, etl_id, etl_timestamp_ms).select(
        "etl_timestamp", "etl_id", "event_type", "api_key", "event_date", "raw_data"
    )
    stamped.write.mode("append").partitionBy("api_key").parquet(out_path)
    return out_path


# the log as ``ingest_events`` writes it: data columns in file order,
# then the partition column, every column nullable as parquet reads it
RAW_LOG_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in sorted(RAW_EVENTS_SCHEMA, key=lambda f: f.name == "api_key")
    ]
)


def read_raw_events(spark, path: str) -> DataFrame:
    """Read the append-only log back (schema-on-read for raw_data).
    The schema is known, so no footer job infers it."""
    return spark.read.schema(RAW_LOG_SCHEMA).parquet(path)
