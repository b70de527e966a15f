"""JSON / array-function coverage queries (SURVEY.md §2 B2/B3, D5, E2,
K6) — the operators not already exercised by the sessionization and
text catalogs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from post_modern_stack_spark.functions import json_get
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table


@query(
    "props_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_key
    FROM events
    """,
)
def q_props_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B3 typed path: ``from_json`` with a declared schema (the
    engine-core option (b) of SURVEY.md §1.1) — PERMISSIVE mode, so
    missing keys/malformed docs yield NULL exactly like Snowflake's
    ``:"path"`` extraction (watch-list 2)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(
            "props",
            T.StructType(
                [
                    T.StructField("k", T.LongType(), True),
                    T.StructField("missing", T.LongType(), True),
                ]
            ),
        ).alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p.missing").alias("missing_key"),
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(
             to_json(struct_pack(event_type := event_type,
                                 user_id   := user_id)),
             '$.event_type') AS VARCHAR) AS rt_event_type,
           CAST(json_extract_string(
             to_json(struct_pack(event_type := event_type,
                                 user_id   := user_id)),
             '$.user_id') AS BIGINT) AS rt_user_id
    FROM events
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2+B3 round trip: struct → ``to_json`` (the ingest-side
    ``json.dumps`` parity, reference upload_to_snowflake.py:175) →
    path-extract back. Compared on the extracted values (raw JSON text
    may differ in key spacing across engines)."""
    ev = load_table(spark, sf_dir, "events")
    j = ev.select(
        "event_id",
        F.to_json(F.struct("event_type", "user_id")).alias("doc"),
    )
    return j.select(
        "event_id",
        F.get_json_object("doc", "$.event_type").alias("rt_event_type"),
        F.get_json_object("doc", "$.user_id").try_cast("long").alias("rt_user_id"),
    )


@query(
    "top_value_dims",
    oracle="""
    WITH dims AS (
      SELECT vec_id,
             unnest(embedding)                  AS v,
             generate_subscripts(embedding, 1)  AS dim
      FROM embeddings
    ),
    ranked AS (
      SELECT vec_id, dim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY v DESC, dim) AS rk
      FROM dims
    )
    SELECT vec_id,
           string_agg(CAST(dim - 1 AS VARCHAR), ' ' ORDER BY rk) AS top_dims
    FROM ranked WHERE rk <= 3
    GROUP BY vec_id
    """,
)
def q_top_value_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 per-row top-K (the np.argsort[..., -k:][::-1] pattern,
    reference lstm_model.py:38-40): zip values with indices, sort the
    struct array, slice K — all inside one projection, no explode, no
    shuffle. 0-based dims for NumPy parity."""
    emb = load_table(spark, sf_dir, "embeddings")
    zipped = F.zip_with(
        F.col("embedding"),
        F.sequence(F.lit(0), F.size("embedding") - 1),
        # sort key: (-value, dim) ascending == value desc, dim asc
        lambda v, i: F.struct((-v.cast("double")).alias("nv"), i.alias("dim")),
    )
    top = F.slice(F.array_sort(zipped), 1, 3)
    return emb.select(
        "vec_id",
        F.concat_ws(
            " ", F.transform(top, lambda s: s.getField("dim").cast("string"))
        ).alias("top_dims"),
    )


@query(
    "sessions_with_target_items",
    oracle="""
    SELECT user_id,
           list_has_any(list(CAST(json_extract_string(props, '$.k') AS BIGINT)),
                        [1, 2, 3]) AS has_target
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
    GROUP BY user_id
    """,
)
def q_sessions_with_target_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 hit test (``y_test[i] in y_preds[i]``, reference
    my_reclist.py:18-26 family): ``arrays_overlap`` against a literal
    target array, evaluated per session."""
    ev = load_table(spark, sf_dir, "events")
    from post_modern_stack_spark.functions import json_get

    sess = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", json_get("props", "k", "long").alias("k"))
        .groupBy("user_id")
        .agg(F.collect_list("k").alias("items"))
    )
    return sess.select(
        "user_id",
        F.arrays_overlap(
            "items", F.array(F.lit(1), F.lit(2), F.lit(3)).cast("array<long>")
        ).alias("has_target"),
    )


@query("approx_sketches")  # rows-only: approximate by definition (K6)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 sketch posture for 100 TB: HLL distinct + approximate
    percentiles in one aggregation pass (exact counterparts would
    shuffle full key sets).

    Output is flat scalar columns only (p50/p95/p99 doubles, not an
    array) so the driver's record/serialize step handles the row.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000)
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_id", 0.01).alias("approx_events"),
        F.round(pct.getItem(0), 6).alias("value_p50"),
        F.round(pct.getItem(1), 6).alias("value_p95"),
        F.round(pct.getItem(2), 6).alias("value_p99"),
    )


@query(
    "user_type_value_map",
    oracle="""
    WITH per_type AS (
      SELECT user_id,
             event_type,
             CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS v
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           string_agg(event_type || ':' || CAST(v AS VARCHAR), ' '
                      ORDER BY event_type) AS type_values,
           count(*) AS n_types
    FROM per_type
    GROUP BY user_id
    """,
)
def q_user_type_value_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip (B-family widened): per-user event_type →
    total-value MAP built with ``map_from_entries``, then unpacked via
    ``map_entries``/``transform`` into a canonical sorted string (the
    map itself can't hash-compare across engines; its canonical
    serialization can). ``map_keys`` supplies the type count.

    The per-(user, type) aggregate shuffles once; the map build and
    unpack are pure expressions on the aggregate — MapType costs
    nothing extra at scale when it's constructed post-aggregation
    rather than carried through the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 2).cast("decimal(18,2)").alias("v")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "v")))
        ).alias("m")
    )
    entry_strs = F.transform(
        F.map_entries("m"),
        lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
    )
    return mapped.select(
        "user_id",
        F.concat_ws(" ", entry_strs).alias("type_values"),
        F.size(F.map_keys("m")).alias("n_types"),
    )


@query(
    "viewed_vs_purchased_items",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             list_sort(list(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
                       FILTER (WHERE event_type = 'view'))     AS viewed,
             list_sort(list(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
                       FILTER (WHERE event_type = 'purchase')) AS purchased
      FROM events
      WHERE event_type IN ('view', 'purchase')
      GROUP BY user_id
    )
    SELECT user_id,
           coalesce(array_to_string(list_sort(list_filter(coalesce(viewed, []),
                             x -> list_contains(coalesce(purchased, []), x))), ' '), '')
             AS converted,
           coalesce(array_to_string(list_sort(list_filter(coalesce(viewed, []),
                             x -> NOT list_contains(coalesce(purchased, []), x))), ' '), '')
             AS browsed_only,
           len(list_filter(coalesce(viewed, []),
                           x -> list_contains(coalesce(purchased, []), x)))
             AS n_converted
    FROM per_user
    """,
)
def q_viewed_vs_purchased_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operators (D-family widened): per-user item sets for
    two event types, intersected (viewed AND purchased = converted) and
    differenced (viewed only) with ``array_intersect``/``array_except``
    — the funnel-analysis shape over collected sets.

    One shuffle (the conditional collect_set aggregation); the set
    algebra is pure expression work on user-grain rows. Arrays emit
    sorted + space-joined so cross-engine comparison is canonical.
    """
    ev = load_table(spark, sf_dir, "events")
    k = json_get("props", "k", "long")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.collect_set(F.when(F.col("event_type") == "view", k)).alias("viewed"),
            F.collect_set(F.when(F.col("event_type") == "purchase", k)).alias(
                "purchased"
            ),
        )
    )
    inter = F.array_sort(F.array_intersect("viewed", "purchased"))
    only = F.array_sort(F.array_except("viewed", "purchased"))
    return per_user.select(
        "user_id",
        F.concat_ws(" ", F.transform(inter, lambda x: x.cast("string"))).alias(
            "converted"
        ),
        F.concat_ws(" ", F.transform(only, lambda x: x.cast("string"))).alias(
            "browsed_only"
        ),
        F.size(inter).alias("n_converted"),
    )
