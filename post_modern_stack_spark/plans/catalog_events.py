"""Event-log queries: the reference pipeline's semantics on the driver's
``events`` table (SURVEY.md §2 A5/A9/A12/A13, B1-B3, D, E1, F, G).

Shared sessionization subquery (flagship) is reused via
``operators.sessionize.driver_session_events``; the DuckDB oracles
re-state it as a CTE (``_SESS_CTE``) so both sides derive from
identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import core, json_get, pad_sequence
from post_modern_stack_spark.operators import metrics as M
from post_modern_stack_spark.operators import shaping, vocab
from post_modern_stack_spark.operators.sessionize import (
    EVENT_TYPES,
    driver_events_exploded,
    driver_session_events,
)
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table

_SESS_CTE = """
    sess AS (
      SELECT user_id,
             CAST(min(ts) AS DATE) AS session_date,
             count(*)              AS n_events,
             list(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
                  ORDER BY ts, event_id) AS inter
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
      HAVING count(*) >= 3
    )
"""


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins selection per key (A5 generalized from latest-ETL;
    reference shopping_events_exploded.sql:7-13). Deterministic
    (ts, event_id) tie-break; WindowGroupLimit prunes to 1 row per key
    before any sort spill."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_ns"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts_ms")
    )


@query(
    "events_exploded",
    oracle="""
    SELECT event_id,
           user_id,
           event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           epoch_ms(ts) AS ts_ms,
           strftime(first_value(CAST(ts AS DATE))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d') AS session_date
    FROM events
    """,
)
def q_events_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-1 parity on the driver table: JSON path extraction (B1) +
    session-start stamping window (A9; reference
    shopping_events_exploded.sql:14-29)."""
    ev = load_table(spark, sf_dir, "events")
    flat = driver_events_exploded(ev)
    return flat.select(
        "event_id",
        "user_id",
        "event_type",
        "k",
        "ts_ms",
        F.date_format("session_date", "yyyy-MM-dd").alias("session_date"),
    )


@query(
    "user_daily_value",
    oracle="""
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           round(sum(value), 2)                   AS total_value,
           count(*)                               AS n_events
    FROM events
    WHERE event_type IN ('purchase', 'click')
      AND ts >  TIMESTAMP '2024-01-02 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY user_id, CAST(ts AS DATE)
    """,
)
def q_user_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized tenant/date extraction shape (A12/A13; reference
    my_dbt_flow.py:240-243): half-open time window + IN-list, grouped
    daily rollup. Predicates push to the scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("event_type").isin("purchase", "click")
            & (F.col("ts") > F.lit("2024-01-02 00:00:00").cast("timestamp"))
            & (F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "total_value",
            "n_events",
        )
    )


@query(
    "user_running_value",
    oracle="""
    SELECT event_id,
           user_id,
           epoch_ms(ts) AS ts_ms,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_value
    FROM events
    """,
)
def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running analytic window per key (A9 family): same frame semantics
    as the reference's first_value stamping, exercised as a cumulative
    sum."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@query(
    "split_assign",
    oracle=f"""
    WITH {_SESS_CTE}
    SELECT user_id,
           strftime(session_date, '%Y-%m-%d') AS session_date,
           CASE WHEN percent_rank() OVER (ORDER BY session_date, user_id) < 0.9
                THEN 'train' ELSE 'test' END AS split
    FROM sess
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered 90/10 split (E1; reference my_dbt_flow.py:256-268)
    at session grain via percent_rank."""
    sess = driver_session_events(load_table(spark, sf_dir, "events"))
    out = shaping.split_by_time(
        sess.select("user_id", "session_date"), ["session_date", "user_id"]
    )
    return out.select(
        "user_id",
        F.date_format("session_date", "yyyy-MM-dd").alias("session_date"),
        "split",
    )


@query(
    "session_xy",
    oracle=f"""
    WITH {_SESS_CTE}
    SELECT user_id,
           array_to_string(list_slice(inter, 1, len(inter) - 1), ' ') AS x,
           inter[-1] AS y,
           concat(repeat('0 ', greatest(20 - (len(inter) - 1), 0)),
                  array_to_string(
                    list_slice(inter,
                               greatest(len(inter) - 1 - 19, 1),
                               len(inter) - 1), ' ')) AS x_padded
    FROM sess
    """,
)
def q_session_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset shaping (D2/D3/D4; reference my_dbt_flow.py:272-275,337):
    x = prefix, y = last element, x_padded = left-0-pad/keep-last-20.
    Arrays emitted as joined strings for hash stability."""
    sess = driver_session_events(load_table(spark, sf_dir, "events"))
    shaped = shaping.pad_dataset(shaping.xy_pairs(sess), "x", maxlen=20)
    return shaped.select(
        "user_id",
        F.concat_ws(" ", "x").alias("x"),
        F.col("y"),
        F.concat_ws(" ", pad_sequence("x", 20, "0")).alias("x_padded"),
    )


@query(
    "session_stats",
    oracle=f"""
    WITH {_SESS_CTE}
    SELECT count(*)                      AS n_sessions,
           CAST(sum(len(inter)) AS BIGINT) AS n_interactions,
           round(avg(len(inter)), 4)     AS avg_session_len,
           min(len(inter))               AS min_session_len,
           max(len(inter))               AS max_session_len,
           count(DISTINCT user_id)       AS n_users
    FROM sess
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset statistics (G1; reference my_reclist.py:6-16)."""
    sess = driver_session_events(load_table(spark, sf_dir, "events"))
    return M.dataset_stats(sess)


@query(
    "session_quality",
    oracle=f"""
    WITH {_SESS_CTE}
    SELECT count(*) - count(DISTINCT user_id) AS user_id_duplicates,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls
    FROM sess
    """,
)
def q_session_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt data tests as one aggregation (reference schema.yml:9-13:
    unique + not_null on the session key). All counts must be 0."""
    sess = driver_session_events(load_table(spark, sf_dir, "events"))
    return M.data_quality_checks(sess, "user_id").select(
        "user_id_duplicates", "user_id_nulls"
    )


@query(
    "encode_sessions",
    oracle=f"""
    WITH {_SESS_CTE},
    tokens AS (
      SELECT unnest(inter) AS token FROM sess
    ),
    vocab AS (
      SELECT token,
             row_number() OVER (ORDER BY count(*) DESC, token) + 1 AS token_id
      FROM tokens GROUP BY token
    ),
    vmap AS (
      SELECT map_from_entries(list((token, token_id))) AS m FROM vocab
    )
    SELECT s.user_id,
           array_to_string(
             list_transform(s.inter, t -> CAST(coalesce(m[t][1], 1) AS VARCHAR)),
             ' ') AS encoded
    FROM sess s, vmap
    """,
)
def q_encode_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab build + token encode (F1/F2; reference
    my_dbt_flow.py:323-333): frequency-ranked ids from 2 (id 1 = OOV,
    Keras oov_token parity), broadcast map lookup on the session side.

    localCheckpoint: the vocab build collects token counts (one job)
    and the encode re-reads the sessions (second job) — without it the
    sessionization shuffle runs twice."""
    sess = driver_session_events(
        load_table(spark, sf_dir, "events")
    ).localCheckpoint()
    vb = vocab.build_vocab(sess, "interactions")
    enc = vocab.encode(sess, vb, "interactions")
    return enc.select(
        "user_id",
        F.concat_ws(
            " ", F.transform(F.col("encoded"), lambda x: x.cast("string"))
        ).alias("encoded"),
    )


@query(
    "gap_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_ms(ts)
                       - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 30 * 60 * 1000
                  OR lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM marked
    )
    SELECT user_id,
           CAST(session_no AS BIGINT) AS session_no,
           count(*)                   AS n_events,
           epoch_ms(min(ts))          AS session_start_ms,
           epoch_ms(max(ts))          AS session_end_ms,
           round(sum(value), 2)       AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def q_gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 batch analog with an exact oracle: inactivity-gap
    sessionization via the lag-flag + running-sum idiom (the relational
    equivalent of ``F.session_window``; that streaming-native form is
    exercised in streaming/). 30-minute gap; both window passes share
    the user_id shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # same (ts_ns, event_id) tie-break as w_order: a ROWS-frame running
    # sum over a partial order is shuffle-nondeterministic on ties
    # (SURVEY §7 watch-list 1)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "user_id",
        "event_id",
        "ts_ns",
        "ts_ms",
        "value",
        F.when(
            (F.col("ts_ms") - F.lag("ts_ms").over(w_order) > 30 * 60 * 1000)
            | F.lag("ts_ms").over(w_order).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = marked.withColumn("session_no", F.sum("new_session").over(w_run))
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ms").alias("session_start_ms"),
        F.max("ts_ms").alias("session_end_ms"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_variant
    FROM events
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 option (c) from SURVEY.md §1.1: Spark 4 VariantType —
    ``parse_json`` + ``try_variant_get``, the closest semantic match to
    Snowflake's VARIANT path extraction (NULL on missing/malformed)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_variant_get(F.parse_json("props"), "$.k", "long").alias("k_variant"),
    )


@query(
    "value_stats_by_type",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS median_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           round(stddev_samp(value), 4)         AS stddev_value,
           round(corr(value, CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
                                                AS corr_value_k
    FROM events
    GROUP BY event_type
    """,
)
def q_value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: exact interpolated percentiles
    (``percentile``, the sort-based exact form — ``percentile_approx``
    is the 100 TB path, see approx_sketches), sample stddev, Pearson
    correlation. One hash-agg pass."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    # single-row-group input caps the scan at 1 task while the per-row
    # work here (JSON parse + exact-percentile buffer insert) is the
    # whole query cost — widen conditionally (no-op on wide scans;
    # guide §2.5, r11 measurement in OPTIMIZATION_r11.md)
    ev = widen_narrow_scan(
        load_table(spark, sf_dir, "events").select(
            "event_type", "value", "props"
        )
    )
    k = json_get("props", "k", "long")
    # both percentiles from ONE array-argument call: the sort buffer per
    # group is built once, not once per quantile
    pcts = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95)))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pcts, 1), 4).alias("median_value"),
        F.round(F.element_at(pcts, 2), 4).alias("p95_value"),
        F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
        F.round(F.corr("value", k), 4).alias("corr_value_k"),
    )


@query(
    "predict_hit_rate",
    oracle="""
    WITH sess AS (
      SELECT user_id,
             list(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS VARCHAR) ORDER BY ts, event_id) AS toks
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
      HAVING count(*) >= 3
    ),
    xy AS (
      SELECT toks[1:len(toks) - 1] AS x, toks[len(toks)] AS y FROM sess
    ),
    counts AS (
      SELECT token, count(*) AS freq
      FROM (SELECT unnest(x) AS token FROM xy)
      GROUP BY token
    ),
    vocab AS (
      SELECT token,
             row_number() OVER (ORDER BY freq DESC, token) + 1 AS token_id
      FROM counts
    ),
    enc AS (
      SELECT coalesce(v.token_id, 1) AS y_enc
      FROM xy LEFT JOIN vocab v ON v.token = xy.y
    )
    SELECT round(avg(CASE WHEN y_enc BETWEEN 2 AND 11
                          THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
    FROM enc
    """,
)
def q_predict_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full inference loop distributed (reference test_model step,
    my_dbt_flow.py:409-429): sessions → x/y split → encode → pad →
    batched top-K predict (Arrow UDF) → HitRate@10. One row out;
    exercises every stage of the ML boundary in a single lazy plan.

    Oracle-paired since round 5 (VERDICT r04 item 4): the baseline is
    now the TRUE-popularity model (rank_popularity_model — predicts
    the 10 most frequent training tokens, no RNG), so the whole loop
    — session build, vocab ranking, encode, top-K predict, metric —
    replays in SQL: HitRate@10 ≡ share of labels whose frequency rank
    is ≤ 10 (y_enc BETWEEN 2 AND 11; UNK=1 never predicted)."""
    from post_modern_stack_spark.functions import pad_sequence
    from post_modern_stack_spark.operators import inference, metrics, shaping, vocab

    sess = driver_session_events(load_table(spark, sf_dir, "events")).localCheckpoint()
    shaped = shaping.xy_pairs(sess, "interactions")
    vb = vocab.build_vocab(shaped, "x")
    # ONE vocab-plan execution (r11): the old shape executed the vocab
    # aggregate three times — encode's internal collect, the broadcast
    # y-join subtree, and a separate vb.count() action. Collect once;
    # the y lookup becomes the same map-literal expression encode uses
    # (identical semantics: missing key → NULL → UNK), and n_classes
    # is the collected row count.
    vb_rows = vb.select("token", "token_id").collect()
    # ONE parsed map literal (r12): create_map over per-entry F.lit
    # columns was two py4j round trips per vocab entry — the dominant
    # driver-build cost of this query (profiler build_ms ~1.3 s).
    y_map = vocab.map_literal(vb_rows)
    enc = (
        vocab.encode(shaped, vb, "x", "x_enc", pairs=vb_rows)
        .withColumn(
            "y_enc",
            F.coalesce(
                F.element_at(y_map, F.col("y")), F.lit(vocab.UNK_ID)
            ).cast("int"),
        )
        .withColumn("x_padded", pad_sequence("x_enc", 20, 0))
    )
    n_classes = len(vb_rows) + 2  # ids 1..vocab+1
    pred = inference.batched_top_k_predict(
        enc, inference.rank_popularity_model(n_classes), k=10
    )
    return metrics.hit_rate_at_k(pred, "y_enc", "preds")


# stratified_sample (seeded ``sampleBy``) was retired from the catalog
# in round 6 (VERDICT r05 item 5): its row membership depends on
# Spark's partition RNG — engine-private by definition, so it could
# never be oracle-paired — and ``stratified_sample_portable`` [O]
# (arithmetic-hash per-stratum rates, green r05) covers the operator
# with a hash-checked twin (COVERAGE.md §R census row removed with it).


@query(
    "user_event_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def q_user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event-type count matrix. The
    explicit value list keeps the schema static (no extra pass to
    discover pivot values) — mandatory at scale."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )


@query(
    "hit_rate_popularity",
    oracle=f"""
    WITH {_SESS_CTE},
    pop AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             count(*) AS freq
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY 1
      QUALIFY row_number() OVER (ORDER BY count(*) DESC, k) <= 10
    )
    SELECT round(avg(CASE WHEN CAST(inter[-1] AS BIGINT) IN (SELECT k FROM pop)
                          THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
    FROM sess
    """,
)
def q_hit_rate_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HitRate@10 (G2; reference my_reclist.py:18-26) against a
    popularity-baseline recommender: top-10 most frequent items, hit if
    the session's held-out last item is among them. The top-10 list
    broadcasts into an array_contains — no join shuffle."""
    ev = load_table(spark, sf_dir, "events")
    flat = ev.filter(F.col("event_type").isin(*EVENT_TYPES)).select(
        json_get("props", "k", "long").alias("k")
    )
    top10 = (
        flat.groupBy("k")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("k"))
        .limit(10)
        .agg(F.collect_list("k").alias("preds"))
    )
    sess = driver_session_events(ev)
    labeled = sess.select(
        F.element_at(F.col("interactions"), -1).cast("long").alias("y")
    ).crossJoin(F.broadcast(top10))
    return M.hit_rate_at_k(labeled, "y", "preds")


@query(
    "time_bucket_rollup",
    oracle="""
    WITH fine AS (
      SELECT epoch_ms(ts) - epoch_ms(ts) % 900000 AS bucket_ms,
             event_type,
             count(*)              AS n_events,
             round(sum(value), 2)  AS sum_value
      FROM events
      GROUP BY 1, 2
    )
    SELECT bucket_ms - bucket_ms % 86400000 AS day_ms,
           event_type,
           CAST(sum(n_events) AS BIGINT)    AS n_events,
           round(sum(sum_value), 2)         AS sum_value,
           count(*)                         AS n_buckets
    FROM fine
    GROUP BY 1, 2
    """,
)
def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time-bucket rollup: events →
    15-minute buckets → daily re-aggregation (the continuous-aggregate
    / materialized-rollup pattern of time-series stores).

    Spark-first: bucketing is integer math on epoch-ms (no UDF, no
    timezone trap), and the day grain re-aggregates the FINE rollup,
    not the raw events — at 100 TB the coarse grain reads ~96×fewer
    rows than a second scan would, and both aggregations share one
    shuffle tree since day_ms is a function of bucket_ms (Catalyst
    keeps the second agg on the same hash partitioning when keys are
    prefixes; here the day agg runs over already-tiny data either way).

    The fine sum rounds to 2dp BEFORE the day sum (both engines), so
    the re-aggregation drift of double addition cannot diverge.
    """
    ev = load_table(spark, sf_dir, "events")
    fine = (
        ev.groupBy(
            (F.col("ts_ms") - F.col("ts_ms") % 900_000).alias("bucket_ms"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return (
        fine.groupBy(
            (F.col("bucket_ms") - F.col("bucket_ms") % 86_400_000).alias("day_ms"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


@query("daily_sketch_rollup")  # rows-only: HLL estimates are approximate (K6)
def q_daily_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 MERGEABLE-sketch posture: per-day HLL sketches of the user
    set, unioned into a period-level distinct estimate WITHOUT
    re-scanning the raw data — the pattern that makes distinct-counting
    tractable at 100 TB (store tiny daily sketches; any date-range
    distinct is a sketch merge, not a fact-table pass).

    ``hll_sketch_agg`` → binary sketch per day; ``hll_union_agg`` merges
    them; ``hll_sketch_estimate`` reads estimates out. The merged
    estimate equals (±HLL error) the full-scan distinct while touching
    only |days| sketch rows at query time; the naive sum of daily
    distincts overcounts repeat users — both emitted so the difference
    is visible.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    return daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_users_merged"),
        F.sum(F.hll_sketch_estimate("sk")).alias("sum_daily_distincts"),
    )


@query(
    "negative_samples",
    oracle="""
    WITH interacted AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    users AS (SELECT DISTINCT user_id FROM interacted),
    domain AS (SELECT DISTINCT k FROM interacted),
    candidates AS (
      SELECT u.user_id, d.k,
             (u.user_id * 2654435761 + d.k * 40503) % 1000003 AS h
      FROM users u CROSS JOIN domain d
      WHERE NOT EXISTS (
        SELECT 1 FROM interacted i WHERE i.user_id = u.user_id AND i.k = d.k
      )
    )
    SELECT user_id, k AS neg_item, rank FROM (
      SELECT user_id, k,
             row_number() OVER (PARTITION BY user_id ORDER BY h, k) AS rank
      FROM candidates
    ) WHERE rank <= 3
    """,
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (the recommender/contrastive-
    training staple the reference's LSTM pipeline would need for
    pairwise losses): per user, 3 pseudo-random items they did NOT
    interact with.

    Spark-first at 100 TB: the item DOMAIN is catalog-sized →
    broadcast; the anti-join (NOT EXISTS) is a left_anti against the
    user's interacted set; "random" choice is an ARITHMETIC hash
    (Knuth multiplicative mod a prime) so the sample is reproducible,
    partition-independent, and cross-engine identical — seeded `rand()`
    would be none of those. Per-user top-3 via WindowGroupLimit prunes
    map-side.
    """
    from post_modern_stack_spark.operators.shaping import top_k_per_group

    ev = load_table(spark, sf_dir, "events")
    interacted = (
        ev.filter(F.col("event_type").isin(*EVENT_TYPES))
        .select("user_id", json_get("props", "k", "long").alias("k"))
        .distinct()
    )
    users = interacted.select("user_id").distinct()
    domain = interacted.select("k").distinct()
    candidates = (
        users.join(F.broadcast(domain))
        .join(interacted, ["user_id", "k"], "left_anti")
        .withColumn(
            "h",
            (F.col("user_id") * F.lit(2654435761) + F.col("k") * F.lit(40503))
            % F.lit(1_000_003),
        )
    )
    return top_k_per_group(candidates, ["user_id"], [F.asc("h"), F.asc("k")], 3).select(
        "user_id", F.col("k").alias("neg_item"), "rank"
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_ns(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after,
           (SELECT count(*) FROM p) AS n_purchased_after
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel (view → click-after-view → purchase-after-click):
    each stage keeps users whose step event strictly follows their
    previous stage's first occurrence — the sequence-sensitive cousin
    of the set-algebra funnel (catalog_json sessions shape).

    Scale shape: every stage aggregate collapses to USER grain before
    the next join, so the two joins carry |users| rows on the build
    side (broadcastable at any realistic user count), and the fact
    table is scanned once per stage with the event_type filter pushed
    to parquet."""
    ev = load_table(spark, sf_dir, "events")
    # v and c are each consumed twice (next stage's join + the final
    # count); they are user-grain and tiny, so materialize them once
    # instead of re-scanning + re-aggregating the fact per reference
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t1"))
        .localCheckpoint()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts_ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
        .localCheckpoint()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts_ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


@query(
    "value_trend_by_type",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, hr), 5) AS slope,
           round(regr_intercept(value, hr), 5) AS intercept,
           count(*) AS n_events
    FROM (
      SELECT event_type, value, CAST(hour(ts) AS DOUBLE) AS hr FROM events
    )
    GROUP BY event_type
    """,
)
def q_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (distributed closed-form regression): slope/
    intercept of event value vs hour-of-day per event type, via the
    SQL-standard regr_* aggregates — algebraic, so partial aggregation
    applies and the shuffle carries 5 groups × 6 moments, nothing
    row-grain. The grouped-model-fitting shape without any Python."""
    ev = load_table(spark, sf_dir, "events")
    prepped = ev.select(
        "event_type", "value", F.hour("ts").cast("double").alias("hr")
    )
    return prepped.groupBy("event_type").agg(
        F.round(F.expr("regr_slope(value, hr)"), 5).alias("slope"),
        F.round(F.expr("regr_intercept(value, hr)"), 5).alias("intercept"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _pagerank_oracle(iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled power-iteration twin of ``operators/graph.pagerank``.

    A fixed iteration count makes the recursion replayable as ``iters``
    chained plain-SQL CTEs (no recursive aggregation needed) — the same
    trick that oracle-paired ``near_dup_clusters_portable`` and
    ``holt_forecast``. Every float expression mirrors the engine's
    association order exactly ((1-d)/n, (d*dang)/n, per-edge
    rank/outdeg then sum), so the only cross-engine difference is
    sum-order noise ~1e-13 after 8 iterations — invisible at the 6dp
    output rounding (rank values are arbitrary-mantissa rationals, so
    an exact boundary hit has measure ~0).
    """
    head = f"""
    WITH base AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    seq AS (
      SELECT item,
             lead(item) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_item
      FROM base
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT item AS src, next_item AS dst
      FROM seq WHERE next_item IS NOT NULL AND next_item != item
    ),
    outdeg AS MATERIALIZED (
      SELECT src, count(*) AS outdeg FROM edges GROUP BY src
    ),
    nodes AS MATERIALIZED (
      SELECT node, (node IN (SELECT src FROM edges)) AS has_out
      FROM (SELECT src AS node FROM edges
            UNION SELECT dst FROM edges) u
    ),
    meta AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    r0 AS MATERIALIZED (
      SELECT node, has_out,
             CAST(1.0 AS DOUBLE) / (SELECT n FROM meta) AS rank
      FROM nodes
    )"""
    # bare decimal literals parse as DECIMAL in DuckDB; CAST to DOUBLE
    # so every op replays the engine's IEEE arithmetic bit-for-bit
    # (base mirrors Python's (1.0 - damping), incl. its rounding)
    step = """,
    r{i} AS MATERIALIZED (
      SELECT nd.node, nd.has_out,
             CAST({base!r} AS DOUBLE) / m.n
             + CAST({d!r} AS DOUBLE) * dg.dang / m.n
             + CAST({d!r} AS DOUBLE) * coalesce(c.c, CAST(0.0 AS DOUBLE))
                 AS rank
      FROM r{p} nd
      LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / o.outdeg) AS c
        FROM edges e
        JOIN r{p} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) c ON c.node = nd.node,
      (SELECT coalesce(sum(rank) FILTER (WHERE NOT has_out),
                       CAST(0.0 AS DOUBLE)) AS dang
       FROM r{p}) dg,
      meta m
    )"""
    body = "".join(
        step.format(i=i, p=i - 1, d=str(damping), base=str(1.0 - damping))
        for i in range(1, iters + 1)
    )
    return (
        head
        + body
        + f"""
    SELECT node AS item, round(rank, 6) AS rank FROM r{iters}
    """
    )


@query("item_pagerank", oracle=_pagerank_oracle())
def q_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the item-transition graph (consecutive
    items in each user's event timeline → directed edge), the
    weighted-contribution iterative pattern complementing
    near_dup_clusters' label propagation. 8 fixed iterations,
    localCheckpoint-ed lineage (operators/graph.pagerank); fixed
    damping + deterministic init + bounded iterations make it
    replayable as an unrolled chained-CTE power iteration in the
    oracle (VERDICT round-3 item 5), double-anchored by the dense
    numpy power-iteration parity test."""
    from pyspark.sql import Window

    from post_modern_stack_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts_ns",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).filter(F.col("item").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    edges = (
        ev.withColumn("next_item", F.lead("item").over(w))
        .filter(F.col("next_item").isNotNull() & (F.col("item") != F.col("next_item")))
        .select(F.col("item").alias("src"), F.col("next_item").alias("dst"))
    )
    # item vocabulary is catalog-bounded -> ranks broadcast, edges never
    # shuffle per iteration (operators/graph.pagerank docstring)
    ranks = pagerank(edges, iters=8, broadcast_ranks=True)
    return ranks.select(
        F.col("node").alias("item"), F.round("rank", 6).alias("rank")
    )


@query(
    "item_reachability",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    seq AS (
      SELECT item,
             lead(item) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_item
      FROM base
    ),
    edges AS (
      SELECT DISTINCT item AS src, next_item AS dst
      FROM seq WHERE next_item IS NOT NULL AND next_item != item
    ),
    seed AS (SELECT min(src) AS s FROM edges),
    reach(item, depth) AS (
      SELECT s, 0 FROM seed
      UNION ALL
      SELECT e.dst, r.depth + 1
      FROM reach r JOIN edges e ON e.src = r.item
      WHERE r.depth < 2
    )
    SELECT item, min(depth) AS min_depth, count(*) AS n_paths
    FROM reach GROUP BY item
    """,
)
def q_item_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): items reachable from the
    lowest item id within 2 transition hops, with path multiplicity —
    the bounded transitive-closure shape (org charts, BOM explosions,
    link graphs). Each recursion step is one join against the edge set;
    the depth bound caps the iteration count exactly like the oracle's.
    Same seed/edge derivation as item_pagerank, so the two graph
    queries cross-check each other's edge extraction."""
    from pyspark.sql import Window

    # Pre-materialize the edge set: each recursion step re-evaluates
    # every CTE it references, so leaving the window-over-events edge
    # derivation inside the WITH re-scans the fact table per depth
    # level (measured 5.2 s → 1.5 s at sf0.1 with a checkpointed
    # edge view).
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts_ns",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).filter(F.col("item").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    edges = (
        ev.withColumn("next_item", F.lead("item").over(w))
        .filter(F.col("next_item").isNotNull() & (F.col("item") != F.col("next_item")))
        .select(F.col("item").alias("src"), F.col("next_item").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("item_edges")
    return spark.sql(
        """
        WITH RECURSIVE seed AS (SELECT min(src) AS s FROM item_edges),
        reach(item, depth) AS (
          SELECT s, 0 FROM seed
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN item_edges e ON e.src = r.item
          WHERE r.depth < 2
        )
        SELECT item, min(depth) AS min_depth, count(*) AS n_paths
        FROM reach GROUP BY item
        """
    )


@query(
    "kfold_assign",
    oracle="""
    WITH folded AS (
        SELECT ((user_id * 2654435761 + 40503) % 1000003) % 5 AS fold,
               event_type,
               user_id,
               value
        FROM events
    )
    SELECT fold,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0
                 / count(value), 4) AS avg_value
    FROM folded
    GROUP BY fold, event_type
    """,
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split for cross-validation: fold =
    arithmetic-hash(user_id) mod 5, so assignment is reproducible
    across engines and partitionings (same multiplicative-hash idiom as
    negative sampling — xxhash64 would differ from the oracle). All of
    a user's events land in one fold (grouped CV, no leakage across
    folds). Single hash-agg pass; no shuffle before the agg.
    """
    ev = load_table(spark, sf_dir, "events")
    fold = (
        (F.col("user_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(1000003)
    ) % F.lit(5)
    return (
        ev.select(fold.alias("fold"), "event_type", "user_id", "value")
        .groupBy("fold", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # order-independent exact-cents mean (ADVICE r04: the
            # round(sum,2)/count form relied on accumulated double
            # error staying under half a cent in large groups)
            core.exact_avg("value", 4).alias("avg_value"),
        )
    )


@query(
    "value_histogram",
    oracle="""
    WITH bounds AS (
        SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
        SELECT CAST(least(floor((value - lo) / (hi - lo) * 20), 19)
                    AS BIGINT) AS bin,
               lo, hi
        FROM events, bounds
    )
    SELECT bin,
           count(*) AS n,
           round(any_value(lo) + bin * (any_value(hi) - any_value(lo)) / 20,
                 4) AS bin_lo,
           round(any_value(lo) + (bin + 1)
                 * (any_value(hi) - any_value(lo)) / 20, 4) AS bin_hi
    FROM binned
    GROUP BY bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values: global min/max is a
    one-row aggregate broadcast under the binning projection (the
    two-pass profile every column-profiler runs). Bin arithmetic is
    identical IEEE double math in both engines, so bin edges hash-match
    exactly. One full-scan agg + one hash-agg on the 20 bin keys.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 20),
            F.lit(19),
        )
        .cast("bigint")
        .alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.first("lo") + F.col("bin") * (F.first("hi") - F.first("lo")) / 20, 4
        ).alias("bin_lo"),
        F.round(
            F.first("lo") + (F.col("bin") + 1) * (F.first("hi") - F.first("lo")) / 20,
            4,
        ).alias("bin_hi"),
    )


@query(
    "mode_event_type",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT user_id, event_type, cnt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type ASC) AS rk
        FROM counts
    )
    SELECT user_id, event_type AS mode_event_type, cnt AS n_events
    FROM ranked WHERE rk = 1
    """,
)
def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent event_type per user,
    ties broken lexicographically (Spark's ``mode()`` is
    tie-nondeterministic, so engines can't agree on it — the count +
    min_by-struct form is the portable distributed mode). Hash agg at
    (user, type) grain, then a second agg at user grain via min_by on
    a (-cnt, event_type) ordering struct — no window sort, two
    map-side-combinable exchanges.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # min_by over (-cnt, event_type): highest count wins, ties fall to
    # the lexicographically smallest type — one ordering key serves both
    picked = counts.groupBy("user_id").agg(
        F.min_by(
            F.struct(F.col("event_type"), F.col("cnt")),
            F.struct((-F.col("cnt")).alias("neg"), F.col("event_type")),
        ).alias("m")
    )
    return picked.select(
        "user_id",
        F.col("m.event_type").alias("mode_event_type"),
        F.col("m.cnt").alias("n_events"),
    )


@query(
    "drift_psi",
    oracle="""
    WITH span AS (
        SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi FROM events
    ),
    halves AS (
        SELECT event_type,
               CASE WHEN epoch_ms(ts) < (lo + hi) / 2 THEN 0 ELSE 1 END AS half,
               CAST(least(floor(value / 25.0), 3) AS BIGINT) AS bin
        FROM events, span
    ),
    dist AS (
        SELECT event_type, half, bin, count(*) AS c
        FROM halves GROUP BY event_type, half, bin
    ),
    tot AS (
        SELECT event_type, half, sum(c) AS t FROM dist GROUP BY event_type, half
    ),
    p AS (
        SELECT d.event_type, d.bin,
               max(CASE WHEN d.half = 0 THEN d.c::DOUBLE / t.t END) AS p0,
               max(CASE WHEN d.half = 1 THEN d.c::DOUBLE / t.t END) AS p1
        FROM dist d JOIN tot t ON d.event_type = t.event_type AND d.half = t.half
        GROUP BY d.event_type, d.bin
    )
    SELECT event_type,
           round(sum((coalesce(p1, 0.0001) - coalesce(p0, 0.0001))
                     * ln(coalesce(p1, 0.0001) / coalesce(p0, 0.0001))), 6)
               AS psi
    FROM p
    GROUP BY event_type
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift detection: compare each event
    type's value distribution between the first and second half of the
    time range (fixed 25-unit bins, capped at bin 3; absent bins get
    the standard 1e-4 floor). The monitoring primitive behind
    feature-drift alerts. Two hash aggs on (type, half, bin) grain +
    a tiny pivot at bin grain — the fact table is scanned once; the
    1-row span aggregate broadcasts under the binning projection.
    """
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi"))
    halves = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.when(F.col("ts_ms") < (F.col("lo") + F.col("hi")) / 2, F.lit(0))
        .otherwise(F.lit(1))
        .alias("half"),
        F.least(F.floor(F.col("value") / 25.0), F.lit(3))
        .cast("bigint")
        .alias("bin"),
    )
    dist = halves.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    # per-(type, half) totals as a window over the aggregate — a
    # groupBy+join-back would re-derive dist (and re-scan events) for
    # the second reference; the window keeps the fact scan single-pass
    tw = Window.partitionBy("event_type", "half")
    p = (
        dist.withColumn("t", F.sum("c").over(tw))
        .groupBy("event_type", "bin")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("c") / F.col("t"))).alias("p0"),
            F.max(F.when(F.col("half") == 1, F.col("c") / F.col("t"))).alias("p1"),
        )
    )
    eps = F.lit(0.0001)
    p0 = F.coalesce(F.col("p0"), eps)
    p1 = F.coalesce(F.col("p1"), eps)
    return p.groupBy("event_type").agg(
        F.round(F.sum((p1 - p0) * F.log(p1 / p0)), 6).alias("psi")
    )


@query(
    "item_triangles",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               lead(CAST(json_extract(props, '$.k') AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                   AS nxt
        FROM events
    ),
    und AS (
        SELECT DISTINCT least(item, nxt) AS a, greatest(item, nxt) AS b
        FROM seq WHERE nxt IS NOT NULL AND item <> nxt
    )
    SELECT count(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q_item_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph triangle count over the item-transition graph
    (consecutive events' props.k per user → undirected edges). Engine
    uses the degree-ordered orientation (operators/graph.triangle_count
    — Suri & Vassilvitskii WW'11) so hub fan-out in the path join is
    bounded at power-law scale; the oracle's naive canonical 3-join
    counts the same triangles because each triangle is counted exactly
    once under either edge orientation scheme.
    """
    from post_modern_stack_spark.operators.graph import triangle_count

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    item = F.get_json_object("props", "$.k").cast("bigint")
    seq = ev.select("user_id", item.alias("item"), "ts_ns", "event_id").withColumn(
        "nxt", F.lead("item").over(w)
    )
    edges = seq.filter(
        F.col("nxt").isNotNull() & (F.col("item") != F.col("nxt"))
    ).select(F.col("item").alias("src"), F.col("nxt").alias("dst"))
    return triangle_count(edges)


@query(
    "frequent_items",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, item
    LIMIT 3
    """,
)
def q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via the approx_top_k sketch aggregate (Spark 4) —
    the streaming-friendly frequent-items primitive whose state is a
    bounded sketch, not a full group map. At this column's cardinality
    (5 types << sketch capacity) the sketch is EXACT, so the query
    oracle-checks against plain count ranking; at 100 TB on an
    unbounded key domain the same expression keeps working where the
    exact groupBy's hash map would not. Re-sorted (cnt desc, item) so
    boundary ordering is total."""
    ev = load_table(spark, sf_dir, "events")
    top = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    return (
        top.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item"))
    )


@query(
    "stratified_sample_portable",
    oracle="""
    WITH sampled AS (
        SELECT event_type, user_id, value
        FROM events
        WHERE ((event_id * 2654435761 + 97) % 1000003) % 100 <
              CASE event_type
                  WHEN 'view' THEN 5
                  WHEN 'click' THEN 10
                  WHEN 'purchase' THEN 50
                  ELSE 20
              END
    )
    SELECT event_type,
           count(*) AS n_sampled,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(value), 4)
               AS avg_value
    FROM sampled
    GROUP BY event_type
    """,
)
def q_stratified_sample_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rate sampling with an engine-portable arithmetic
    hash (rate per event_type: views 5%, clicks 10%, purchases 50%,
    rest 20%) — the deterministic twin of the seeded `sampleBy` query
    (whose Bernoulli RNG is engine-private, hence rows-only): identical
    row selection in ANY engine, reproducible across partitionings and
    retries — the property audit pipelines need from a sample. Pure
    filter: no shuffle before the summary agg."""
    ev = load_table(spark, sf_dir, "events")
    h = ((F.col("event_id") * F.lit(2654435761) + F.lit(97)) % F.lit(1000003)) % F.lit(
        100
    )
    rate = (
        F.when(F.col("event_type") == "view", F.lit(5))
        .when(F.col("event_type") == "click", F.lit(10))
        .when(F.col("event_type") == "purchase", F.lit(50))
        .otherwise(F.lit(20))
    )
    return (
        ev.filter(h < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.countDistinct("user_id").alias("n_users"),
            # order-independent exact-cents mean (functions.core.exact_avg)
            core.exact_avg("value", 4).alias("avg_value"),
        )
    )


@query(
    "item_transition_probs",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               lead(CAST(json_extract(props, '$.k') AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                   AS nxt
        FROM events
    ),
    edges AS (
        SELECT item, nxt, count(*) AS c
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY item, nxt
    )
    SELECT item, nxt, c, p FROM (
        SELECT item, nxt, c,
               round(c::DOUBLE / sum(c) OVER (PARTITION BY item), 6) AS p
        FROM edges
    ) WHERE c >= 2
    """,
)
def q_item_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over item views: P(next |
    current) from consecutive events per user — the model behind
    'customers who viewed X then viewed Y' and the input PageRank and
    next-item baselines consume. Row-normalization is a window over
    the EDGE aggregate (item-grain, tiny), so the fact shuffles once
    for the lead() and once collapsed to edge grain."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    item = F.get_json_object("props", "$.k").cast("bigint")
    seq = ev.select("user_id", item.alias("item"), "ts_ns", "event_id").withColumn(
        "nxt", F.lead("item").over(w)
    )
    edges = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("item", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = F.sum("c").over(Window.partitionBy("item"))
    return (
        edges.withColumn("p", F.round(F.col("c") / tot, 6))
        .filter(F.col("c") >= 2)
        .select("item", "nxt", "c", "p")
    )


@query(
    "survival_curve",
    oracle="""
    WITH t0 AS (
        SELECT user_id, min(epoch_ms(ts)) AS t_start
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id, min(epoch_ms(e.ts)) AS t_conv
        FROM events e JOIN t0 ON t0.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > t0.t_start
        GROUP BY e.user_id
    ),
    last_seen AS (
        SELECT user_id, max(epoch_ms(ts)) AS t_last FROM events GROUP BY user_id
    ),
    subjects AS (
        SELECT t0.user_id,
               CASE WHEN conv.t_conv IS NOT NULL
                    THEN (conv.t_conv - t0.t_start) // 3600000
                    ELSE (last_seen.t_last - t0.t_start) // 3600000 END
                   AS dur_h,
               CASE WHEN conv.t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM t0
        LEFT JOIN conv USING (user_id)
        JOIN last_seen USING (user_id)
    ),
    grouped AS (
        SELECT dur_h,
               CAST(sum(ev) AS BIGINT) AS d,
               count(*) AS ended
        FROM subjects GROUP BY dur_h
    ),
    risk AS (
        SELECT dur_h, d,
               CAST(sum(ended) OVER (ORDER BY dur_h DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_risk
        FROM grouped
    )
    SELECT dur_h, d, n_risk,
           CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur_h ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN d < n_risk
                                        THEN ln(1 - d::DOUBLE / n_risk)
                                        ELSE 0 END)
                               OVER (ORDER BY dur_h
                                     ROWS UNBOUNDED PRECEDING)), 6)
           END AS survival
    FROM risk
    WHERE d > 0
    """,
)
def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of time-to-purchase (hours since
    first view), right-censored at each non-converting user's last
    event — the product-limit estimator S(t) = Π(1 - d_i/n_i),
    computed as exp of a running sum of logs (the distributed cumprod
    idiom; identical IEEE ops in both engines). n_at_risk is a reverse
    cumulative over the DURATION grain, so after the subject-grain
    aggregation every window is tiny."""
    ev = load_table(spark, sf_dir, "events")
    t0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t_start"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(t0), "user_id")
        .filter(F.col("ts_ms") > F.col("t_start"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t_conv"))
    )
    last_seen = ev.groupBy("user_id").agg(F.max("ts_ms").alias("t_last"))
    dur = F.when(
        F.col("t_conv").isNotNull(),
        F.floor((F.col("t_conv") - F.col("t_start")) / 3600000),
    ).otherwise(F.floor((F.col("t_last") - F.col("t_start")) / 3600000))
    subjects = (
        t0.join(conv, "user_id", "left")
        .join(last_seen, "user_id")
        .select(
            dur.alias("dur_h"),
            F.col("t_conv").isNotNull().cast("long").alias("ev"),
        )
    )
    grouped = subjects.groupBy("dur_h").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("ended")
    )
    w_desc = Window.orderBy(F.desc("dur_h")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grouped.select(
        "dur_h", "d", F.sum("ended").over(w_desc).alias("n_risk")
    )
    # when an at-risk set fully converts (d == n_risk) the factor is 0
    # and survival is exactly 0 from there on — carried as a flag, not
    # a ln(0)
    w_asc = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    hit_zero = F.max(
        (F.col("d") == F.col("n_risk")).cast("int")
    ).over(w_asc)
    log_sum = F.sum(
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(1 - F.col("d") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(w_asc)
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(log_sum), 6)
    )
    return risk.select(
        "dur_h", "d", "n_risk", surv.alias("survival")
    ).filter(F.col("d") > 0)


@query(
    "ab_test_proportions",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               ((user_id * 2654435761 + 40503) % 1000003) % 2 AS grp,
               max(CASE WHEN event_type = 'purchase' AND value > 90
                        THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT grp,
               count(*) AS n,
               CAST(sum(converted) AS BIGINT) AS conv
        FROM assigned GROUP BY grp
    ),
    wide AS (
        SELECT max(CASE WHEN grp = 0 THEN n END)    AS n_a,
               max(CASE WHEN grp = 0 THEN conv END) AS conv_a,
               max(CASE WHEN grp = 1 THEN n END)    AS n_b,
               max(CASE WHEN grp = 1 THEN conv END) AS conv_b
        FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a::DOUBLE / n_a, 6) AS rate_a,
           round(conv_b::DOUBLE / n_b, 6) AS rate_b,
           CASE WHEN (conv_a + conv_b) = 0 OR (conv_a + conv_b) = (n_a + n_b)
                THEN NULL
                ELSE round((conv_b::DOUBLE / n_b - conv_a::DOUBLE / n_a)
                     / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                            * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_stat
    FROM wide
    """,
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users split by the
    engine-portable hash (grouped assignment — a user is entirely in
    one arm), conversion = any purchase, pooled-variance z statistic —
    the experimentation readout that closes the statistics family
    (chi-square: independence; KS: distribution shift; this: lift).
    One user-grain agg, then arm grain, then a 2-row pivot — nothing
    after the first agg is fact-sized."""
    ev = load_table(spark, sf_dir, "events")
    grp = (
        (F.col("user_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(1000003)
    ) % F.lit(2)
    assigned = (
        ev.select("user_id", grp.alias("grp"), "event_type", "value")
        .groupBy("user_id", "grp")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase") & (F.col("value") > 90)
                ).cast("int")
            ).alias("converted")
        )
    )
    arms = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("conv_b"),
    )
    ra = F.col("conv_a") / F.col("n_a")
    rb = F.col("conv_b") / F.col("n_b")
    tot_conv = F.col("conv_a") + F.col("conv_b")
    tot_n = F.col("n_a") + F.col("n_b")
    pp = tot_conv / tot_n
    # degenerate arms (0% or 100% pooled conversion) have zero pooled
    # variance — NULL, not a divide-by-zero (ANSI) / inf (DuckDB)
    z = F.when(
        (tot_conv == 0) | (tot_conv == tot_n), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (rb - ra)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
            6,
        )
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        z.alias("z_stat"),
    )


@query(
    "rfm_segments",
    oracle="""
    WITH span AS (SELECT max(epoch_ms(ts)) AS t_ref FROM events),
    rfm AS (
        SELECT user_id,
               any_value(t_ref) - max(epoch_ms(ts)) AS recency_ms,
               count(*) AS frequency,
               round(sum(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0 END), 2) AS monetary
        FROM events, span
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               ntile(5) OVER (ORDER BY recency_ms ASC,  user_id) AS r,
               ntile(5) OVER (ORDER BY frequency  DESC, user_id) AS f,
               ntile(5) OVER (ORDER BY monetary   DESC, user_id) AS m
        FROM rfm
    )
    SELECT r, f, m,
           count(*) AS n_users,
           CASE WHEN r <= 2 AND f <= 2 AND m <= 2 THEN 'champion'
                WHEN r >= 4 AND f <= 2            THEN 'at_risk_loyal'
                WHEN r >= 4                       THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    GROUP BY r, f, m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles +
    named segments) — the classic CRM cut. One user-grain hash agg
    (the reference timestamp is a 1-row broadcast), then three ntile
    windows over the USER-grain table with user_id tie-breaks so
    quintile boundaries are engine-deterministic; the output is
    cell-grain (125 rows max) regardless of user count."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.max("ts_ms").alias("t_ref"))
    rfm = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            (F.first("t_ref") - F.max("ts_ms")).alias("recency_ms"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(F.lit(0.0))
                ),
                2,
            ).alias("monetary"),
        )
    )
    scored = rfm.select(
        "user_id",
        F.ntile(5).over(Window.orderBy(F.asc("recency_ms"), F.asc("user_id"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m"),
    )
    segment = (
        F.when((F.col("r") <= 2) & (F.col("f") <= 2) & (F.col("m") <= 2), "champion")
        .when((F.col("r") >= 4) & (F.col("f") <= 2), "at_risk_loyal")
        .when(F.col("r") >= 4, "hibernating")
        .otherwise("regular")
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select("r", "f", "m", "n_users", segment.alias("segment"))


@query(
    "funnel_with_timeout",
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_ms(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND epoch_ms(e.ts) > v.t1
          AND epoch_ms(e.ts) <= v.t1 + 21600000
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_ms(e.ts)) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_ms(e.ts) > c.t2
          AND epoch_ms(e.ts) <= c.t2 + 21600000
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_6h,
           (SELECT count(*) FROM p) AS n_purchased_6h
    FROM (SELECT 1)
    """,
)
def q_funnel_with_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with per-step conversion windows (click within
    6 h of first view, purchase within 6 h of that click) — the form
    product analytics actually reports, where an eventual conversion
    outside the window doesn't count. Same user-grain partial-agg +
    broadcast chain as `funnel_conversion`; the time bound rides the
    stage join predicate, so no extra pass."""
    ev = load_table(spark, sf_dir, "events")
    window_ms = 6 * 3600 * 1000
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t1"))
        .localCheckpoint()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(
            (F.col("ts_ms") > F.col("t1"))
            & (F.col("ts_ms") <= F.col("t1") + window_ms)
        )
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t2"))
        .localCheckpoint()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(
            (F.col("ts_ms") > F.col("t2"))
            & (F.col("ts_ms") <= F.col("t2") + window_ms)
        )
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_6h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_6h")))
    )


@query(
    "top_event_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    ),
    paths AS (
        SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
               count(*) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path
    LIMIT 15
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the most frequent 3-step event-type
    sequences across all users (the product-analytics 'top paths'
    report). Two lead() offsets share one user-ordered window pass;
    paths aggregate map-side (bounded domain: |types|^3), so nothing
    after the window is fact-sized. Deterministic (n desc, path)
    top-15."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(15)
    )


@query(
    "key_skew_report",
    oracle="""
    WITH per_key AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_rows,
           round(avg(n), 4) AS avg_rows,
           CAST(round(quantile_cont(n, 0.99)) AS BIGINT) AS p99_rows,
           round(max(n) / avg(n), 4) AS skew_factor,
           CAST(sum(CASE WHEN n > 2 * (SELECT avg(n) FROM per_key)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
    FROM per_key
    """,
)
def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for the events→user_id partitioning
    — the report that decides whether a join/agg needs the salting
    remedy (operators/skew): max/avg/p99 per-key row counts, the
    max-to-mean skew factor, and the hot-key count (> 2x mean). One
    key-grain agg then one 1-row summary; the 2x-mean threshold is a
    broadcast scalar, not a second scan of the fact. The interpolated
    p99 is rounded before its cast on both sides: Spark's cast
    truncates (86.56 → 86) where DuckDB's rounds (87)."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    mean = per_key.agg(F.avg("n").alias("mean_n"))
    return (
        per_key.crossJoin(F.broadcast(mean))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_rows"),
            F.round(F.avg("n"), 4).alias("avg_rows"),
            F.round(F.percentile("n", F.lit(0.99))).cast("bigint").alias("p99_rows"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_factor"),
            F.sum(
                (F.col("n") > 2 * F.col("mean_n")).cast("bigint")
            ).alias("n_hot_keys"),
        )
    )


@query(
    "user_purge_audit",
    oracle="""
    WITH requests AS (
        SELECT user_id FROM events
        WHERE event_type = 'error'
        GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT (SELECT count(*) FROM requests) AS n_requests,
           CAST(sum(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_events_purged,
           CAST(sum(CASE WHEN r.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_events_remaining
    FROM events e LEFT JOIN requests r ON e.user_id = r.user_id
    """,
)
def q_user_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten blast-radius audit: given a deletion
    request set (proxy: users with ≥3 error events), how many fact
    rows would purge vs remain — the dry-run every GDPR deletion
    pipeline reports before the anti-join rewrite executes. The
    request set is key-grain and broadcasts; the fact is scanned
    once."""
    ev = load_table(spark, sf_dir, "events")
    requests = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
        .select("user_id", F.lit(1).alias("req"))
    )
    joined = ev.join(F.broadcast(requests), "user_id", "left")
    n_requests = requests.agg(F.count(F.lit(1)).alias("n"))
    return (
        joined.agg(
            F.sum(F.col("req").isNotNull().cast("bigint")).alias("n_events_purged"),
            F.sum(F.col("req").isNull().cast("bigint")).alias(
                "n_events_remaining"
            ),
        )
        .crossJoin(F.broadcast(n_requests))
        .select(
            F.col("n").alias("n_requests"),
            "n_events_purged",
            "n_events_remaining",
        )
    )


@query(
    "sequence_gap_check",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
                AS BIGINT) AS n_missing,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
               AS n_duplicates,
           CAST(min(event_id) AS BIGINT) AS first_id,
           CAST(max(event_id) AS BIGINT) AS last_id
    FROM events
    """,
)
def q_sequence_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-completeness check over a supposedly-contiguous id
    sequence: missing ids (span minus distinct) and duplicate ids in
    one aggregation pass — the dropped/replayed-message detector every
    log-ingest pipeline runs after a load."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.max("event_id") - F.min("event_id") + 1 - F.countDistinct("event_id")
        ).alias("n_missing"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("n_duplicates"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


@query(
    "value_gini",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id, sum(value) AS v
        FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v, user_id) AS i,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(v) OVER (PARTITION BY event_type) AS tot
        FROM per_user
    )
    SELECT event_type,
           CAST(any_value(n) AS BIGINT) AS n_users,
           round((2.0 * sum(i * v)) / (any_value(n) * any_value(tot))
                 - (any_value(n) + 1.0) / any_value(n), 6) AS gini
    FROM ranked
    GROUP BY event_type
    """,
)
def q_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration within each
    event type (0 = evenly spread, →1 = one whale) — the inequality
    metric behind revenue-concentration risk and the
    how-skewed-is-this-key diagnostic in economic form. Rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over values sorted ascending with
    a user_id tie-break, so both engines rank identically; everything
    past the user-grain agg is user-count-sized."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("v")
    )
    wtype = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v", "user_id"))
        .alias("i"),
        F.count(F.lit(1)).over(wtype).alias("n"),
        F.sum("v").over(wtype).alias("tot"),
    )
    return ranked.groupBy("event_type").agg(
        F.first("n").alias("n_users"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("v")))
            / (F.first("n") * F.first("tot"))
            - (F.first("n") + 1.0) / F.first("n"),
            6,
        ).alias("gini"),
    )


@query(
    "new_vs_returning",
    oracle="""
    WITH first_day AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
        GROUP BY user_id
    )
    SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN CAST(e.ts AS DATE) = f.d0 THEN 1 ELSE 0 END)
                AS BIGINT) AS new_events,
           CAST(sum(CASE WHEN CAST(e.ts AS DATE) > f.d0 THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_events,
           count(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.d0
                               THEN e.user_id END) AS new_users
    FROM events e JOIN first_day f ON e.user_id = f.user_id
    GROUP BY CAST(e.ts AS DATE)
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily split (the growth-accounting daily
    report): each event classified by whether its day is the user's
    first-ever day. The first-day table is user-grain and broadcasts;
    one fact scan, one daily agg."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    joined = ev.join(F.broadcast(first_day), "user_id").select(
        F.to_date("ts").alias("d"), "d0", "user_id"
    )
    return (
        joined.groupBy("d")
        .agg(
            F.sum((F.col("d") == F.col("d0")).cast("bigint")).alias("new_events"),
            F.sum((F.col("d") > F.col("d0")).cast("bigint")).alias(
                "returning_events"
            ),
            F.countDistinct(
                F.when(F.col("d") == F.col("d0"), F.col("user_id"))
            ).alias("new_users"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "new_events",
            "returning_events",
            "new_users",
        )
    )


@query(
    "cuped_adjusted_lift",
    oracle="""
    WITH rng AS (
      SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi FROM events
    ),
    per_user AS (
      SELECT user_id,
             sum(CASE WHEN epoch_ms(ts) < lo + (hi - lo) // 2
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS pre_c,
             sum(CASE WHEN epoch_ms(ts) >= lo + (hi - lo) // 2
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS post_c
      FROM events, rng
      GROUP BY user_id
    ),
    st AS (
      SELECT covar_pop(pre_c, post_c) / var_pop(pre_c) AS theta,
             avg(pre_c) AS mu
      FROM per_user
    ),
    adj AS (
      SELECT user_id % 2 AS arm, post_c,
             post_c - theta * (pre_c - mu) AS adjusted_c
      FROM per_user, st
    )
    SELECT arm,
           count(*)::BIGINT AS n_users,
           round(sum(post_c) / 100.0 / count(*), 4) AS mean_post,
           round(avg(adjusted_c) / 100.0, 4) AS mean_adjusted,
           round(var_pop(post_c) / 10000.0, 2) AS var_post,
           round(var_pop(adjusted_c) / 10000.0, 2) AS var_adjusted
    FROM adj GROUP BY arm
    """,
)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CUPED variance-reduced A/B readout: pre-period value per
    user is the covariate, theta = cov(pre,post)/var(pre) pooled, the
    adjusted metric's variance drop is the whole point of the method.
    Engine shape: one user-grain agg over the fact (the only big
    shuffle), then 1-row stats broadcast back — the experiment readout
    never re-scans events. Arms are user_id parity (deterministic
    stand-in for the assignment table)."""
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
    )
    mid = F.col("lo") + F.floor((F.col("hi") - F.col("lo")) / 2)
    # per-user sums on exact integer cents (functions.core.cents):
    # pre_c/post_c are then order-independent, so mean_post below is a
    # deterministic quotient, not a merge-order-noisy double average
    per_user = (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts_ms") < mid, core.cents("value")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("pre_c"),
            F.sum(
                F.when(F.col("ts_ms") >= mid, core.cents("value")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("post_c"),
        )
    )
    st = per_user.agg(
        (F.covar_pop("pre_c", "post_c") / F.var_pop("pre_c")).alias("theta"),
        F.avg("pre_c").alias("mu"),
    )
    adj = per_user.crossJoin(F.broadcast(st)).select(
        (F.col("user_id") % 2).alias("arm"),
        "post_c",
        (F.col("post_c") - F.col("theta") * (F.col("pre_c") - F.col("mu"))).alias(
            "adjusted_c"
        ),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("post_c") / 100.0 / F.count(F.lit(1)), 4).alias("mean_post"),
        F.round(F.avg("adjusted_c") / 100.0, 4).alias("mean_adjusted"),
        F.round(F.var_pop("post_c") / 10000.0, 2).alias("var_post"),
        F.round(F.var_pop("adjusted_c") / 10000.0, 2).alias("var_adjusted"),
    )


@query(
    "revenue_mom_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 4) AS mom_pct
    FROM m
    """,
)
def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: the reporting staple — month-grain agg
    (tiny), then lag over the month series. The ordered window runs on
    the AGGREGATED series (dozens of rows), never the fact table; the
    fact pass is one hash agg."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("mom_pct"),
    )


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
    ),
    mad AS (
      SELECT event_type, any_value(med) AS med, median(adev) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(any_value(d.med), 4) AS med,
           round(any_value(m.mad), 4) AS mad,
           count(*)::BIGINT AS n,
           sum((d.adev > 3 * 1.4826 * m.mad)::INT)::BIGINT AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median/MAD with the
    1.4826 normal-consistency factor — the robust alternative to the
    z-score family (rolling_zscore), immune to the outliers it hunts.
    Two median aggs at type grain (exact medians — Spark 4 `median`);
    the per-row pass joins the tiny type-grain tables broadcast."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med2"), F.median("adev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("med"), 4).alias("med"),
            F.round(F.any_value("mad"), 4).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("int")
            ).cast("long").alias("n_outliers"),
        )
    )


@query(
    "benford_check",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM events
      WHERE value IS NOT NULL AND value >= 1
    ),
    obs AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM obs),
    exp_t AS (
      SELECT r.d AS digit, ln(1.0 + 1.0 / r.d) / ln(10.0) AS p_benford
      FROM range(1, 10) r(d)
    )
    SELECT e.digit,
           coalesce(o.n, 0)::BIGINT AS n,
           round(coalesce(o.n, 0)::DOUBLE / t.total, 6) AS p_obs,
           round(e.p_benford, 6) AS p_benford,
           round(t.total * e.p_benford, 4) AS n_expected,
           round(pow(coalesce(o.n, 0) - t.total * e.p_benford, 2)
                 / (t.total * e.p_benford), 4) AS chi2_term
    FROM exp_t e LEFT JOIN obs o USING (digit), t
    """,
)
def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit on event values: observed vs expected
    leading-digit shares + per-digit chi-square terms — the classic
    fraud/integrity screen for financial facts. One scan collapses to
    a 9-row digit table; expectations are a generated literal frame
    broadcast against it."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 1)
    )
    obs = (
        ev.select(
            F.substring(
                F.floor("value").cast("long").cast("string"), 1, 1
            ).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = obs.agg(F.sum("n").alias("total"))
    exp_t = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        (F.log(1.0 + 1.0 / F.col("id")) / F.log(F.lit(10.0))).alias("p_benford"),
    )
    return (
        exp_t.join(obs, "digit", "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("p_obs"),
            F.round("p_benford", 6).alias("p_benford"),
            F.round(F.col("total") * F.col("p_benford"), 4).alias("n_expected"),
            F.round(
                F.pow(F.col("n") - F.col("total") * F.col("p_benford"), 2)
                / (F.col("total") * F.col("p_benford")),
                4,
            ).alias("chi2_term"),
        )
    )


@query(
    "dq_quarantine",
    oracle="""
    WITH checked AS (
      SELECT event_id, event_type, value,
             list_filter([
               CASE WHEN NOT coalesce(value IS NOT NULL, FALSE)
                    THEN 'value_not_null' END,
               CASE WHEN NOT coalesce(value >= 0, FALSE)
                    THEN 'value_non_negative' END,
               CASE WHEN NOT coalesce(event_type IN
                      ('view','click','purchase','signup'), FALSE)
                    THEN 'known_event_type' END
             ], x -> x IS NOT NULL) AS violations
      FROM events
    )
    SELECT event_id, event_type, value,
           array_to_string(violations, ',') AS violations
    FROM checked WHERE len(violations) > 0
    """,
)
def q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract quarantine (expectations.validate_and_split):
    rows violating any row-local rule, with the violated rule names —
    the route-aside half of ingest validation. One shuffle-free
    projection; rule order is the declaration order so the violation
    list is deterministic."""
    from post_modern_stack_spark.operators.expectations import validate_and_split

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    _, quarantine = validate_and_split(
        ev,
        {
            "value_not_null": F.col("value").isNotNull(),
            "value_non_negative": F.col("value") >= 0,
            "known_event_type": F.col("event_type").isin(
                "view", "click", "purchase", "signup"
            ),
        },
    )
    return quarantine.select(
        "event_id",
        "event_type",
        "value",
        F.concat_ws(",", "violations").alias("violations"),
    )


@query(
    "type_share_map",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id,
           string_agg(c.event_type || ':' ||
                      CAST(round(c.n::DOUBLE / t.tot, 4) AS VARCHAR),
                      ',' ORDER BY c.event_type) AS shares
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id
    """,
)
def q_type_share_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type share profile built with MAP higher-order
    functions (map_from_entries → transform_values normalize →
    sorted-entry serialization) — the map-column surface the other
    queries don't touch. Emitted as a sorted 'type:share' string so
    the oracle (which has no map type worth fighting) hash-matches;
    shares round to 4dp on both sides. One (user,type) agg + one
    user-grain map assembly."""
    from post_modern_stack_spark.functions import ordered_collect

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            ordered_collect(
                F.struct(F.col("event_type").alias("k"), F.col("n").alias("v")),
                "event_type",
            )
        ).alias("counts")
    )
    tot = F.aggregate(
        F.map_values("counts"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    shares = F.transform_values(
        "counts", lambda k, v: F.round(v / tot, 4)
    )
    return m.select(
        "user_id",
        F.concat_ws(
            ",",
            F.transform(
                F.map_entries(shares),
                lambda e: F.concat(
                    e.getField("key"), F.lit(":"), e.getField("value").cast("string")
                ),
            ),
        ).alias("shares"),
    )


@query(
    "bounce_rate_daily",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_user_days,
           sum((n_events = 1)::INT)::BIGINT AS n_bounces,
           round(sum((n_events = 1)::INT)::DOUBLE / count(*), 6)
             AS bounce_rate
    FROM s GROUP BY day
    """,
)
def q_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of (user, day) visits with exactly one
    event — the engagement-floor metric. Two stacked aggs on the same
    (user, day) key; the second reuses the first's exchange."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return s.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.sum((F.col("n_events") == 1).cast("int")).cast("long").alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("int")) / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_user_days",
        "n_bounces",
        "bounce_rate",
    )


@query(
    "ltv_cohort_matrix",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(strftime(CAST(ts AS DATE), '%Y-%m')) AS cohort
      FROM events GROUP BY user_id
    ),
    vals AS (
      SELECT e.user_id, f.cohort,
             strftime(CAST(e.ts AS DATE), '%Y-%m') AS month,
             e.value
      FROM events e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    )
    SELECT cohort, month,
           count(DISTINCT user_id)::BIGINT AS n_buyers,
           round(sum(value), 2) AS revenue
    FROM vals GROUP BY cohort, month
    """,
)
def q_ltv_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV cohort matrix: purchase revenue by (first-seen month,
    activity month) — the lifetime-value companion to user-count
    retention (cohort_retention). The first-seen table is user-grain
    (tiny vs the fact) and broadcasts; one fact scan."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM")).alias("cohort")
    )
    vals = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(F.broadcast(firsts), "user_id")
        .select(
            "user_id", "cohort", F.date_format("ts", "yyyy-MM").alias("month"), "value"
        )
    )
    return vals.groupBy("cohort", "month").agg(
        F.countDistinct("user_id").cast("long").alias("n_buyers"),
        F.round(F.sum("value"), 2).alias("revenue"),
    )


@query(
    "hourly_activity_profile",
    oracle="""
    SELECT extract(hour FROM ts)::INT AS hour, event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_hourly_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity heatmap input per event type (UTC-pinned
    sessions make extract(hour) engine-identical; day-of-week is the
    numbering quirk — weekly_seasonality handles that one). Single
    hash agg on a 24×5 key domain — map-side combine collapses
    everything. Emits SUM not AVG: the synthetic 2dp values make
    group averages land exactly on rounding boundaries, where
    engine/run summation-order noise flips the rounded digit (caught
    live at 54.77875 → 4dp coin-flip); sums at the data's own
    precision have 0.005 of margin."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.hour("ts").cast("int").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "wau_mau_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day,
             strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    ),
    mau AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             count(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT m.month, m.mau::BIGINT AS mau,
           round(avg(d.dau), 2) AS avg_dau,
           round(avg(d.dau) / m.mau, 6) AS stickiness
    FROM mau m JOIN dau d USING (month)
    GROUP BY m.month, m.mau
    """,
)
def q_wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement-ratio staple.
    Two distinct-count aggs (day and month grain; both two-phase
    map-side-partial distincts) + a broadcast join of the tiny month
    table. avg(dau) rounds at 2dp — dau is integer so the average's
    boundary margin is 1/n, safe (NOTES avg-rounding rule)."""
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month", "mau")
        .agg(
            F.round(F.avg("dau"), 2).alias("avg_dau"),
            F.round(F.avg("dau") / F.first("mau"), 6).alias("stickiness"),
        )
        .select("month", F.col("mau").cast("long").alias("mau"), "avg_dau", "stickiness")
    )


@query(
    "basket_size_distribution",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, count(*) AS basket_size
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT basket_size::BIGINT AS basket_size,
           count(*)::BIGINT AS n_orders,
           round(count(*)::DOUBLE / (SELECT count(*) FROM b), 6) AS share
    FROM b GROUP BY basket_size
    """,
)
def q_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order basket-size distribution: lines per order → order counts
    per size + share. Two stacked aggs (order grain, then the tiny
    size domain) + a 1-row total broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("basket_size"))
    tot = b.agg(F.count(F.lit(1)).alias("total"))
    return (
        b.groupBy("basket_size")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("basket_size").cast("long").alias("basket_size"),
            "n_orders",
            F.round(F.col("n_orders") / F.col("total"), 6).alias("share"),
        )
    )


@query(
    "sql_param_extract",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value >= 100.0
    """,
)
def q_sql_param_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 as Spark 4 NAMED-PARAMETER SQL in the catalog proper: the
    reference binds tenant filters with pyformat params
    (my_dbt_flow.py:240,248-252); this is the engine-side spelling —
    `spark.sql(query, args=...)` with `:name` markers, no string
    interpolation, plan identical to the literal form (predicate
    pushed to the scan). minv=100.0 is satisfiable at every test SF
    (purchase values span ~0-480), so a hash match proves the binding
    actually filters rows — not merely that the query compiles."""
    from post_modern_stack_spark.registry import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        "SELECT event_id, user_id, value FROM events "
        "WHERE event_type = :etype AND value >= :minv",
        args={"etype": "purchase", "minv": 100.0},
    )
