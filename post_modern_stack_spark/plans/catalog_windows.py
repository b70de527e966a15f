"""Window-function family queries over ``events`` (SURVEY.md §2 A9
widened): sliding ROWS frames, time-based RANGE frames, lead/lag,
ntile, percent_rank/cume_dist.

The reference's pandas-side idioms (rolling means, shift-based gaps,
quantile bucketing of users — e.g. the session-stats notebook math) are
all window specializations; on Spark they run as single window passes
that reuse one hash-partitioning per key, so each query below is
one shuffle regardless of data size.

Determinism: every ORDER BY carries a total tie-break (ts_ns/event_id
engine-side, ts/event_id oracle-side) so frames are identical even with
equal timestamps; window outputs are rounded before compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.functions.core import cents
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table


@query(
    "moving_avg_value",
    oracle="""
    SELECT event_id,
           user_id,
           round(sum(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 / 100.0
                 / count(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 4) AS mov_avg
    FROM events
    """,
)
def q_moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS-frame aggregate: per-user 3-event moving average
    (the pandas ``groupby().rolling(3).mean()`` idiom distributed).

    One shuffle on user_id; the frame is evaluated streaming within
    each sorted partition — no per-row re-scan.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    # frame sum on exact integer cents: sliding-frame float sums are
    # incremental (add/subtract) in Spark but segment-tree-merged in
    # other engines, so a double avg can differ in the last bit right
    # at a rounding boundary; integer frame sums are order-exempt
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(cents("value")).over(w) / 100.0 / F.count("value").over(w), 4
        ).alias("mov_avg"),
    )


@query(
    "hourly_range_sum",
    oracle="""
    SELECT event_id,
           user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts)
                                  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW),
                 4) AS hour_sum
    FROM events
    """,
)
def q_hourly_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per user, the rolling sum of ``value``
    over the trailing hour (event-time, not row-count) — the
    hypertable/time-series rolling-window primitive.

    RANGE frames need a numeric ordering key: epoch-ms (``ts_ms``)
    makes the 1-hour bound an integer offset on both engines. Peers
    (equal timestamps) are included symmetrically by RANGE semantics,
    so no tie-break is needed for correctness.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-3_600_000, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("hour_sum")
    )


@query(
    "event_neighbors",
    oracle="""
    SELECT event_id,
           user_id,
           coalesce(epoch_ms(ts) - lag(epoch_ms(ts)) OVER w, -1) AS prev_gap_ms,
           coalesce(lead(event_type) OVER w, 'none')             AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_event_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag neighbors: per-event gap to the previous event and the
    next event's type (the pandas ``shift()`` idiom; sentinel-coalesced
    so edges compare deterministically).

    Both offsets share ONE window spec → a single sort within the
    user_id partitioning, two frame readers.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.col("ts_ms") - F.lag("ts_ms").over(w), F.lit(-1).cast("long")
        ).alias("prev_gap_ms"),
        F.coalesce(F.lead("event_type").over(w), F.lit("none")).alias("next_type"),
    )


@query(
    "user_value_quartiles",
    oracle="""
    WITH totals AS (
      SELECT user_id, round(sum(value), 2) AS total_value
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           total_value,
           ntile(4) OVER (ORDER BY total_value DESC, user_id) AS quartile
    FROM totals
    """,
)
def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: users split into spend quartiles (the
    reference-era "user tiers" analysis; pandas ``qcut`` analog).

    The global ntile window is the one legitimately unpartitioned
    window here — it runs over the user-grain AGGREGATE (|users| rows,
    not |events|), which is the scale-safe place to put a global sort.
    Totals round to 2dp before ranking so engine and oracle order
    identically; user_id breaks remaining ties.
    """
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total_value"))
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    return totals.select(
        "user_id", "total_value", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "user_value_dist",
    oracle="""
    WITH totals AS (
      SELECT user_id, round(sum(value), 2) AS total_value
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           total_value,
           round(percent_rank() OVER (ORDER BY total_value, user_id), 6) AS pct_rank,
           round(cume_dist()    OVER (ORDER BY total_value, user_id), 6) AS cume
    FROM totals
    """,
)
def q_user_value_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks: percent_rank + cume_dist of each user's
    total spend (the ECDF / percentile-of-user idiom).

    Like ntile, the global window runs post-aggregate at user grain.
    The user_id tie-break makes every rank value unique → identical
    across engines even for tied totals.
    """
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total_value"))
    w = Window.orderBy("total_value", "user_id")
    return totals.select(
        "user_id",
        "total_value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "locf_last_purchase",
    oracle="""
    SELECT event_id,
           user_id,
           coalesce(
             round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                              IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   4),
             -1.0) AS last_purchase_value
    FROM events
    """,
)
def q_locf_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last observation carried forward): every event stamped
    with the user's most recent purchase value — the time-series
    fill-forward / gap-fill primitive (and the window-function twin of
    the as-of join in catalog_temporal).

    ``last(..., ignorenulls=True)`` over a running frame is the
    Spark-native LOCF: one shuffle on user_id, streaming frame
    evaluation, no self-join. Sentinel −1 marks "no purchase yet" so
    edges compare deterministically.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.round(F.last(purchase_val, ignorenulls=True).over(w), 4),
            F.lit(-1.0),
        ).alias("last_purchase_value"),
    )


@query(
    "daily_spine_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value), 2) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.user_id,
           strftime(s.day, '%Y-%m-%d')       AS day,
           coalesce(d.day_value, 0.0)        AS day_value,
           CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END AS gap_filled
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    """,
)
def q_daily_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily spine with zero-fill: every user × every calendar
    day between their first and last event, missing days filled with
    0 — the gap-filling primitive behind continuous time-series charts
    and training-data densification.

    Spark-first: the spine is ``explode(sequence(min_day, max_day))``
    over the per-user bounds aggregate — generated at USER grain (tiny)
    then left-joined to the daily rollup; the raw fact table is scanned
    twice but aggregated both times before any join, and the spine join
    keys on (user_id, day) so AQE picks broadcast vs shuffle by the
    spine's actual size.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("day_value"),
        F.lit(1).alias("__hit"),  # join-miss marker: matches the
        # oracle's `d.user_id IS NULL`, not day_value's nullness (a day
        # whose values were all NULL is a real day, not a gap)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.when(F.col("__hit").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("gap_filled"),
        )
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(value ORDER BY epoch_ns(ts), event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(CAST(list_reduce(vals,
                 (acc, x) -> 0.7 * acc + 0.3 * x) AS DOUBLE), 6) AS ewma_value
    FROM ordered
    """,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (exponentially weighted moving average) per user — the
    recursive s_t = 0.7*s_{t-1} + 0.3*x_t cannot be a window frame
    aggregate (nonlinear in position), so it folds the time-ordered
    value array: one shuffle to build the per-user ordered array
    (operators/functions.ordered_collect contract), one JVM-side
    aggregate() fold, seeded with the first element exactly like
    DuckDB's list_reduce. Skew note: a mega-user's fold is O(history)
    in one task — at 100 TB, cap history or chunk with
    operators/skew.chunked_running_sum-style prefix decomposition."""
    from post_modern_stack_spark.functions import ordered_collect

    ev = load_table(spark, sf_dir, "events")
    ordered = ev.groupBy("user_id").agg(
        ordered_collect("value", "ts_ns", "event_id").alias("vals")
    )
    fold = F.aggregate(
        F.slice("vals", 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at("vals", 1).cast("double"),
        lambda acc, x: 0.7 * acc + 0.3 * x,
    )
    return ordered.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(fold, 6).alias("ewma_value"),
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.90), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    == DuckDB ``quantile_cont``, both linear interpolation) — the
    data-quality profiling primitive behind outlier gates.

    Exact percentile is a sort-based agg (per-group sort of values);
    it shuffles once on the group key. At fact scale the same query
    swaps to ``percentile_approx`` (KLL-sketch-like, mergeable,
    bounded memory) — registered separately under approx_sketches so
    both cost profiles stay available.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@query(
    "hourly_active_users",
    oracle="""
    SELECT event_id,
           event_type,
           count(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY epoch_ms(ts)
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
           ) AS active_users
    FROM events
    """,
)
def q_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding distinct-count: per event, how many distinct users
    acted on that event_type in the trailing hour — the real-time
    "active users" gauge as a windowed dataflow.

    Spark has no DISTINCT aggregate over windows, so the distinct is
    expressed as ``size(collect_set(...))`` over the same RANGE frame
    — semantically identical, evaluated per-frame within one shuffle
    on event_type. COST MODEL (measured: BASELINE.md "Scale-ladder
    probe", round 4, ``sliding_distinct_users``):
    collect_set is non-invertible, so the frame recomputes per row —
    O(n × frame_rows). Fine while event density keeps frames small
    (here: sf0.1 frames are tens of rows); on a timeline dense enough
    that an hour holds millions of events this goes quadratic — the
    probe pins ~100-row frames for the linear regime, and the 100 TB
    path for unbounded density is the mergeable HLL rollup
    (daily_sketch_rollup), not a bigger window.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_ms")
        .rangeBetween(-3600000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).cast("long").alias("active_users"),
    )


@query(
    "deterministic_group_sample",
    oracle="""
    SELECT event_type, event_id, smp_rank
    FROM (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS smp_rank
        FROM events
    )
    WHERE smp_rank <= 5
    """,
)
def q_deterministic_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bottom-k sampling: per group, keep the k rows with
    the smallest deterministic hash — the mergeable, rerun-stable
    reservoir-sample replacement (identical sample on every engine and
    every rerun, unlike rand()).

    Bottom-k by hash is associative: partial top-k per partition then
    merge, which is exactly what Spark's WindowGroupLimit pushdown
    does with the rank-filter pattern — no full per-group sort
    materializes. md5-of-id is the portable hash both engines share.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select("event_type", "event_id")
        .withColumn("smp_rank", F.row_number().over(w))
        .filter(F.col("smp_rank") <= 5)
    )


@query(
    "rolling_zscore_anomalies",
    oracle="""
    WITH scored AS (
        SELECT event_id,
               user_id,
               value,
               count(*) OVER w                                AS n_frame,
               sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s1,
               sum(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) OVER w AS s2,
               CAST(round(value * 100) AS BIGINT)             AS c0
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    exact AS (
        SELECT event_id, user_id, value,
               7 * c0 - s1       AS d,
               7 * s2 - s1 * s1  AS m,
               s1
        FROM scored WHERE n_frame = 7
    )
    SELECT event_id,
           user_id,
           value,
           round((value - s1 / 700.0) / sqrt(m / 420000.0), 4) AS zscore
    FROM exact
    WHERE m > 0 AND 3 * d * d > 14 * m
    """,
)
def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection: per-user rolling 7-event
    mean/stddev, flag |z| > 2 — the monitoring primitive behind
    metric-outlier alerts, expressed as one ROWS frame.

    Two determinism traps fixed here (NOTES_r7 window-frame class,
    plus the sql_param_extract vacuous-green class):

    * threshold 2.5 selected 0 rows at sf0.01 (max |z| ≈ 2.4 on full
      frames), so a driver hash-match would have proven nothing; 2.0
      flags ~300 events at sf0.01.
    * float mu/sd from sliding frames differ between Spark's
      incremental frame evaluation and DuckDB's segment trees, and a
      near-threshold |z| could flip ROW MEMBERSHIP between engines.
      Both sides therefore reduce the frame to exact integer cents
      sums (s1, s2 — int64-exact: 7·(1e5)² ≪ 2^63) and decide
      membership with the EXACT integer predicate
      |z| > 2  ⟺  z² = 6·D²/(7·M) > 4  ⟺  3·D² > 14·M,
      where D = 7·c0 − s1 and M = 7·s2 − s1² (42·10⁴·var). The
      reported zscore is then one identical double expression of
      (value, s1, M) on both engines.

    One shuffle on user_id; the three frame aggregates share one
    sorted frame. Only full frames (n=7) score, so the first 6 events
    per user never alert on noise.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    c0 = cents("value")
    scored = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_frame"),
        F.sum(c0).over(w).alias("s1"),
        F.sum(c0 * c0).over(w).alias("s2"),
        c0.alias("c0"),
    ).filter(F.col("n_frame") == 7)
    exact = scored.select(
        "event_id",
        "user_id",
        "value",
        (7 * F.col("c0") - F.col("s1")).alias("d"),
        (7 * F.col("s2") - F.col("s1") * F.col("s1")).alias("m"),
        "s1",
    )
    z = (F.col("value") - F.col("s1") / 700.0) / F.sqrt(F.col("m") / 420000.0)
    return exact.filter(
        (F.col("m") > 0) & (3 * F.col("d") * F.col("d") > 14 * F.col("m"))
    ).select("event_id", "user_id", "value", F.round(z, 4).alias("zscore"))


@query(
    "winsorized_values",
    oracle="""
    WITH th AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           round(sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0 / count(*), 4)
               AS avg_raw,
           round(avg(least(greatest(e.value, th.p05), th.p99)), 4)
               AS avg_winsorized,
           round(any_value(th.p05), 4) AS p05,
           round(any_value(th.p99), 4) AS p99
    FROM events e JOIN th USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust feature prep: clip values to per-type exact
    [p05, p99] (winsorization), report mean shift. The threshold table
    is a tiny per-type aggregate — broadcast, so the clipping join adds
    no exchange; the final agg reuses the event_type key.
    """
    ev = load_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p99"))
    return (
        ev.join(F.broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # avg_raw over exact cents (order-independent); the
            # winsorized mean keeps a plain double avg — its terms mix
            # 2dp values with interpolated percentiles, so the true
            # mean has an arbitrary mantissa and cannot sit exactly on
            # a 4dp rounding boundary
            F.round(F.sum(cents("value")) / 100.0 / F.count(F.lit(1)), 4).alias(
                "avg_raw"
            ),
            F.round(F.avg(clipped), 4).alias("avg_winsorized"),
            F.round(F.first("p05"), 4).alias("p05"),
            F.round(F.first("p99"), 4).alias("p99"),
        )
    )


@query(
    "rolling_median",
    oracle="""
    SELECT event_id,
           user_id,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS med7
    FROM events
    QUALIFY count(*) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) = 7
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-event median per user — Spark has no ORDER-BY-frame
    median, so the frame's values ride a collect_list over the ROWS
    frame and the middle element of the sorted array IS the exact
    median (odd frame; full frames only, so no interpolation branch).
    DuckDB states the same thing natively as windowed median(). One
    shuffle; the array is 7 elements, never the partition."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_frame"),
        F.array_sort(F.collect_list("value").over(w)).alias("vals"),
    )
    return framed.filter(F.col("n_frame") == 7).select(
        "event_id",
        "user_id",
        F.round(F.element_at("vals", 4), 4).alias("med7"),
    )


@query(
    "ks_statistic",
    oracle="""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('click', 'view')
    ),
    tot AS (
        SELECT sum(g) AS n1, sum(1 - g) AS n2 FROM s
    ),
    ecdf AS (
        SELECT value,
               sum(g)     OVER (ORDER BY value
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS c1,
               sum(1 - g) OVER (ORDER BY value
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS c2
        FROM s
    )
    SELECT round(max(abs(c1::DOUBLE / tot.n1 - c2::DOUBLE / tot.n2)), 6)
               AS ks_d,
           CAST(any_value(tot.n1) AS BIGINT) AS n_click,
           CAST(any_value(tot.n2) AS BIGINT) AS n_view
    FROM ecdf, tot
    """,
)
def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between click and view
    value distributions: D = max |ECDF1 - ECDF2| — the classic
    distribution-shift test joining PSI in the monitoring family.

    Scale shape: both ECDFs only change at DISTINCT values, so the
    fact first collapses to (value, per-group counts) via hash agg
    (map-side combinable) and the inherently-global cumulative window
    runs over the distinct-value grain — bounded by value cardinality,
    not row count. A row-grain RANGE frame computes the same D but
    pushes every fact row through one global sort partition."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        "value",
        (F.col("event_type") == "click").cast("long").alias("g"),
    )
    per_value = s.groupBy("value").agg(
        F.sum("g").alias("d1"), F.sum(1 - F.col("g")).alias("d2")
    )
    wr = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_value.select(
        F.sum("d1").over(wr).alias("c1"),
        F.sum("d2").over(wr).alias("c2"),
    )
    tot = per_value.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"))
    return (
        ecdf.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.max(F.abs(F.col("c1") / F.col("n1") - F.col("c2") / F.col("n2"))),
                6,
            ).alias("ks_d"),
            F.first("n1").alias("n_click"),
            F.first("n2").alias("n_view"),
        )
    )


@query(
    "chi_square_independence",
    oracle="""
    WITH folded AS (
        SELECT event_type,
               ((user_id * 2654435761 + 40503) % 1000003) % 3 AS fold
        FROM events
    ),
    obs AS (
        SELECT event_type, fold, count(*) AS o FROM folded GROUP BY 1, 2
    ),
    margins AS (
        SELECT event_type, fold, o,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY fold)       AS col_tot,
               sum(o) OVER ()                        AS n
        FROM obs
    )
    SELECT round(sum((o - row_tot * col_tot / n::DOUBLE)
                     * (o - row_tot * col_tot / n::DOUBLE)
                     / (row_tot * col_tot / n::DOUBLE)), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT fold) - 1) AS BIGINT)     AS dof
    FROM margins
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type vs hash-fold (the
    split-sanity check: a sound fold assignment must be independent of
    the label — large chi2 flags leakage). Contingency margins come
    from windows OVER the tiny aggregated table, so the fact is
    scanned once and everything after the first hash agg is
    cell-grain."""
    ev = load_table(spark, sf_dir, "events")
    fold = (
        (F.col("user_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(1000003)
    ) % F.lit(3)
    obs = (
        ev.select("event_type", fold.alias("fold"))
        .groupBy("event_type", "fold")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = obs.select(
        "event_type",
        "fold",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("fold")).alias("col_tot"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    return m.agg(
        F.round(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 6).alias(
            "chi2"
        ),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("fold") - 1)
        ).alias("dof"),
    )
