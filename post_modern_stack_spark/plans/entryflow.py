"""Query catalog: every SURVEY.md §2 operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable with (where SQL-expressible) a
DuckDB oracle twin.

Registration pattern: ``@query(name, oracle=...)`` adds to the module
dicts consumed by ``__spark_entry__.py``. Column aliases MUST match the
oracle exactly (driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.registry import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Oracle-paired queries ranked BEHIND every non-deferred never-checked
# paired query (but ahead of rows-only entries). Only near-duplicates
# of another in-window shape (or late-paired queries that would
# displace a never-checked family) belong here; deferred queries stay
# oracle-paired and are verified by the pytest oracle sweep meanwhile.
# Leftover driver-window capacity fills with deferred names
# automatically, so no round has to remember to un-defer.
#
# Round 4 (VERDICT round-3 items 1/4/5): defer true twins whose
# sibling shape is already covered, keeping the round-4 window on the
# never-driver-checked K family.
#   priority_grouping_sets — twin of status_priority_sets (green r03)
#   scd2_intervals         — twin of scd2_user_state (in the r04 window)
#   item_pagerank          — newly oracle-paired this round; registered
#                            early in catalog_events, so listing it in
#                            the window NOW would displace a K-family
#                            query (graph-twin item_reachability is in
#                            the r04 window; the numpy power-iteration
#                            parity test covers pagerank meanwhile)
#   media_dedup_groups     — round-1 green row was vacuous (0 rows on
#                            dup-free sf0.01 data; removed from the
#                            DRIVER_GREEN floor); the query now plants
#                            deterministic duplicate payloads so its
#                            next driver row value-checks the sha2
#                            grouping for real
#   customers_without_orders, rich_idle_customers — same vacuous-green
#                            class: every synthetic customer has an
#                            order, so their NOT EXISTS anti-joins
#                            matched on 0 rows in round 1. Both are
#                            re-scoped (urgent-orders / recent-orders
#                            predicates) to have real survivors, and
#                            deferred so their re-entry does not
#                            displace the K-family round-4 window
#                            (catalog_relational registers before the
#                            K modules).
DEFER_FROM_WINDOW: tuple[str, ...] = (
    "priority_grouping_sets",
    "scd2_intervals",
    "item_pagerank",
    "media_dedup_groups",
    "customers_without_orders",
    "rich_idle_customers",
    # Round 5 (VERDICT r04 items 3/4): rows-only queries newly given a
    # DuckDB oracle this round. Deferring them ranks them BEHIND the
    # 46 never-checked paired queries already queued for the r05
    # window (40 bucket-1 + the 6 twins above), so the final never-
    # checked backlog is cleared first; they fill the remaining window
    # slots (47-50) themselves. tests/test_window_ordering.py pins the
    # 50-slot window order these deferrals rely on.
    "ann_recall_report",
    "bpe_train_merges",
    "predict_hit_rate",
)

# Queries whose CORRECT answer is legitimately empty at driver SF
# (ADVICE r04: driver_green ignores 0-row greens, so an expected-empty
# query would re-enter the bounded window every round forever). A name
# listed here accepts a 0-row green — but ONLY add a name alongside a
# local test proving the query is non-vacuous at some other SF or on
# planted data. Currently empty: every vacuous-green found so far
# (sql_param_extract, customers_without_orders, rich_idle_customers,
# media_dedup_groups) was a bug to fix by re-scoping, not to allowlist.
EXPECTED_EMPTY: frozenset[str] = frozenset()

# Queries whose ORACLE SEMANTICS were rewritten after their last green
# driver row (VERDICT r08 "what's wrong" item 1): ``driver_green()`` is
# a monotone union over recorded rounds, so a green row recorded for
# the OLD semantics would keep the name in bucket 4 forever and the
# driver would never re-certify the new semantics. Mapping
# name -> first round whose green row counts: rows recorded in EARLIER
# rounds are ignored, so the name re-enters bucket 1 until the driver
# records a fresh green row under the rewritten oracle.
#
# Round 9 entries — all four oracles were rewritten in round 8
# (positional dup-share grain for the substring/funnel family; hashed
# gram keys for contamination), so rounds < 9 certify stale semantics:
RECHECK_FROM_ROUND: dict[str, int] = {
    "substring_dup_share": 9,
    "curation_funnel": 9,
    "curation_funnel_spans": 9,
    "contamination_pairs": 9,
}

def driver_green(root: str | None = None) -> frozenset[str]:
    """Names with a green driver-correctness row in ANY recorded round.

    The driver checks a bounded window of ~50 queries per round, so
    queries() lists never-driver-checked entries FIRST — across rounds
    the union of CORRECTNESS_r{N}.json rows then covers the whole
    catalog (VERDICT.md round-1 "Next round" item 1). Reading the
    recorded files keeps the set current without hand-maintaining a
    name list each round; ``DRIVER_GREEN`` (round 1) is the fallback
    floor if no files are readable.

    A recorded row only counts as green when ``spark_rows > 0``: a
    hash match on an empty result proves the query compiles, not that
    its predicates actually select rows (VERDICT round-3 flagged
    ``sql_param_extract``'s 0-row green as vacuous). Zero-row rows are
    ignored so the fixed query re-enters the driver window.

    ``root`` overrides the directory scanned for CORRECTNESS files
    (tests inject synthetic fixtures; production callers omit it).
    """
    import glob
    import json
    import os

    import re

    # the static floor is round-1 evidence — an oracle rewritten later
    # invalidates it the same way it invalidates a recorded row
    green = {n for n in DRIVER_GREEN if RECHECK_FROM_ROUND.get(n, 0) <= 1}
    repo_root = root or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        file_round = int(m.group(1)) if m else 0
        for name, row in data.items():
            if file_round < RECHECK_FROM_ROUND.get(name, 0):
                # green row predates the oracle rewrite — stale semantics
                continue
            if not isinstance(row, dict):
                continue
            flags = [v for v in row.values() if isinstance(v, bool)]
            if (
                row.get("err") is None
                and flags
                and all(flags)
                and (row.get("spark_rows", 0) > 0 or name in EXPECTED_EMPTY)
            ):
                green.add(name)
    return frozenset(green)


# Queries with a green row in CORRECTNESS_r01.json (driver-verified in
# round 1) — the static floor under driver_green().
DRIVER_GREEN: frozenset[str] = frozenset(
    {
        "sessionize",
        "latest_event_per_user",
        "events_exploded",
        "user_daily_value",
        "user_running_value",
        "split_assign",
        "session_xy",
        "session_stats",
        "session_quality",
        "encode_sessions",
        "gap_sessionize",
        "variant_extract",
        "value_stats_by_type",
        "user_event_type_pivot",
        "hit_rate_popularity",
        "time_bucket_rollup",
        "negative_samples",
        "props_from_json",
        "json_roundtrip",
        "top_value_dims",
        "sessions_with_target_items",
        "user_type_value_map",
        "viewed_vs_purchased_items",
        "media_inventory",
        "pricing_summary",
        "top_customers",
        "regional_revenue",
        "order_priority_count",
        "shipping_priority",
        "returned_items_by_nation",
        "customer_order_gaps",
        "order_priority_exists",
        "priority_shipmode_counts",
        "promo_revenue_ratio",
        "small_quantity_orders",
        "revenue_rollup",
        "status_priority_cube",
        "orders_vs_lineitem_custkeys",
        "supplier_balance_rank",
        "nation_volume_shipping",
        "large_volume_customers",
        "min_cost_supplier",
        "part_value_share",
        "top_revenue_supplier",
        "brand_supplier_counts",
        "heavy_part_suppliers",
        "sole_latest_shipper",
    }
)


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: the sessionization flagship at sf0.001."""
    return QUERIES["sessionize"](spark, sf_dir)


# ---------------------------------------------------------------------------
# Flagship: sessionization (SURVEY.md §7 Phase 1; operators A7/A8/A9/
# A10/A11/A14/A15, B1, C4)
# ---------------------------------------------------------------------------


@query(
    "sessionize",
    oracle="""
    SELECT user_id,
           strftime(CAST(min(ts) AS DATE), '%Y-%m-%d') AS session_date,
           count(*)                                AS n_events,
           string_agg(
             CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR),
             ' ' ORDER BY ts, event_id)            AS interactions
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
    GROUP BY user_id
    HAVING count(*) >= 3
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: events → per-user time-ordered interaction sessions.

    Mirrors the reference's two-model DAG compressed onto the driver's
    events table (reference nep_session_events.sql:7-19 semantics).
    Interactions emitted as a space-joined string for hash-stable
    comparison; ordering tie-break = (ts_ns, event_id) on both sides.
    """
    from post_modern_stack_spark.operators.sessionize import driver_session_events

    sess = driver_session_events(load_table(spark, sf_dir, "events"))
    return sess.select(
        "user_id",
        F.date_format("session_date", "yyyy-MM-dd").alias("session_date"),
        "n_events",
        F.concat_ws(" ", "interactions").alias("interactions"),
    )


# --- catalog modules register themselves via @query on import -------------
# (import at module end: they import `query` from this module)
from post_modern_stack_spark.plans import (  # noqa: E402,F401
    catalog_events,
    catalog_json,
    catalog_multimodal,
    catalog_relational,
    catalog_similarity,
    catalog_temporal,
    catalog_text,
    catalog_windows,
)
