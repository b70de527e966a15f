"""Generic two-pass column profiler — the warehouse ``SUMMARIZE`` /
dbt-docs statistics pass as a reusable operator.

Reference parity: the reference gets table statistics for free from
Snowflake's metadata layer and dbt docs; here the equivalent report is
one Spark job. ``plans/catalog_relational.q_table_profile`` is the
catalog/oracle instance of this operator over four lineitem columns.

Scale shape: TWO scans compute every column's measures —
one Expand pass for all N ``count(DISTINCT col)``s (each input row
fans into N tagged rows that partially hash-aggregate map-side), plus
one streaming keys=[] pass for nulls/min/max — then ``stack`` unpivots
to the long (column, measure) report. Two scans, NOT one combined agg:
var-length min/max buffers force the combined form into SortAggregate,
which sorts the whole Expand fan-out (r11 measurement; see
``summarize``). Still never one scan per column. Numerics profile as
strings so the report schema is column-type-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def summarize(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Profile ``cols`` (default: every column) in two hash-friendly
    passes.

    Returns one row per profiled column:
    (column, n_nulls, n_distinct, min_s, max_s, n_rows).

    ``n_distinct`` is exact and excludes NULL (count-distinct SQL
    semantics); ``n_nulls`` is a SUM, so NULL on an empty table.
    min/max aggregate on the NATIVE column type and cast the RESULT to
    string — casting the column first would rank numerics
    lexicographically.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("summarize: no columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"summarize: unknown columns {missing}")

    base_aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        base_aggs += [
            # sum() over an EMPTY table is NULL, as in SQL
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_{i}_nulls"),
            F.min(c).cast("string").alias(f"_{i}_min"),
            F.max(c).cast("string").alias(f"_{i}_max"),
        ]

    # TWO aggregation passes, not one (r11 optimization-round
    # measurement): a var-length (string/binary) min/max buffer is
    # not supported by HashAggregateExec, so mixing min/max with
    # the multi-countDistinct rewrite turned the WHOLE profile into
    # SortAggregate — the Expand×(N+1) fan-out was fully SORTED on
    # (col values, gid) before aggregating (plans/r11/
    # table_profile_before.txt: Expand → Sort → SortAggregate over
    # 3M rows at sf0.1, 8.8 s executorRunTime). Splitting lets each
    # pass take its best operator:
    #   - distinct pass: Expand + HashAggregate (long buffers only,
    #     map-side combinable) — no sort at any scale;
    #   - base pass: keys=[] global aggregate — SortAggregate with
    #     EMPTY grouping keys needs no Sort node, one streaming
    #     scan.
    # Cost model at 100 TB: old = scan + sort(N×(K+1) expanded
    # rows); new = 2 scans + hash agg — the second scan is far
    # cheaper than sorting the (K+1)-fold Expand. Measured 2.3×
    # on table_profile (see OPTIMIZATION_r11.md).
    distinct_aggs = [
        F.countDistinct(c).alias(f"_{i}_distinct")
        for i, c in enumerate(cols)
    ]
    one = df.agg(*base_aggs).crossJoin(df.agg(*distinct_aggs))
    stack = ", ".join(
        # escape single quotes in column names for the stack() literal
        "'{0}', _{1}_nulls, _{1}_distinct, _{1}_min, _{1}_max".format(
            c.replace("'", "\\'"), i
        )
        for i, c in enumerate(cols)
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, n_nulls, n_distinct, min_s, max_s)",
        "n_rows",
    )
