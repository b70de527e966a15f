"""As-of (temporal) join — match each left row to the most recent right
row at-or-before its timestamp, per key.

The reference engine family exposes this as a first-class temporal join;
Spark has no built-in, so it is re-expressed (SURVEY.md §2
custom-operator policy):

- ``asof_join`` (JVM-only): the *union-window* idiom. Tag both
  sides, union, and run ``last(value, ignorenulls=True)`` over a
  per-key time-ordered running window. One shuffle (the window's
  partitionBy), whole-stage-codegen throughout, no Python in the hot
  path — this is the 100 TB shape: cost is a sort within each key
  partition, identical to any windowed aggregate.

Determinism: right-side ties on the time key are broken by an explicit
``right_tie`` column (max wins); at equal timestamps the right row sorts
*before* the left row, so the join is inclusive (``right.t <= left.t``),
matching DuckDB's ``ASOF JOIN ... ON l.t >= r.t``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_T = "__asof_t"
_SIDE = "__asof_side"
_TIE = "__asof_tie"
_LP = "__asof_left"
_RV = "__asof_right"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: Sequence[str],
    right_cols: Sequence[str],
    right_tie: str | None = None,
) -> DataFrame:
    """Backward as-of join, union-window strategy (JVM-only plan).

    Every ``left`` row is matched to the latest ``right`` row of the
    same ``by`` key with ``right[on] <= left[on]``; unmatched left rows
    keep NULL right columns (left outer semantics). ``right_cols`` are
    emitted with their own names and must not collide with left column
    names.

    Plan shape: Union (narrow) → single Exchange on ``by`` → per-key
    sort → running ``last(ignorenulls)`` → filter left rows. No
    broadcast, no Python; skewed keys behave exactly like any skewed
    window (salt upstream if one key dominates).
    """
    by = list(by)
    tie = F.col(right_tie) if right_tie is not None else F.lit(0)

    rv_struct = F.struct(*[F.col(c) for c in right_cols])
    r = right.select(
        *by,
        F.col(on).alias(_T),
        F.lit(0).alias(_SIDE),
        tie.alias(_TIE),
        rv_struct.alias(_RV),
    )
    left_payload = [c for c in left.columns if c not in by]
    lp_struct = F.struct(*[F.col(c) for c in left_payload])
    l = left.select(
        *by,
        F.col(on).alias(_T),
        F.lit(1).alias(_SIDE),
        F.lit(0).alias(_TIE),
        lp_struct.alias(_LP),
    )
    # align schemas for the union: each side carries the other's
    # payload struct as typed NULL
    r = r.withColumn(_LP, F.lit(None).cast(l.schema[_LP].dataType))
    l = l.withColumn(_RV, F.lit(None).cast(r.schema[_RV].dataType))
    unioned = r.select(*by, _T, _SIDE, _TIE, _LP, _RV).unionByName(
        l.select(*by, _T, _SIDE, _TIE, _LP, _RV)
    )

    # right rows (side 0) sort before left rows (side 1) at equal time,
    # so a right row at the left row's own time matches (<=)
    w = (
        Window.partitionBy(*by)
        .orderBy(_T, _SIDE, _TIE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_left = F.col(_SIDE) == 1
    matched = unioned.withColumn(_RV, F.last(_RV, ignorenulls=True).over(w)).filter(
        is_left
    )
    return matched.select(
        *by,
        *[F.col(f"{_LP}.{c}").alias(c) for c in left_payload],
        *[F.col(f"{_RV}.{c}").alias(c) for c in right_cols],
    )

