"""Change-data-capture application + slowly-changing-dimension history
(warehouse maintenance surface; SURVEY.md §2 H/I families widened).

The reference maintains state by full destructive reload
(upload_to_snowflake.py:152-207 DROP+COPY); these operators are the
incremental alternatives a Spark warehouse actually runs at 100 TB:
apply a keyed change feed to a snapshot (MERGE semantics without a
table format), and reconstruct validity intervals from an event log
(SCD type 2).

Both are single-window-pass plans: one shuffle on the key, no
self-joins, no driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Latest-wins MERGE: union snapshot (as low-sequence upserts) with
    the change feed, keep each key's highest-(seq, op) row, drop rows
    whose winner is a delete.

    ``snapshot`` must NOT carry ``op_col``; every snapshot row is
    treated as an upsert at its ``seq_col`` value (pass a constant
    column if the snapshot is unversioned). Ties on ``seq_col`` break
    toward the delete so a same-sequence delete+upsert pair resolves
    deterministically.

    Implemented as ``max_by`` hash aggregation, NOT a row_number
    window: the agg gets a map-side partial combine (each task reduces
    its keys to one candidate row before the shuffle, so shuffled bytes
    ≈ |keys|, not |snapshot|+|changes|) and needs no per-partition
    sort. The 100M-row probe measured the window variant 3× slower and
    spill-bound (BASELINE.md "Scale-ladder probe", round 3, ``cdc_apply``).
    """
    snap = snapshot.withColumn(op_col, F.lit("U"))
    cols = snap.columns
    unioned = snap.select(cols).unionByName(changes.select(cols))
    payload = [c for c in cols if c not in key_cols]
    # ordering tuple: higher seq wins; on equal seq the delete flag (1)
    # beats the update (0)
    rank = F.struct(
        F.col(seq_col).alias("s"),
        F.when(F.col(op_col) == delete_op, 1).otherwise(0).alias("d"),
    )
    winner = unioned.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload), rank).alias("_w")
    )
    return winner.filter(F.col(f"_w.{op_col}") != delete_op).select(
        *key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload if c != op_col]
    )


def scd2_intervals(
    events: DataFrame,
    key_cols: list[str],
    attr_col: str,
    seq_col: str,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """SCD type-2 reconstruction: collapse an event log into validity
    intervals — one row per (key, attribute run) with
    ``valid_from``/``valid_to`` sequence bounds (``valid_to`` NULL for
    the current run).

    Run detection is the classic gaps-and-islands pair of windows
    (lag → change flag → running sum = run id), then one aggregation
    per run. All three passes share the same (key) partitioning, so
    Catalyst plans ONE exchange and reuses the sort. Only the needed
    columns enter the window sort — on a fact table with wide payload
    columns (JSON props etc.) sorting full rows spilled the 100M-row
    probe to disk at ~6× the runtime (BASELINE.md "Scale-ladder probe",
    round 3, ``scd2_runs``).
    """
    ties = tie_cols or []
    events = events.select(*key_cols, attr_col, seq_col, *ties)
    w = Window.partitionBy(*key_cols).orderBy(seq_col, *ties)
    flagged = events.withColumn(
        "_chg",
        F.when(
            F.lag(attr_col).over(w).isNull()
            | (F.lag(attr_col).over(w) != F.col(attr_col)),
            1,
        ).otherwise(0),
    ).withColumn("_run", F.sum("_chg").over(w))
    runs = flagged.groupBy(*key_cols, "_run").agg(
        F.first(attr_col).alias(attr_col),
        F.min(seq_col).alias("valid_from"),
        F.max(seq_col).alias("_run_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_runs = Window.partitionBy(*key_cols).orderBy("valid_from")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w_runs))
        .drop("_run", "_run_end")
    )
