"""Dataset shaping — splits, slices, padding, top-K (SURVEY.md §2 D/E).

The reference does all of this driver-side over Python lists
(reference src/my_dbt_flow.py:256-277); here every step stays a
distributed DataFrame until the ML boundary.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from post_modern_stack_spark.functions import (
    last_element,
    pad_sequence,
    slice_drop_last,
)


def split_by_time(
    df: DataFrame,
    order_by: list[str],
    train_frac: float = 0.9,
    split_col: str = "split",
) -> DataFrame:
    """Time-ordered fractional split (E1; reference my_dbt_flow.py:256-268:
    first 90% of time-sorted sessions → train, rest → test).

    Implemented with ``percent_rank`` over the ordering keys. A global
    window is a single-partition sort at scale (SURVEY.md §7 watch-list
    3) — acceptable at session granularity (#sessions ≪ #events).

    ``percent_rank`` = (rank-1)/(n-1), so the boundary row semantics
    match the reference's ``int(len(ds) * frac)`` index split when rows
    are distinct on the ordering keys.
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(
        split_col,
        F.when(F.percent_rank().over(w) < train_frac, F.lit("train")).otherwise(
            F.lit("test")
        ),
    )


def xy_pairs(df: DataFrame, arr_col: str = "interactions") -> DataFrame:
    """x = all-but-last, y = last (D2/D3; reference my_dbt_flow.py:272-275)."""
    return df.withColumn("x", slice_drop_last(arr_col)).withColumn(
        "y", last_element(arr_col)
    )


def pad_dataset(df: DataFrame, arr_col: str = "x", maxlen: int = 20) -> DataFrame:
    """Left-pad/truncate to fixed length (D4; reference my_dbt_flow.py:337)."""
    return df.withColumn(f"{arr_col}_padded", pad_sequence(arr_col, maxlen))


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Relational top-K per group (E2): row_number window + filter.

    Pass fully deterministic ``order_by`` (include a unique tie-break
    key). Catalyst turns this into a per-partition top-K
    (WindowGroupLimit) — no global sort, shuffle only on group keys.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def pps_systematic_sample(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    order_col: str,
    k: int,
) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling: per
    group, walk rows in ``order_col`` order accumulating weight and
    keep a row whenever the running total crosses one of k evenly
    spaced thresholds (classic systematic PPS — heavy rows are near-
    certain picks, light rows sampled ∝ weight, exactly ≤ k kept).

    Chosen over Efraimidis–Spirakis top-k(u^(1/w)) for the engine-
    replayable catalog because it needs NO transcendental functions
    and — with an INTEGRAL weight column — no floating point at all:
    row j is picked iff a threshold t·total/k lands in
    ((cum−w)·k, cum·k], tested with integer multiply + floor division,
    so any engine replays it bit-for-bit. Float weights are rejected:
    engines disagree on windowed float sums in the last ULP (DuckDB
    aggregates window frames with a segment tree, Spark streams the
    running frame — caught live on the cum==total boundary rows), so
    callers quantize first (money → cents, scores → fixed-point).

    One shuffle (group key), one window pass; the running sum is the
    sequential streaming frame, never a per-row re-scan. Emits
    ``smp_rank`` (1-based pick index within the group).
    """
    if not any(
        c == weight_col and t in ("int", "bigint", "smallint", "tinyint")
        for c, t in df.dtypes
    ):
        raise TypeError(
            f"pps_systematic_sample needs an integral weight column for "
            f"exact cross-engine replay; got {dict(df.dtypes).get(weight_col)!r} "
            "— quantize (e.g. cents) before sampling"
        )
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    total_w = Window.partitionBy(*group_cols)
    # Window sums and the pick math MUST land in one projection BEFORE
    # any filter: a window expression referenced after a filter would
    # be re-evaluated over only the surviving rows, silently changing
    # the running sums (caught by the DuckDB oracle: ranks shifted).
    staged = df.withColumns(
        {
            "__cum": F.sum(weight_col).over(w).cast("long"),
            "__total": F.sum(weight_col).over(total_w).cast("long"),
        }
    ).withColumns(
        {
            "__picks_before": F.expr(
                f"((__cum - {weight_col}) * {k}) DIV __total"
            ),
            "__picks_through": F.expr(f"(__cum * {k}) DIV __total"),
        }
    )
    return (
        staged.filter(
            (F.col("__picks_through") > F.col("__picks_before"))
            & (F.col(weight_col) > 0)
        )
        .withColumn("smp_rank", (F.col("__picks_before") + 1).cast("long"))
        .filter(F.col("smp_rank") <= k)  # last threshold == total edge case
        .drop("__cum", "__total", "__picks_before", "__picks_through")
    )


def pack_greedy(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
) -> DataFrame:
    """[EXT] sequence packing for training: greedy first-fit of
    documents into fixed token-budget bins, per group (shard).

    The canonical pre-training batching step — concatenate docs into
    ``budget``-token training sequences without splitting documents.
    Greedy in ``id_col`` order: a doc opens a new bin iff it would
    overflow the current one (an oversized doc gets its own bin).

    Engine shape: the packing state (running fill) is inherently
    sequential PER GROUP, so it runs as applyInArrow over the
    doc-grain metadata projection — (group, id, size): two longs and a
    string per doc, ~KB per group even at 100 TB of text. Each group
    sorts by id in Arrow and packs in one first-fit loop; groups pack
    in parallel across executors and the text itself never moves. The
    cross-group layout is embarrassingly parallel, matching how real
    packers shard by file.
    """
    meta = df.select(group_col, id_col, size_col)
    schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField(size_col, T.LongType()),
            T.StructField("bin_id", T.LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(schema)

    def pack(t: pa.Table) -> pa.Table:
        t = t.sort_by(id_col)
        bins, fill, cur = [], 0, 0
        for sz in t.column(size_col).to_pylist():
            if fill > 0 and fill + sz > budget:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += sz
        return t.append_column("bin_id", pa.array(bins, pa.int64())).cast(
            arrow_schema
        )

    return meta.groupBy(group_col).applyInArrow(pack, schema=schema)


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] weighted sampling without replacement, k per group
    (Efraimidis–Spirakis A-ES): each row draws u ~ U(0,1] from a
    PORTABLE md5 hash of its id and ranks by ln(u)/w — the top-k per
    group is a weight-proportional sample. Deterministic, replayable
    in any engine, and distributed: one hash-partition window per
    group, no global state, no RNG coordination across executors —
    the property that makes A-ES the standard cluster-side sampler.

    ln(u)/w preserves the u^(1/w) order (ln is monotone, w > 0) while
    staying in well-conditioned float range for tiny u.

    Cross-engine contract vs ``pps_systematic_sample``: PPS is the
    bit-exact path (pure integer arithmetic — no transcendentals at
    all). A-ES keys take one ``ln`` of an exactly-representable
    dyadic rational; engines may disagree in the last ULP, which
    flips a rank only if two keys collide within ~1e-16 relative —
    ruled out in practice by 52-bit-distinct u draws (and unlike
    windowed float SUMS, nothing accumulates). Both are registered;
    pick PPS when bit-for-bit replay is a hard requirement."""
    from pyspark.sql import Window

    # 13 hex chars = 52 bits → u uniform in (0, 1], never 0
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / float(1 << 52)
    key = F.log(u) / F.col(weight_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__sk"), F.asc(id_col)
    )
    return (
        df.withColumn("__sk", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            group_col,
            id_col,
            F.col(weight_col),
            F.round("__sk", 6).alias("sample_key"),
            F.col("__rn").cast("long").alias("rank_in_group"),
        )
    )
