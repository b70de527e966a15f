"""Skew-mitigation operators (SURVEY.md §7 watch-list 6).

AQE's skew-join splitting covers join-side skew at runtime; these
helpers cover the cases AQE can't re-plan: a scan with too few
row-carrying tasks (``widen_narrow_scan``), a running sum over one hot
key's timeline (``chunked_running_sum``) and a join on a hot key
(``salted_join``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def widen_narrow_scan(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Guide §2.5 "input skew: one huge unsplittable file" remedy as a
    conditional operator (r11 optimization round): round-robin
    repartition a SCAN-stage frame to the session's default parallelism
    when the scan can run fewer than ``min_fraction ×
    defaultParallelism`` tasks that carry rows.

    Why: parquet hands each row group to one task — the bench corpus
    ships each table as a single-row-group file, so every per-row-heavy
    pass (JSON parse, exact percentile buffers, n-gram explode) runs on
    ONE core while 31 idle. The same shape appears in production with
    gzip inputs, single-row-group writers, or small dimension tables
    feeding heavy per-row transforms. At real scale the row groups
    already provide the parallelism and this is a no-op — the extra
    exchange is never paid where it would be pure cost.

    A scan's width is the smaller of its byte splits and its parquet
    row groups: a one-row-group file that spans several splits still
    reads on one task (the other splits hold no row group's midpoint).
    Row groups are counted from the footers of ``df.inputFiles()``,
    and only until the count reaches the bar. A frame whose files are
    not all local parquet files with readable footers (gzip CSV/JSON,
    ``s3a://`` or HDFS paths), or that reads no files, is judged by its
    partitions alone.

    Call ONLY on shuffle-free frames (scan + projection/filter): the
    partition probe walks the physical RDD, which would materialize
    AQE shuffle stages (real jobs) if an exchange were upstream.
    Results are unchanged for any downstream aggregate/join: the
    round-robin split is deterministic (sort-before-repartition,
    SPARK-23207). Most catalog consumers aggregate order-insensitively;
    the one collect_list consumer (q_quality_classifier via
    packed_text_features) depends on array order only through the float
    summation order of its margin aggregate, which the query's 4dp
    rounding absorbs — the same reorder class post-shuffle collect_list
    already exhibits without this helper (ADVICE r11).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    bar = max(1, int(target * min_fraction))
    if df.rdd.getNumPartitions() >= bar:
        groups = _row_groups(df.inputFiles(), bar)
        if groups is None or groups >= bar:
            return df
    return df.repartition(target)


def _row_groups(files: list[str], stop_at: int) -> int | None:
    """Parquet row groups across ``files``, read from their footers and
    counted only until the total reaches ``stop_at``. None when there
    are no files, or one is not a local file whose parquet footer
    reads."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    n = 0
    for uri in files:
        if not uri.startswith("file:"):
            return None
        try:
            fs, path = pafs.FileSystem.from_uri(uri)
            n += pq.read_metadata(path, filesystem=fs).num_row_groups
        except (OSError, pa.ArrowException):
            return None
        if n >= stop_at:
            return n
    return n if files else None


def with_salt(df: DataFrame, buckets: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Uniform salt independent of row CONTENT: byte-identical rows
    (repeated heartbeats on a hot key) must still spread over buckets —
    a content hash would give every copy the same salt and defeat the
    whole mechanism. ``monotonically_increasing_id`` differs per row
    within a partition; any salt assignment yields the same final
    aggregate (the merge is algebraic), so task-retry nondeterminism of
    the id is harmless here."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))
    )


def chunked_running_sum(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tie_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    chunk_span: int = 3_600_000_000_000,
) -> DataFrame:
    """Running (prefix) sum under a HOT window key — the distributed
    prefix-sum decomposition for when one key's timeline is too large
    for a single task's sort (the A9 running-window analog of a salted
    two-phase aggregate).

    A plain ``Window.partitionBy(key).orderBy(t).rowsBetween(unbounded,
    current)`` serializes each key into one task; a 100 TB feed with a
    mega-tenant stalls on it. Decomposition:

    1. chunk each key's timeline into CONTIGUOUS spans of ``order_col``
       (integer division by ``chunk_span`` — contiguity is what makes
       prefix re-assembly possible; a hash salt would interleave);
    2. intra-chunk running sums — window over (key, chunk), so the hot
       key now spreads across timeline-chunks ≈ parallel tasks;
    3. per-chunk totals (tiny: keys × chunks grain) get an exclusive
       running offset over chunks — the only per-key serial pass, at
       chunk grain, ~span-compression-factor smaller than the data;
    4. final = intra-chunk sum + chunk offset, attached with a join on
       (key, chunk) that AQE plans as broadcast when the offset side is
       small.

    Semantically identical to the plain window; floating-point results
    agree to re-association tolerance (the offset adds whole-chunk
    totals instead of accumulating strictly row-by-row — same
    left-to-right order, different parenthesization, so doubles can
    drift in the last ulp; the parity test asserts < 1e-9).
    """
    # integer DIV, never float division: ns-epoch ordering keys exceed
    # 2^53, so double math would drift chunk boundaries (registry.py
    # documents the same rule for ts_ns normalization)
    chunk = F.expr(f"`{order_col}` DIV {int(chunk_span)}").alias("_chunk")
    from pyspark.sql import Window

    w_intra = (
        Window.partitionBy(*key_cols, "_chunk")
        .orderBy(order_col, *tie_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = df.withColumn("_chunk", chunk).withColumn(
        "_intra", F.sum(value_col).over(w_intra)
    )
    w_chunks = (
        Window.partitionBy(*key_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = intra.groupBy(*key_cols, "_chunk").agg(
        F.sum(value_col).alias("_chunk_total")
    )
    # zero literal typed like the chunk totals (ADVICE r05): coalescing
    # with a double 0.0 would promote an integer running sum to double,
    # silently capping exactness at 2^53 — long value_cols must stay
    # long end-to-end so token-budget survivors are exact at any total
    zero = F.lit(0).cast(totals.schema["_chunk_total"].dataType)
    offsets = totals.withColumn(
        "_offset", F.coalesce(F.sum("_chunk_total").over(w_chunks), zero)
    ).select(*key_cols, "_chunk", "_offset")
    return (
        intra.join(offsets, [*key_cols, "_chunk"])
        .withColumn(out_col, F.col("_intra") + F.col("_offset"))
        .drop("_chunk", "_intra", "_offset")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (skewed) left side, REPLICATE the
    right side across all salt buckets, join on (key, salt).

    A hot join key (one mega-tenant, one null-ish sentinel) serializes
    a plain shuffle join onto one reducer; salting spreads the hot
    key's rows over ``buckets`` tasks at the cost of ``buckets``×
    duplication of the RIGHT side — so this is for skewed-fact ⋈
    modest-dimension joins where the dimension is too big to broadcast
    outright but fine to replicate sharded. For fact ⋈ fact skew,
    prefer AQE's runtime skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on in session.py); this
    operator covers the planner-visible case AQE can't touch (e.g. a
    skewed LEFT OUTER where the hot key's matches must co-locate).

    ``on`` must name a column present in BOTH inputs (rename upstream
    for asymmetric keys); result column set matches a plain
    ``left.join(right, on, how)``.
    """
    if how.replace("outer", "").strip("_") in ("right", "full"):
        # right/full outer would emit each unmatched RIGHT row once per
        # salt bucket — replication breaks those semantics
        raise ValueError(f"salted_join does not support how={how!r}")
    sl = with_salt(left, buckets, "_salt")
    rep = right.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(buckets)])),
    )
    return sl.join(rep, on=[on, "_salt"], how=how).drop("_salt")
