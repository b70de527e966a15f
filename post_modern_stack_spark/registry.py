"""Table registry — name → DataFrame over the sf-dir parquet layout.

Replaces the reference's dbt ``ref()``/``var()`` Jinja indirection
(reference src/dbt/models/metaflow/shopping_events_exploded.sql:10,26 and
SURVEY.md §1.3): table identity is resolved here, once, instead of at
SQL-compile time. DataFrames are lazy, so a registered view has exactly
the recompute-on-read semantics of the reference's dbt view
materialization (reference src/dbt/dbt_project.yml:27).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.session import ensure_session_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (path, file listing) -> StructType. Schema inference re-reads parquet
# footers and re-lists files on EVERY read.parquet call (~85 ms/table
# measured) — a metastore resolves a table's schema once per catalog
# entry, and this memo is that catalog entry. It holds ONLY schemas
# (plain StructType values): every load_table still returns a fresh
# DataFrame with fresh expr ids (no self-join ambiguity) and every
# action still lists and reads the parquet files — no data, plan, or
# result is cached. The listing (names, sizes, mtime_ns) changes on any
# in-place rewrite, even one that keeps the directory mtime.
_schema_memo: dict = {}
_SCHEMA_MEMO_MAX = 64


def _listing(path: str):
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return st.st_size, st.st_mtime_ns
        with os.scandir(path) as it:
            return tuple(
                sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
            )
    except OSError:
        return None


def _table_schema(spark: SparkSession, path: str):
    key = (path, _listing(path))
    schema = _schema_memo.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_schema_memo) >= _SCHEMA_MEMO_MAX:
            _schema_memo.clear()
        _schema_memo[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one registry table, normalizing physical quirks.

    ``events.ts`` has shipped both as parquet TIMESTAMP(NANOS) (Spark
    reads it only as a nanosecond long via ``nanosAsLong``) and as
    TIMESTAMP(MICROS) (native TimestampType). Either way we expose:
      - ``ts``     TimestampType (microsecond precision, UTC) — for
                   date math and windowing;
      - ``ts_ns``  LongType epoch nanoseconds — the exact ordering /
                   tie-break key (SURVEY.md §7 watch-list 1);
      - ``ts_ms``  LongType epoch milliseconds — the reference's native
                   event-time unit (reference upload_to_snowflake.py:59).
    Integer division (``DIV``) keeps full precision; ns epoch values
    exceed 2**53 so float math would corrupt them.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    schema = _table_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        # ts type and column order come from the memoized schema (no
        # py4j dtypes round trip), and the whole normalization is ONE
        # select (r12; was withColumnRenamed + 2 withColumn + select —
        # ~45 ms of driver build on every events load). Fixed-order
        # output schema regardless of which physical variant shipped,
        # so positional consumers (union-by-position, schema snapshots)
        # see one schema (ADVICE.md round 1). Values are identical to
        # the chained form: inside a single select every expression
        # reads the INPUT 'ts', which is exactly what the renamed /
        # pre-cast column held.
        ts_type = next(
            (f.dataType.simpleString() for f in schema.fields if f.name == "ts"),
            None,
        )
        orig_cols = schema.names  # 'ts' keeps its original slot in both paths
        if ts_type == "bigint":
            df = df.select(
                *[
                    F.expr("timestamp_micros(ts DIV 1000)").alias("ts")
                    if c == "ts"
                    else F.col(c)
                    for c in orig_cols
                ],
                F.col("ts").alias("ts_ns"),
                F.expr("ts DIV 1000000").alias("ts_ms"),
            )
        elif ts_type in ("timestamp", "timestamp_ntz"):
            # timestamp_ntz: isAdjustedToUTC=false parquet stamps; the
            # session tz is pinned to UTC so the NTZ wall clock IS the
            # UTC instant (the cast is a no-op for plain timestamp).
            ts_utc = "CAST(ts AS TIMESTAMP)"
            df = df.select(
                *[
                    F.expr(ts_utc).alias("ts") if c == "ts" else F.col(c)
                    for c in orig_cols
                ],
                F.expr(f"unix_micros({ts_utc}) * 1000").alias("ts_ns"),
                F.expr(f"unix_micros({ts_utc}) DIV 1000").alias("ts_ms"),
            )
        else:
            # Fail loudly instead of letting unix_micros() raise a cryptic
            # AnalysisException downstream (ADVICE.md round 1).
            raise TypeError(
                f"events.ts has unsupported type {ts_type!r}; expected "
                "bigint epoch-ns, timestamp, or timestamp_ntz"
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register every table as a temp view for the SQL surface.

    Mirrors dbt materializing models as views: lazily evaluated,
    recomputed on read, zero storage (SURVEY.md §1.1 row 2).
    """
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
