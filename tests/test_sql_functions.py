"""Engine column functions with a numeric edge (int64-overflow sums,
the cosine fast path) and the polymorphic SQL table function."""

from __future__ import annotations

from pyspark.sql import functions as F

from post_modern_stack_spark.functions import cosine_similarity


def test_sum128_survives_int64_overflow(spark):
    """functions.core.sum128: group sums of cents PRODUCTS overflow
    int64 at ~8e7 rows/group for the triple product. A long F.sum
    there KILLS the job under Spark 4's ANSI default
    (ARITHMETIC_OVERFLOW at runtime, hours in) and silently wraps
    negative with ANSI off — both diverge from DuckDB's automatic
    BIGINT→HUGEINT widening. The decimal(38,0) accumulator must return
    the true total where the long sum fails."""
    import pytest
    from pyspark.sql import functions as F

    from post_modern_stack_spark.functions.core import sum128

    per_row = 4_000_000_000_000_000_000  # 4e18: 3 rows overflow int64
    df = spark.range(3).select(F.lit(per_row).cast("long").alias("v"))
    # demonstrate the failure mode the helper exists for: ANSI raises,
    # non-ANSI wraps negative — either way the long sum is unusable
    try:
        wrapped = df.agg(F.sum("v").alias("s")).collect()[0]["s"]
        assert wrapped < 0
    except Exception as e:
        assert "OVERFLOW" in str(e).upper()
    exact = df.agg(sum128(F.col("v")).alias("s")).collect()[0]["s"]
    assert exact == float(3 * per_row)


def test_cosine_expr_fastpath_matches_dsl(spark):
    """r12: cosine_similarity(str, str) emits one parsed SQL string;
    cosine_similarity(Column, Column) keeps the original DSL build.
    Both must be the SAME expression — checked value-identically (no
    rounding) over normal vectors, a zero vector (NULL via nullif),
    a NULL array, and NaN elements."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
            (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vec → NULL
            (3, None, [1.0, 2.0, 3.0]),  # NULL array → NULL
            (4, [float("nan"), 1.0, 2.0], [1.0, 1.0, 1.0]),  # NaN → NaN
            (5, [7.5, -1.25, 0.5], [7.5, -1.25, 0.5]),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = df.select(
        "id",
        cosine_similarity("a", "b").alias("fast"),
        cosine_similarity(F.col("a"), F.col("b")).alias("dsl"),
    ).collect()
    for r in got:
        f, d = r["fast"], r["dsl"]
        if f is None or d is None:
            assert f is None and d is None, r
        elif f != f:  # NaN
            assert d != d, r
        else:
            assert f == d, r  # bit-identical, same expression tree


def test_polymorphic_udtf_schema_from_argument(spark):
    """split_fields derives its output schema from the constant field
    list at plan time (UDTF analyze())."""
    from post_modern_stack_spark.sql_functions import register_udtfs

    register_udtfs(spark)
    df = spark.sql(
        """
        SELECT t.* FROM VALUES ('1,alpha,x'), ('2,beta') AS v(line),
        LATERAL split_fields(v.line, 'id, name, tag') t
        """
    )
    assert df.columns == ["id", "name", "tag"]
    rows = {r["id"]: (r["name"], r["tag"]) for r in df.collect()}
    assert rows["1"] == ("alpha", "x")
    assert rows["2"] == ("beta", None)
