"""SQL-surface tests: registered tables answer spark.sql queries with
the same results as the DataFrame API.
"""

from __future__ import annotations

from post_modern_stack_spark.registry import load_table, register_views

SF = "/root/testdata/sf0.001"


def test_sql_join_over_registered_tables(spark):
    register_views(spark, SF)
    row = spark.sql(
        """
        SELECT r.r_name, count(*) AS n
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY n DESC, r.r_name LIMIT 1
        """
    ).collect()[0]
    assert row["n"] == 5  # 25 nations over 5 regions


def test_parameterized_sql_extraction(spark):
    """A12 via Spark 4 parameterized SQL: the tenant/date extraction
    runs as spark.sql with NAMED BOUND PARAMS (the engine-side binding
    that replaces the reference's client-side pyformat interpolation,
    my_dbt_flow.py:240,248-252) and matches the DataFrame plan's rows
    exactly."""
    from pyspark.sql import functions as F

    register_views(spark, SF)
    got = spark.sql(
        """
        SELECT user_id,
               to_date(ts) AS d,
               round(sum(value), 2) AS total_value,
               count(*) AS n
        FROM events
        WHERE event_type = :etype
          AND ts >= :start_ts
          AND ts < :end_ts
          AND user_id % :tenant_mod = :tenant_id
        GROUP BY user_id, to_date(ts)
        """,
        args={
            "etype": "purchase",
            "start_ts": "2024-01-01 00:00:00",
            "end_ts": "2024-02-01 00:00:00",
            "tenant_mod": 4,
            "tenant_id": 1,
        },
    )
    ev = load_table(spark, SF, "events")
    want = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01 00:00:00").cast("timestamp"))
            & (F.col("user_id") % 4 == 1)
        )
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("total_value"), F.count(F.lit(1)).alias("n"))
    )
    g = {(r["user_id"], str(r["d"])): (r["total_value"], r["n"]) for r in got.collect()}
    w = {(r["user_id"], str(r["d"])): (r["total_value"], r["n"]) for r in want.collect()}
    assert g and g == w


def test_char_ngrams_udtf_lateral(spark):
    """Spark 4 Python UDTF in FROM/LATERAL position: per-row table
    expansion with positions; NULL/edge inputs yield no rows."""
    from post_modern_stack_spark.sql_functions import register_udtfs

    assert "char_ngrams" in register_udtfs(spark)
    rows = spark.sql("SELECT * FROM char_ngrams('abcd', 2)").collect()
    assert [(r["pos"], r["gram"]) for r in rows] == [(0, "ab"), (1, "bc"), (2, "cd")]
    spark.createDataFrame(
        [("hello",), (None,), ("x",)], "text string"
    ).createOrReplaceTempView("udtf_probe")
    out = spark.sql(
        "SELECT text, g.gram FROM udtf_probe t, LATERAL char_ngrams(t.text, 3) g"
    ).collect()
    assert [(r["text"], r["gram"]) for r in out] == [
        ("hello", "hel"), ("hello", "ell"), ("hello", "llo")
    ]
