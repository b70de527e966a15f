"""Every queries() entry with an oracle twin must hash-match DuckDB —
the local replica of the driver's t2 gate (SURVEY.md §5 strategy 1)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.oracle import compare, duckdb_con

SF = "/root/testdata/sf0.001"


def _oracle_cases():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    return sorted(set(q) & set(o))


def _rows_only_cases():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    return sorted(set(q) - set(o))


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", _oracle_cases())
def test_oracle_parity(spark, con, name):
    df = entry_mod.queries()[name](spark, SF)
    compare(df, con, entry_mod.oracle_sql()[name])


@pytest.mark.parametrize("name", _rows_only_cases())
def test_rows_only_runs(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_no_vacuous_oracles_at_driver_sf():
    """Every oracle must select ≥1 row at sf0.01, the driver's gate SF.

    A hash match on an EMPTY result proves the query compiles, not
    that its predicates select anything — VERDICT round 3 flagged
    sql_param_extract for this, and the round-4 audit found four more
    (customers_without_orders, rich_idle_customers, media_dedup_groups,
    training_manifest, rolling_zscore_anomalies — all since re-scoped
    to have real survivors). DuckDB-only, so the whole 190-query sweep
    costs ~10 s and any future unsatisfiable predicate fails loudly at
    registration time instead of producing a vacuous green driver row.
    """
    con = duckdb_con("/root/testdata/sf0.01")
    empties = []
    for name, sql in entry_mod.oracle_sql().items():
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n == 0:
            empties.append(name)
    con.close()
    assert not empties, f"oracles selecting 0 rows at sf0.01: {empties}"


def test_lang_distribution_rounds_a_tie_like_its_oracle(spark, tmp_path):
    """A group whose mean n_chars is exactly 291.275 (a tie at 2
    decimals) rounds to the same value in Spark and in DuckDB."""
    import duckdb
    import pandas as pd

    n = 40  # sum 291 * 40 + 11 = 11651, mean 291.275
    pd.DataFrame(
        {
            "doc_id": range(n),
            "lang": "zh",
            "text": "a b",
            "n_chars": [291 + (11 if i == 0 else 0) for i in range(n)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = entry_mod.queries()["lang_distribution"](spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = con.execute(entry_mod.oracle_sql()["lang_distribution"]).fetchall()
    con.close()
    assert [tuple(r) for r in got] == want == [("zh", n, 291.28, 2.0)]
