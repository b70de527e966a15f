"""Core column-expression helpers (pure built-in composition).

Reference parity notes are cited per-function; none of this code is
copied from the reference (which holds these semantics as Snowflake SQL
or driver-side Python lists, not Spark expressions).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def ordered_collect(value: Column | str, *order_by: Column | str) -> Column:
    """Deterministic ordered array aggregation (SURVEY.md §2 A7).

    Reference semantic: ``ARRAY_AGG(x) WITHIN GROUP (ORDER BY k ASC)``
    (reference src/dbt/models/metaflow/nep_session_events.sql:11).

    ``collect_list`` alone is shuffle-order-nondeterministic; the
    required idiom is collect structs of (order keys..., value), sort
    the array (struct comparison = lexicographic over fields), then
    project the value out. Pass every tie-break key explicitly — the
    oracle must ORDER BY the same keys (SURVEY.md §7 watch-list 1).

    Scale note: per-group arrays live in executor memory; this is safe
    for bounded groups (sessions), and AQE skew-split handles hot keys
    on the preceding shuffle.
    """
    value_col = F.col(value) if isinstance(value, str) else value
    keys = [F.col(k) if isinstance(k, str) else k for k in order_by]
    struct_cols = [k.alias(f"_k{i}") for i, k in enumerate(keys)]
    struct_cols.append(value_col.alias("_v"))
    return F.transform(
        F.array_sort(F.collect_list(F.struct(*struct_cols))),
        lambda s: s.getField("_v"),
    )


def slice_drop_last(arr: Column | str) -> Column:
    """``s[:-1]`` — model input prefix (reference src/my_dbt_flow.py:272)."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.slice(arr, 1, F.greatest(F.lit(0), F.size(arr) - 1))


def last_element(arr: Column | str) -> Column:
    """``s[-1]`` — label extraction (reference src/my_dbt_flow.py:273).

    ``try_element_at``: NULL on empty arrays instead of an ANSI error
    (Spark 4 runs with ANSI mode on by default).
    """
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.try_element_at(arr, F.lit(-1))


def pad_sequence(arr: Column | str, maxlen: int, pad_value=0) -> Column:
    """Keras ``pad_sequences(maxlen=N)`` parity: left-pad with
    ``pad_value``, keep the LAST ``maxlen`` elements (pre-truncation),
    per reference src/my_dbt_flow.py:337 and src/model/lstm_model.py:32.
    """
    arr = F.col(arr) if isinstance(arr, str) else arr
    n = F.lit(maxlen)
    padding = F.array_repeat(F.lit(pad_value), F.greatest(F.lit(0), n - F.size(arr)))
    tail = F.slice(arr, F.greatest(F.lit(1), F.size(arr) - n + 1), maxlen)
    return F.concat(padding, tail)


def json_get(col: Column | str, key: str, cast: str | None = None) -> Column:
    """Snowflake ``RAW_DATA:"key"::TYPE`` parity (reference
    src/dbt/models/metaflow/shopping_events_exploded.sql:18-24).

    ``get_json_object`` matches Snowflake's permissive path extraction:
    missing key / malformed JSON → NULL, never an error (SURVEY.md §7
    watch-list 2).
    """
    col = F.col(col) if isinstance(col, str) else col
    out = F.get_json_object(col, f"$.{key}")
    # try_cast, not cast: Snowflake's ::CAST on VARIANT yields NULL for
    # non-coercible values; ANSI-mode cast would raise instead.
    return out.try_cast(cast) if cast else out


def normalize_sku(col: Column | str) -> Column:
    """``LOWER(REPLACE(sku, ' ', '_'))`` (reference
    shopping_events_exploded.sql:22 — C1/C2).

    ``lower`` follows the session's case mapping: the JVM's once
    ``session.ensure_session_confs`` has run (``run_nep_flow`` and
    ``registry.load_table`` call it), ICU otherwise or under a ``tr``,
    ``az`` or ``lt`` default locale. The two differ only on Unicode
    14-16 letters the JVM does not define (``session`` module
    docstring)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.lower(F.replace(col, F.lit(" "), F.lit("_")))


def epoch_ms_to_date(col: Column | str) -> Column:
    """Epoch-ms → DATE in the pinned UTC session timezone (C3; the
    reference used *local* time at ingest, upload_to_snowflake.py:168)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.to_date(F.timestamp_millis(col.cast("long")))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float-array columns, JVM-side:
    ``aggregate(zip_with(a, b, *), 0.0D, +)`` — no Python boundary."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<float/double> columns (K3).

    ``nullif`` guards the zero-vector case: NULL similarity rather than
    an ANSI divide-by-zero error.

    When both inputs are plain column names the whole expression is
    emitted as ONE SQL string (r12): the DSL form costs ~25 py4j round
    trips per call (three higher-order lambdas), ~40 ms of driver build
    each — the single-parse form is the same expression tree, pinned
    value-identical by test_cosine_sql_path_matches_dsl.
    """
    if (
        isinstance(a, str)
        and isinstance(b, str)
        and _IDENT.match(a)
        and _IDENT.match(b)
    ):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
            " (acc, v) -> acc + v)"
            f" / nullif(sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"
            f" * sqrt(aggregate({b}, 0.0D, (acc, v) -> acc + v * v)), 0.0D)"
        )
    return dot_product(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer encoding of a fixed-point double column (×scale).

    Money/metric columns in the test tables are 2-decimal values stored
    as doubles. Summing them as doubles makes the total depend on
    partial-aggregate merge order (task completion order varies run to
    run), so a ``round(sum(x), k)`` whose true total sits exactly on a
    rounding boundary can flip between runs — the NOTES_r5 landmine
    (VERDICT round-3 "What's wrong" item 2). Encoding each value as an
    integer (cents) first makes the SUM exact integer arithmetic:
    order-independent, deterministic across engines, and overflow-safe
    to ~9.2e18 (int64 sum, not the 2^53 double-mantissa bound).

    The per-row ``round(x*100)`` is exact because each stored double is
    the nearest double to a 2dp decimal, so x*100 lands within 1e-9 of
    an integer — never on a .5 boundary. Stays inside whole-stage
    codegen (one multiply + round + cast per row).

    100 TB note: this is the double-typed stand-in for what a real
    deployment does with DECIMAL columns at the source; either way the
    aggregation is exact integer math end to end.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("long")


def sum128(expr: Column) -> Column:
    """int128-exact SUM for PRODUCTS of cents-scaled integers.

    A per-row product of two or three cent factors fits int64 easily
    (price_c·(100−disc_c)·(100+tax_c) ≤ ~1.13e11), but the GROUP sum
    overflows int64 near 8.2e7 rows/group for the triple product
    (8.8e9 for the double product) — reached by a 100 TB lineitem with
    a handful of groups. A long F.sum there kills the job under Spark
    4's ANSI default (runtime ARITHMETIC_OVERFLOW, hours into the run)
    and silently wraps negative with ANSI off, while DuckDB widens
    BIGINT sums to HUGEINT (int128) automatically — so the engines
    diverge (or the job dies) exactly where the cents discipline
    promises determinism. Summing as decimal(38,0) keeps Spark exact to 1e38
    (~1e26 rows/group) at the cost of an int128 accumulator; the
    result converts to double ONCE (deterministic nearest — the same
    conversion DuckDB applies to a HUGEINT in float context), so every
    downstream division/rounding stays bit-identical to the oracle.
    """
    return F.sum(expr.cast("decimal(38,0)")).cast("double")


def exact_avg(col: Column | str, decimals: int = 4, scale: int = 100) -> Column:
    """Order-independent average of a fixed-point double column.

    ``round(avg(x), k)`` over 2dp data is the canonical rounding
    landmine: the true mean is a rational that can land exactly on a
    k-dp boundary, where float merge-order noise flips the rounded
    digit. This form sums exact integer cents (see ``cents``), so the
    quotient — and therefore its rounding — is a deterministic double
    on every engine and every run.

    Oracle twin (DuckDB):
    ``round(sum(CAST(round(x*100) AS BIGINT)) / 100.0 / count(x), k)``
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(cents(c, scale)) / F.lit(float(scale)) / F.count(c), decimals
    )
