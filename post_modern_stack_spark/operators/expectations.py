"""Row-level data contracts with quarantine routing.

The table-level dbt tests (reference
src/dbt/models/metaflow/schema.yml:9-13: ``unique`` + ``not_null``)
run as one aggregation in ``metrics.data_quality_checks``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_and_split(df: DataFrame, rules: "dict[str, F.Column]"):
    """Contract enforcement with quarantine routing: every row is
    tested against each named boolean rule IN ONE PROJECTION; rows
    passing all rules flow on, failures land in a quarantine frame
    carrying the list of violated rule names (the debugging handle) —
    the route-aside pattern that keeps a 100 TB ingest running while
    bad rows accumulate for triage instead of failing the job.

    Row-local rules only (null/range/set/regex): shuffle-free, one
    scan evaluated twice by two filters (or once if the caller caches).
    Cross-row rules (uniqueness) run as one aggregate in
    ``metrics.data_quality_checks``.

    Returns (valid_df, quarantine_df): quarantine has the original
    columns plus ``violations array<string>``.
    """
    viol = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
                for name, cond in rules.items()
            ]
        )
    )
    tagged = df.withColumn("violations", viol)
    valid = tagged.filter(F.size("violations") == 0).drop("violations")
    quarantine = tagged.filter(F.size("violations") > 0)
    return valid, quarantine
