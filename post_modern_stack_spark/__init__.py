"""post_modern_stack_spark — a PySpark-native analytics engine.

Re-expresses, Spark-first, the query and data-processing capabilities of
``jacopotagliabue/post-modern-stack`` (an ELT + ML pipeline that delegates
all relational compute to Snowflake via dbt-templated SQL), plus the
LLM-data-pipeline extension operators (dedup, similarity search, text
analysis, multimodal columns) needed at 100 TB scale.

Design principles (SURVEY.md §7):
- DataFrame/SQL API only; Catalyst + Tungsten pick the physical plan.
- No row-at-a-time Python UDFs in hot paths; batch Python crosses the
  boundary through Arrow only (``arrow_udf``, ``mapInArrow``,
  ``applyInArrow``), and only where built-ins genuinely can't express
  the semantics.
- Every operator ships with a DuckDB-oracle-checkable query where
  SQL-expressible (driver contract in ``__spark_entry__.py``).
"""

from post_modern_stack_spark.session import get_spark
from post_modern_stack_spark.registry import TABLES, load_table, register_views

__all__ = ["get_spark", "TABLES", "load_table", "register_views"]

__version__ = "0.1.0"
