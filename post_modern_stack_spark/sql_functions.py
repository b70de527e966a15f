"""SQL-surface table functions (SURVEY.md §4: engine functions callable
from ``spark.sql``): Python UDTFs for the FROM/LATERAL position. The
scalar engine idioms stay DataFrame functions in ``functions/core.py``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def register_udtfs(spark: SparkSession) -> list[str]:
    """Install Python UDTFs (Spark 4 table-valued functions, callable
    from SQL FROM/LATERAL position).

    ``char_ngrams(text, n)`` emits one row per character n-gram — the
    table-function shape of the shingling step the dedup family uses.
    NOTE the cost model: a Python UDTF is a per-row Python boundary;
    it exists here to cover the SQL-surface API (the reference's dbt
    models consume table-valued SQL), while the scale path for
    shingling stays the builtin explode/transform pipeline in
    operators/dedup.py (JVM-side, codegen). Arrow batching is enabled
    for the transfer (spark.sql.execution.pythonUDTF.arrow.enabled).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, gram: string")
    class CharNgrams:
        def eval(self, text: str, n: int):  # noqa: D401 - UDTF contract
            if text is None or n is None or n <= 0:
                return
            for i in range(max(len(text) - n + 1, 0)):
                yield i, text[i : i + n]

    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import StringType, StructType

    class SplitFields:
        """POLYMORPHIC UDTF (Spark 4 ``analyze()``): output schema is
        computed at PLAN TIME from the constant field-list argument —
        ``split_fields(line, 'a,b,c')`` yields columns (a, b, c). The
        dynamic-schema table function every CSV-ish SQL surface needs;
        schema resolution happens once in the optimizer, not per row.
        """

        @staticmethod
        def analyze(line: AnalyzeArgument, fields: AnalyzeArgument) -> AnalyzeResult:
            if fields.value is None:
                raise ValueError("split_fields: field list must be a constant")
            schema = StructType()
            for name in str(fields.value).split(","):
                schema = schema.add(name.strip(), StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, line: str, fields: str):
            names = str(fields).split(",")
            parts = (line or "").split(",")
            parts += [None] * (len(names) - len(parts))
            yield tuple(parts[: len(names)])

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("char_ngrams", CharNgrams)
    from pyspark.sql.functions import udtf as _udtf

    spark.udtf.register("split_fields", _udtf(SplitFields))
    return ["char_ngrams", "split_fields"]
