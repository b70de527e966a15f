"""The vector boundary (operators/vectors.py): the one place that turns
Arrow list columns into numpy matrices, its contract (empty, NULL and
ragged input), the Arrow-only rule for batch Python, and the
embedding queries over an empty catalog."""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from post_modern_stack_spark.operators import dedup, similarity, vectors
from post_modern_stack_spark.registry import TABLES, table_path
from tests.oracle import compare, duckdb_con

EMPTY_CATALOG_QUERIES = [
    "embedding_near_dups",
    "embedding_whiten",
    "semantic_dedup",
    "semantic_dedup_sharded",
    "semantic_dedup_auto",
    "semantic_dedup_kmeans",
    "ivf_top_k",
    "pq_top_k",
    "kmeans_assign",
    "lsh_top_k",
    "top_k_cosine",
    "knn_label_vote",
    "predict_hit_rate",
    "user_purge_audit",
    # SQL's grand-total row, which Spark's Expand drops on empty input
    "revenue_rollup",
    "status_priority_cube",
    "status_priority_sets",
    "priority_grouping_sets",
    # one medium per document, so no rows without documents
    "media_real_features",
    "media_thumbnails",
    "media_png_pipeline",
    "media_g711_audio",
    "media_video_frames",
    "media_jpeg_pipeline",
    "media_container_info",
    # n_nulls is a SUM: NULL on an empty table, as in SQL
    "table_profile",
]


def test_matrix_views_the_list_child_buffer():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], pa.list_(pa.float64()))
    mat = vectors.matrix(arr.slice(1))
    assert mat.tolist() == [[3.0, 4.0], [5.0, 6.0]]
    assert np.shares_memory(mat, np.asarray(arr.values))
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(2)])
    assert vectors.matrix(chunked).tolist() == [[1.0, 2.0], [5.0, 6.0]]
    assert vectors.matrix(arr.slice(0, 0)).shape == (0, 0)
    assert vectors.matrix(arr.slice(0, 0), 4).shape == (0, 4)
    back = vectors.list_array(mat, pa.list_(pa.float32()))
    assert back.type == pa.list_(pa.float32())
    assert back.to_pylist() == [[3.0, 4.0], [5.0, 6.0]]


def test_pq_trains_on_a_double_corpus(spark, sf_dir):
    """A float64 corpus reaches the codebook trainer as a read-only
    zero-copy view; training must not write into it, and the answer
    equals the float32 corpus it was cast from."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))

    def top(corpus):
        queries = corpus.filter(F.col("vec_id") < 10)
        out = similarity.pq_top_k(corpus, queries, k=3, m=8, n_codes=16, refine_factor=3)
        return sorted(tuple(r) for r in out.collect())

    assert top(dbl) == top(emb)


def test_sharded_dedup_takes_string_ids(spark):
    """Sharded SemDeDup compares ids of any orderable type, like the
    plain operator it must match."""
    rng = np.random.RandomState(5)
    rows = [(f"d{i:03d}", i % 2, [float(x) for x in rng.randn(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id string, label int, embedding array<double>")
    plain = sorted(tuple(r) for r in dedup.semantic_dedup(df).collect())
    sharded = dedup.semantic_dedup_sharded(df, shard_rows=16).collect()
    assert sorted(tuple(r) for r in sharded) == plain


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory, sf_dir):
    """Every table with its fixture schema and 0 rows."""
    out = tmp_path_factory.mktemp("empty_catalog")
    for t in TABLES:
        schema = pq.read_schema(table_path(sf_dir, t))
        pq.write_table(schema.empty_table(), table_path(str(out), t))
    return str(out)


@pytest.mark.parametrize("name", EMPTY_CATALOG_QUERIES)
def test_vector_queries_on_empty_catalog(spark, sf_dir, empty_dir, name):
    """Zero rows give the oracle's answer, or 0 rows with the schema
    the query declares on data."""
    df = entry_mod.queries()[name](spark, empty_dir)
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert df.count() == 0
        assert df.schema == entry_mod.queries()[name](spark, sf_dir).schema
        return
    con = duckdb_con(empty_dir)
    try:
        compare(df, con, oracle)
    finally:
        con.close()


BAD_ROWS = {
    "null_row": (None, "NULL embedding or embedding element"),
    "null_element": ([1.0, None], "NULL embedding or embedding element"),
    "ragged_row": ([1.0], "ragged embedding column; expected dim="),
}

# one operator per kind of boundary crossing
BOUNDARIES = {
    "arrow_udf": lambda df: similarity.quantized_assign(df, k=2, dim=2).collect(),
    "mapInArrow": lambda df: similarity.whiten_embeddings(df).collect(),
    "applyInArrow": lambda df: dedup.semantic_dedup(df).collect(),
    "collect_matrix": lambda df: dedup.embedding_near_dups(df, candidates="exact"),
}


@pytest.mark.parametrize("boundary", sorted(BOUNDARIES))
@pytest.mark.parametrize("bad", sorted(BAD_ROWS))
def test_vector_contract_names_the_bad_row(spark, boundary, bad):
    vec, message = BAD_ROWS[bad]
    rows = [(1, 0, [1.0, 0.0]), (2, 0, [0.6, 0.8]), (3, 0, vec), (4, 0, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    with pytest.raises(Exception, match=re.escape(message)):
        BOUNDARIES[boundary](df)


def test_only_vectors_module_converts_vectors():
    """Arrow list ↔ numpy conversion lives in operators/vectors.py."""
    pkg = pathlib.Path(vectors.__file__).resolve().parents[1]
    anywhere = re.compile(r"np\.vstack\(|\.offsets\b|np\.array\(list\(")
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "vectors.py" and anywhere.search(p.read_text())
    ]
    assert offenders == []


def test_batch_python_crosses_through_arrow_only():
    """Batch data reaches Python only through Arrow: no module of the
    package, nor ``bench.py``, imports pandas or calls a pandas UDF
    API. ``streaming/`` is out of scope: its stateful sessionizer runs
    ``applyInPandasWithState``, which has no Arrow twin."""
    root = pathlib.Path(vectors.__file__).resolve().parents[2]
    pkg = root / "post_modern_stack_spark"
    files = [p for p in sorted(pkg.rglob("*.py")) if "streaming" not in p.parts]
    pandas_api = re.compile(r"\b(pandas_udf|mapInPandas|applyInPandas)\b")
    offenders = []
    for p in files + [root / "bench.py"]:
        src, rel = p.read_text(), p.relative_to(root)
        for node in ast.walk(ast.parse(src, str(p))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            if any(m.split(".")[0] == "pandas" for m in mods):
                offenders.append(f"{rel}:{node.lineno} imports pandas")
        for lineno, line in enumerate(src.splitlines(), 1):
            offenders += [f"{rel}:{lineno} {m}" for m in pandas_api.findall(line)]
    assert offenders == []
