"""jsonl_docs custom data source (Spark 4 Python Data Source API):
split planning, line-ownership contract, filter pushdown with
directory pruning, writer commit manifest, and Spark round trips."""

import gzip
import json
import os

import pytest

from post_modern_stack_spark.sources import docsource
from post_modern_stack_spark.sources.docsource import (
    JsonlDocsReader,
    list_shards,
    plan_splits,
    read_split_lines,
)


# ---------- pure-python: split planning + ownership ----------


def _write_lines(path, lines):
    with open(path, "wb") as f:
        for ln in lines:
            f.write(ln + b"\n")


def test_split_lines_cover_file_exactly_once(tmp_path):
    """Every line is owned by exactly one split, for boundary sizes
    that land mid-line, on a newline, and right after one."""
    lines = [b"x" * (i % 37 + 1) for i in range(500)]
    p = str(tmp_path / "corpus.jsonl")
    _write_lines(p, lines)
    size = os.path.getsize(p)
    for split_bytes in [1, 7, 64, 100, size - 1, size, size + 10]:
        splits = plan_splits([(p, size)], split_bytes)
        got = []
        for s in splits:
            got.extend(ln.rstrip(b"\n") for ln in read_split_lines(s))
        assert got == lines, f"split_bytes={split_bytes}"


def test_gz_shards_are_never_split(tmp_path):
    p = str(tmp_path / "corpus.jsonl.gz")
    with gzip.open(p, "wb") as f:
        f.write(b"a\nb\n" * 1000)
    splits = plan_splits(list_shards(p), split_bytes=10)
    assert len(splits) == 1 and splits[0].start == 0


def test_manifest_hides_unlisted_shards(tmp_path):
    root = str(tmp_path)
    _write_lines(os.path.join(root, "good.jsonl"), [b'{"doc_id": 1}'])
    _write_lines(os.path.join(root, "orphan.jsonl"), [b'{"doc_id": 2}'])
    with open(os.path.join(root, docsource.MANIFEST), "w") as f:
        json.dump({"files": [{"name": "good.jsonl", "rows": 1, "bytes": 14}]}, f)
    assert [os.path.basename(p) for p, _ in list_shards(root)] == ["good.jsonl"]


# ---------- reader-level: pushdown prunes directories ----------


def _hive_corpus(tmp_path):
    for src, ids in [("src0", [1, 2]), ("src1", [3]), ("src2", [4, 5, 6])]:
        d = tmp_path / f"source={src}"
        d.mkdir()
        _write_lines(
            str(d / "part-0.jsonl"),
            [
                json.dumps({"doc_id": i, "text": f"t{i}", "source": src}).encode()
                for i in ids
            ],
        )
    return str(tmp_path)


def _reader(root, **opts):
    from pyspark.sql.types import StructType

    schema = (
        StructType()
        .add("doc_id", "long")
        .add("text", "string")
        .add("source", "string")
    )
    return JsonlDocsReader(schema, {"path": root, **opts})


def test_pushed_equality_skips_directories(tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThan

    r = _reader(_hive_corpus(tmp_path))
    rest = list(
        r.pushFilters([EqualTo(("source",), "src2"), GreaterThan(("doc_id",), 4)])
    )
    # numeric comparison is NOT accepted — returned for Spark to apply
    assert len(rest) == 1 and isinstance(rest[0], GreaterThan)
    parts = r.partitions()
    assert [os.path.basename(os.path.dirname(p.path)) for p in parts] == [
        "source=src2"
    ]


def test_pushed_filter_reapplied_when_layout_lies(tmp_path):
    """A row whose source column contradicts its directory must still
    be filtered out — acceptance of a pushed filter is a correctness
    contract, not a layout assumption."""
    from pyspark.sql.datasource import EqualTo

    root = _hive_corpus(tmp_path)
    with open(os.path.join(root, "source=src0", "part-0.jsonl"), "ab") as f:
        f.write(json.dumps({"doc_id": 9, "text": "liar", "source": "srcX"}).encode())
        f.write(b"\n")
    r = _reader(root)
    assert list(r.pushFilters([EqualTo(("source",), "src0")])) == []
    rows = [
        row
        for p in r.partitions()
        for batch in r.read(p)
        for row in batch.to_pylist()
    ]
    assert sorted(row["doc_id"] for row in rows) == [1, 2]


def test_junk_lines_and_missing_keys_are_permissive(tmp_path):
    p = str(tmp_path / "messy.jsonl")
    _write_lines(
        p,
        [
            b'{"doc_id": 1, "text": "ok", "source": "s"}',
            b"not json at all",
            b"[1,2,3]",
            b'{"text": "no id"}',
            b'{"doc_id": "12", "text": 7, "source": null}',
        ],
    )
    r = _reader(p)
    rows = [
        row
        for part in r.partitions()
        for batch in r.read(part)
        for row in batch.to_pylist()
    ]
    assert len(rows) == 3
    by_id = {row["doc_id"]: row for row in rows}
    assert by_id[12]["text"] == "7"  # string coercion of a scalar
    assert by_id[None]["text"] == "no id"


# ---------- through Spark: round trip, pushdown, split scan ----------


def test_spark_roundtrip_against_parquet(spark, tmp_path):  # noqa: F811
    docsource.register(spark)
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "corpus")
    docs.write.format("jsonl_docs").option("path", out).mode("overwrite").save()
    manifest = json.load(open(os.path.join(out, docsource.MANIFEST)))
    assert manifest["total_rows"] == docs.count()
    back = (
        spark.read.format("jsonl_docs")
        .schema(docs.schema)
        .option("path", out)
        .load()
    )
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_spark_filter_pushdown_matches_unfiltered(spark, tmp_path):  # noqa: F811
    docsource.register(spark)
    root = _hive_corpus(tmp_path)
    df = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long, text string, source string")
        .option("path", root)
        .load()
    )
    got = {r["doc_id"] for r in df.filter("source = 'src2' AND doc_id > 4").collect()}
    assert got == {5, 6}
    # CAVEAT (Spark 4.1 Python DS bridge): although every planning pass
    # constructs a fresh reader (data_source_pushdown_filters.py), the
    # relation caches the most recently planned scan — so an UNFILTERED
    # action on the same DataFrame after a filtered one would reuse the
    # pruned scan. Re-load for a differently-filtered query.
    fresh = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long, text string, source string")
        .option("path", root)
        .load()
    )
    assert fresh.count() == 6


def test_spark_reads_byte_range_splits(spark, tmp_path):  # noqa: F811
    docsource.register(spark)
    p = str(tmp_path / "big.jsonl")
    _write_lines(
        p,
        [json.dumps({"doc_id": i, "text": "w" * (i % 23)}).encode() for i in range(3000)],
    )
    # tiny split size → many partitions over ONE file
    assert len(plan_splits(list_shards(p), 1000)) > 50
    df = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long, text string")
        .option("path", p)
        .option("split_bytes", 1000)
        .load()
    )
    assert df.count() == 3000
    assert df.agg({"doc_id": "sum"}).collect()[0][0] == 3000 * 2999 // 2


def test_spark_append_then_overwrite(spark, tmp_path):  # noqa: F811
    docsource.register(spark)
    out = str(tmp_path / "gen")
    one = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    two = spark.createDataFrame([(2, "b")], "doc_id long, text string")
    one.write.format("jsonl_docs").option("path", out).mode("overwrite").save()
    two.write.format("jsonl_docs").option("path", out).mode("append").save()
    df = spark.read.format("jsonl_docs").schema("doc_id long, text string").option(
        "path", out
    )
    assert {r["doc_id"] for r in df.load().collect()} == {1, 2}
    # overwrite replaces the manifest; the earlier shards become invisible
    two.write.format("jsonl_docs").option("path", out).mode("overwrite").save()
    assert {r["doc_id"] for r in df.load().collect()} == {2}


def test_empty_corpus_reads_zero_rows(spark, tmp_path):  # noqa: F811
    docsource.register(spark)
    (tmp_path / "empty").mkdir()
    df = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long")
        .option("path", str(tmp_path / "empty"))
        .load()
    )
    assert df.count() == 0


def test_stream_tails_manifest_appends(spark, tmp_path):  # noqa: F811
    """readStream over the corpus: the first availableNow pass delivers
    generation 1; after an append-mode write, the next pass on the SAME
    checkpoint delivers only the new shard's rows. Offsets are manifest
    prefix lengths — re-serving would surface as duplicate doc_ids in
    the (append-only) sink."""
    docsource.register(spark)
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    gen1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    gen2 = spark.createDataFrame([(3, "c")], "doc_id long, text string")
    gen1.write.format("jsonl_docs").option("path", out).mode("overwrite").save()

    def drain():
        q = (
            spark.readStream.format("jsonl_docs")
            .schema("doc_id long, text string")
            .option("path", out)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())

    assert drain() == [1, 2]
    gen2.write.format("jsonl_docs").option("path", out).mode("append").save()
    # same checkpoint: only the appended shard is served, nothing twice
    assert drain() == [1, 2, 3]
