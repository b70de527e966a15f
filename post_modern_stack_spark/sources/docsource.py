"""JSONL document-corpus connector — a Spark 4 Python Data Source.

The reference stack's only ingest path is a warehouse bulk load
(reference ``src/my_dbt_flow.py`` dump/load steps, H3 in SURVEY §2);
this engine additionally speaks the de-facto LLM-corpus interchange
format natively: line-delimited JSON, one document per line, sharded
across ``part-*.jsonl[.gz]`` files — what every public corpus drop
(C4, RedPajama, Dolma, FineWeb) ships as. Built entirely on the
public ``pyspark.sql.datasource`` API (Spark 4): typed filter
pushdown, Arrow-batch reads, and a committing Arrow writer.

Why a custom source instead of ``spark.read.json``: the built-in JSON
reader plans one task per *file* for gz shards and has no notion of a
corpus manifest. This source adds the three things a 100 TB corpus
layout needs:

- **Byte-range splitting** of uncompressed shards (the Hadoop
  LineRecordReader contract: a line belongs to the split containing
  its first byte; a reader whose range starts mid-line skips forward,
  and reads past its end to finish the last line it owns). A single
  500 GB ``.jsonl`` therefore fans out to ~4000 tasks instead of one.
  ``.gz`` shards are not splittable (DEFLATE has no sync points) and
  plan one partition each — corpus publishers shard them small for
  exactly this reason.
- **Source-directory pruning via pushed filters**: hive-style
  ``source=<v>/`` layouts skip whole directories on ``source = 'x'``
  / ``source IN (...)`` predicates before any byte is read (the
  partition-pruning analog). The pushed predicate is ALSO re-applied
  row-level in the reader, so acceptance never trusts the layout.
- **A commit manifest**: each write commits ``_MANIFEST.json`` (file,
  rows, bytes per shard) exactly once, after every task succeeded —
  readers plan from the manifest when present, so shards from an
  aborted earlier write are never picked up (a one-generation
  transaction log).

Bridge caveat (Spark 4.1): the JVM relation caches the most recently
planned scan, so running a *differently*-filtered action against the
same loaded DataFrame reuses the previous plan's pruning — call
``.load()`` per distinctly-filtered query (pinned by
``tests/test_docsource.py::test_spark_filter_pushdown_matches_unfiltered``).

Schema: declared by the caller (``.schema(...)``) or the documents
default. Supported leaf types: long, double, string, boolean —
anything richer belongs in parquet, not JSONL. Missing keys → null.
Column pruning is not part of the Spark 4 Python DS API (filters
only); the reader parses whole lines regardless, which is inherent to
the format.
"""

from __future__ import annotations

import dataclasses
import glob as globlib
import gzip
import io
import json
import os
import uuid
from typing import TYPE_CHECKING, Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

MANIFEST = "_MANIFEST.json"
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024
BATCH_LINES = 4096

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_ARROW_TYPES = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.DoubleType(): "float64",
    T.StringType(): "string",
    T.BooleanType(): "bool",
}


def _arrow_schema(schema: T.StructType) -> "pa.Schema":
    import pyarrow as pa

    fields = []
    for f in schema.fields:
        if f.dataType not in _ARROW_TYPES:
            raise TypeError(
                f"jsonl_docs supports long/int/double/string/boolean leaves; "
                f"field {f.name!r} is {f.dataType.simpleString()} — use parquet"
            )
        fields.append(pa.field(f.name, _ARROW_TYPES[f.dataType]))
    return pa.schema(fields)


@dataclasses.dataclass
class JsonlSplit(InputPartition):
    """One byte range of one shard. ``length`` covers [start, start+length);
    gz shards always carry the whole file (start=0, length=file size)."""

    path: str
    start: int
    length: int


def list_shards(root: str) -> list[tuple[str, int]]:
    """(path, size) for every data shard under ``root`` — from the
    commit manifest when one exists (so aborted-write orphans are
    invisible), else a recursive listing. ``root`` may also be a
    single file or a glob."""
    if os.path.isfile(root):
        return [(root, os.path.getsize(root))]
    manifest = os.path.join(root, MANIFEST)
    if os.path.isfile(manifest):
        with open(manifest) as f:
            files = json.load(f)["files"]
        return [(os.path.join(root, e["name"]), e["bytes"]) for e in files]
    if os.path.isdir(root):
        pattern = os.path.join(root, "**", "*.jsonl*")
    else:
        pattern = root  # caller-supplied glob
    out = []
    for p in sorted(globlib.glob(pattern, recursive=True)):
        if os.path.isfile(p) and not os.path.basename(p).startswith("_"):
            out.append((p, os.path.getsize(p)))
    return out


def plan_splits(
    shards: Sequence[tuple[str, int]], split_bytes: int = DEFAULT_SPLIT_BYTES
) -> list[JsonlSplit]:
    """Pure planning step (unit-testable without Spark): gz shards are
    one split each; plain shards split into ceil(size/split_bytes)
    ranges. Range boundaries land mid-line by construction — the
    reader's skip/overrun contract resolves ownership."""
    splits: list[JsonlSplit] = []
    for path, size in shards:
        if path.endswith(".gz") or size <= split_bytes:
            splits.append(JsonlSplit(path, 0, size))
            continue
        start = 0
        while start < size:
            splits.append(JsonlSplit(path, start, min(split_bytes, size - start)))
            start += split_bytes
    return splits


def read_split_lines(split: JsonlSplit) -> Iterator[bytes]:
    """Yield exactly the lines owned by this split.

    Ownership contract (Hadoop LineRecordReader): a line belongs to
    the split containing its FIRST byte. A reader starting at
    ``start > 0`` seeks to ``start - 1`` and consumes one readline —
    if byte start-1 is a newline this consumes just it and the line
    beginning at ``start`` is ours; otherwise the partial line belongs
    to the previous split (which reads past its own end to finish it).
    """
    if split.path.endswith(".gz"):
        with gzip.open(split.path, "rb") as f:
            yield from f
        return
    end = split.start + split.length
    with open(split.path, "rb") as f:
        if split.start > 0:
            f.seek(split.start - 1)
            f.readline()
        pos = f.tell()
        while pos < end:
            line = f.readline()
            if not line:
                break
            yield line
            pos = f.tell()


def _coerce(value, dtype):
    """JSON value → declared leaf type; bad shapes become null rather
    than killing the task (corpus files in the wild carry junk lines —
    same posture as the permissive media decode mode)."""
    if value is None:
        return None
    try:
        if isinstance(dtype, (T.LongType, T.IntegerType)):
            return int(value)
        if isinstance(dtype, T.DoubleType):
            return float(value)
        if isinstance(dtype, T.BooleanType):
            return bool(value)
        return value if isinstance(value, str) else json.dumps(value)
    except (TypeError, ValueError):
        return None


class JsonlDocsReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.root = options.get("path")
        if not self.root:
            raise ValueError("jsonl_docs requires a path")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))
        # column -> allowed-values set, from accepted pushed filters
        self._pruned: dict[str, set] = {}

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Accept equality/IN on top-level string columns; everything
        else is returned for Spark to evaluate. Accepted filters drive
        hive-style directory skipping in partitions() AND are
        re-applied per row in read() — correctness never depends on
        the directory layout matching the data."""
        for f in filters:
            if (
                isinstance(f, (EqualTo, In))
                and len(f.attribute) == 1
                and f.attribute[0] in self.schema.fieldNames()
                and isinstance(self.schema[f.attribute[0]].dataType, T.StringType)
            ):
                col = f.attribute[0]
                vals = {f.value} if isinstance(f, EqualTo) else set(f.value)
                if col in self._pruned:
                    self._pruned[col] &= vals
                else:
                    self._pruned[col] = vals
            else:
                yield f

    def _dir_match(self, path: str) -> bool:
        """Skip a shard when a ``col=value`` path segment contradicts an
        accepted filter. Segments that don't mention a filtered column
        keep the shard (flat layouts prune nothing, row filter still
        applies)."""
        for seg in path.split(os.sep):
            if "=" in seg:
                col, _, val = seg.partition("=")
                if col in self._pruned and val not in self._pruned[col]:
                    return False
        return True

    def partitions(self) -> Sequence[JsonlSplit]:
        shards = [s for s in list_shards(self.root) if self._dir_match(s[0])]
        splits = plan_splits(shards, self.split_bytes)
        # an empty corpus still needs one (empty) partition: Spark
        # requires at least one input partition per scan
        return splits or [JsonlSplit("", 0, 0)]

    def read(self, partition: JsonlSplit) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        if not partition.path:
            return
        aschema = _arrow_schema(self.schema)
        fields = [(f.name, f.dataType) for f in self.schema.fields]
        rows: list[dict] = []
        for line in read_split_lines(partition):
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue  # junk line — permissive, like on_error="null"
            if not isinstance(obj, dict):
                continue
            row = {n: _coerce(obj.get(n), t) for n, t in fields}
            if any(
                row.get(c) not in allowed for c, allowed in self._pruned.items()
            ):
                continue
            rows.append(row)
            if len(rows) >= BATCH_LINES:
                yield pa.RecordBatch.from_pylist(rows, schema=aschema)
                rows = []
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=aschema)


@dataclasses.dataclass
class _ShardCommit(WriterCommitMessage):
    name: str
    rows: int
    bytes: int


class JsonlDocsWriter(DataSourceArrowWriter):
    """One ``part-<uuid>.jsonl[.gz]`` shard per task, unique names so
    concurrent/retried tasks never collide; the commit manifest lists
    only shards whose task SUCCEEDED, so readers (which plan from the
    manifest) never see output of failed or speculative tasks. abort()
    removes the manifest so a failed write leaves no readable corpus."""

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("jsonl_docs requires a path")
        self.compress = options.get("compression", "gzip") != "none"
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> _ShardCommit:
        os.makedirs(self.root, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl" + (".gz" if self.compress else "")
        full = os.path.join(self.root, name)
        n = 0
        raw = open(full, "wb")
        f = gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) if self.compress else raw
        try:
            with io.TextIOWrapper(f, encoding="utf-8") as txt:
                for batch in iterator:
                    for row in batch.to_pylist():
                        txt.write(json.dumps(row, sort_keys=True))
                        txt.write("\n")
                        n += 1
        finally:
            if not raw.closed:
                raw.close()
        return _ShardCommit(name=name, rows=n, bytes=os.path.getsize(full))

    def commit(self, messages: List[_ShardCommit]) -> None:
        files = [
            {"name": m.name, "rows": m.rows, "bytes": m.bytes} for m in messages
        ]
        if not self.overwrite:
            # append mode: the new manifest generation must keep the
            # previous generation's shards visible
            prev = os.path.join(self.root, MANIFEST)
            if os.path.isfile(prev):
                with open(prev) as f:
                    files = json.load(f)["files"] + files
        manifest = {
            "files": files,
            "total_rows": sum(e["rows"] for e in files),
        }
        tmp = os.path.join(self.root, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, MANIFEST))

    def abort(self, messages: List[_ShardCommit]) -> None:
        try:
            os.remove(os.path.join(self.root, MANIFEST))
        except OSError:
            pass


class JsonlDocsStreamReader(DataSourceStreamReader):
    """Micro-batch source that TAILS the commit manifest: each batch is
    the run of manifest entries appended since the last offset, fanned
    out through the same split planner as the batch reader (so one
    giant appended shard still parallelizes). Offsets are a single
    monotone integer — the manifest prefix length — which makes replay
    after failure exactly the re-read of a manifest slice
    (``partitions(start, end)`` is deterministic given the manifest),
    the J1 exactly-once story at file granularity.

    Contract: the corpus must be written APPEND-mode by JsonlDocsWriter
    (manifest generations only ever grow). A mode("overwrite") rewrites
    history; the reader detects the truncated manifest and fails loudly
    instead of silently re-serving renumbered files.
    """

    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.root = options.get("path")
        if not self.root:
            raise ValueError("jsonl_docs requires a path")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))

    def _files(self) -> list[dict]:
        manifest = os.path.join(self.root, MANIFEST)
        if not os.path.isfile(manifest):
            return []
        with open(manifest) as f:
            return json.load(f)["files"]

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": len(self._files())}

    def partitions(self, start: dict, end: dict) -> Sequence[JsonlSplit]:
        files = self._files()
        if len(files) < end["n"]:
            raise RuntimeError(
                f"jsonl_docs stream: manifest at {self.root} has "
                f"{len(files)} entries but offset {end['n']} was already "
                "committed — the corpus was overwritten mid-stream; "
                "streaming requires append-only writes"
            )
        shards = [
            (os.path.join(self.root, e["name"]), e["bytes"])
            for e in files[start["n"] : end["n"]]
        ]
        return plan_splits(shards, self.split_bytes) or [JsonlSplit("", 0, 0)]

    def read(self, partition: JsonlSplit) -> Iterator[tuple]:
        if not partition.path:
            return
        fields = [(f.name, f.dataType) for f in self.schema.fields]
        for line in read_split_lines(partition):
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if not isinstance(obj, dict):
                continue
            yield tuple(_coerce(obj.get(n), t) for n, t in fields)

    def commit(self, end: dict) -> None:
        pass


class JsonlDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_docs"

    def schema(self) -> T.StructType:
        return DOCUMENTS_SCHEMA

    def reader(self, schema: T.StructType) -> JsonlDocsReader:
        return JsonlDocsReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> JsonlDocsWriter:
        return JsonlDocsWriter(schema, dict(self.options), overwrite)

    def streamReader(self, schema: T.StructType) -> JsonlDocsStreamReader:
        return JsonlDocsStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotent ``spark.dataSource.register`` so callers can
    ``spark.read.format("jsonl_docs")``. Also enables the Python
    filter-pushdown bridge (off by default in Spark 4.1; a reader
    that implements pushFilters() errors without it)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(JsonlDocsDataSource)
