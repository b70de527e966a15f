"""The package's Python batch boundary: Arrow list columns to numpy
matrices, and Arrow record batches to rows.

Every embedding operator (ANN top-K, LSH buckets, whitening, k-means,
embedding near-dups, semantic dedup, the batched predict) moves vectors
through this module only. Spark hands Python an ``array<...>`` column
as an Arrow list whose child buffer holds the ``n * dim`` values back
to back: :func:`matrix` reshapes it into an ``(n, dim)`` view with no
per-row objects, :func:`list_array` builds a UDF's list result, and
:func:`collect_matrix` collects a bounded frame (queries, a training
sample, seeds) into numpy through ``toArrow()``.

The vector contract, which every caller inherits:

- zero rows give an empty result with the operator's declared schema;
- a NULL row or NULL element raises
  ``ValueError("NULL embedding or embedding element")`` (a NULL would
  otherwise become NaN and silently corrupt every score it touches);
- a ragged row raises
  ``ValueError("ragged embedding column; expected dim=<dim>")``.

Row-at-a-time Python work (the media codecs, the duplicate-span trim)
goes through :func:`map_rows`, a ``mapInArrow`` iterator that maps the
rows of one Arrow record batch at a time, so a task holds one batch,
never a partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def matrix(
    arr: pa.Array | pa.ChunkedArray, dim: int | None = None, dtype=np.float64
) -> np.ndarray:
    """``(n, dim)`` view of an Arrow list array (a UDF argument, a batch or
    table column, or a struct's list child); ``dim`` defaults to the
    first row's length, and only a ``dtype`` change copies. A view that
    does not copy is read-only: compute ``x = x / ...``, not ``x /= ...``."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = np.asarray(arr.offsets)
    start, stop = int(offs[0]), int(offs[-1])
    values = arr.values.slice(start, stop - start)
    if arr.null_count or values.null_count:
        raise ValueError("NULL embedding or embedding element")
    lens = np.diff(offs)
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    if not np.all(lens == dim):
        raise ValueError(f"ragged embedding column; expected dim={dim}")
    flat = values.to_numpy(zero_copy_only=False)
    return flat.astype(dtype, copy=False).reshape(len(arr), dim)


def list_array(mat: np.ndarray, type: pa.ListType) -> pa.ListArray:
    """Arrow list column of ``type`` with one row per row of ``mat``."""
    n, dim = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
    values = pa.array(np.ascontiguousarray(mat).reshape(-1), type=type.value_type)
    return pa.ListArray.from_arrays(offsets, values, type=type)


def collect_matrix(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, (n, dim) matrix)`` of a bounded frame, collected in the
    frame's order through Arrow."""
    t = df.select(id_col, vec_col).toArrow()
    return t.column(0).to_numpy(), matrix(t.column(1))


def map_rows(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """``fn`` maps each row of ``df`` (a dict) to a list of output rows
    of ``schema``, one Arrow record batch at a time."""
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            rows = [out for row in batch.to_pylist() for out in fn(row)]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)
