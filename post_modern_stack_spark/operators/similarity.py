"""Similarity search over embedding columns (SURVEY.md §2 K3).

- ``brute_force_top_k``: exact cosine top-K — the correctness baseline.
  Query side is broadcast; corpus side never shuffles; per-partition
  top-K via window (Catalyst WindowGroupLimit pushes the limit down).
- ``rp_lsh_top_k``, ``ivf_top_k``, ``pq_top_k``: the approximate scale
  paths (hyperplane buckets, coarse-quantizer cells, product codes).
- ``whiten_embeddings``, ``quantized_assign``, ``kmeans_lloyd``: the
  embedding post-processing and clustering steps.

Candidate scoring stays JVM-side (``aggregate(zip_with(...))``,
functions.core.dot_product). The batched matrix math — buckets, cells,
codes, moments, Lloyd rounds — runs in ``arrow_udf`` / ``mapInArrow``
Python over ``vectors.matrix`` views, so every operator here follows
the one vector contract stated in operators/vectors.py.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from post_modern_stack_spark.functions import cosine_similarity
from post_modern_stack_spark.operators import vectors
from post_modern_stack_spark.operators.shaping import top_k_per_group

_INT_LIST = pa.list_(pa.int32())


def as_double_array(col: str | F.Column) -> F.Column:
    """array<float> → array<double> so similarity math matches the
    oracle's double-precision accumulation bit-for-bit-ish. A direct
    array cast (r12) — one py4j call and one Cast node — instead of the
    old ``transform(col, x -> cast(x as double))`` lambda (~8 ms of
    driver build per call site); element-wise widening semantics are
    identical."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-K: broadcast(queries) × corpus → window top-K.

    Output: (query_id, neighbor_id, cos_sim) — (score desc, neighbor_id)
    deterministic ranking, self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qv", "cv"), 6).alias("cos_sim"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def brute_force_top_k_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-K, Arrow-native scale path for ``brute_force_top_k``.

    Same contract and IDENTICAL output (parity-tested): (query_id,
    neighbor_id, cos_sim, rank), cos_sim rounded to 6dp, ranking by
    (rounded score desc, neighbor_id asc), self-matches excluded. The
    difference is the physical strategy: the expression-tree form
    materializes |corpus| x |queries| joined ROWS through codegen (at
    1M x 32 that is 32M rows of array arithmetic); this form ships the
    bounded query matrix to each task in the closure (the ANN contract:
    queries are the small side — same class as the LSH query-side
    collect) and runs ONE BLAS GEMM per Arrow record batch via
    ``mapInArrow`` — vectors are reshaped zero-copy from the Arrow list
    buffer, never converted to pandas objects. Each partition emits
    only its local top-k per query, pre-ranked by the SAME total order
    (rounded sim desc, id asc) — per-partition prefix selection under a
    total order composes exactly, so the final window top-K over
    n_partitions x |queries| x k rows reproduces the global answer
    bit-for-bit. Rounding happens in numpy with round-half-away (the
    F.round/DuckDB convention) BEFORE selection so rounded-tie
    candidates survive partition-local cuts.

    Measured (BASELINE.md round-8): 1M x 64-dim corpus, 32 queries,
    k=5 — expression path 226 s, this path 9.8 s (23x): the join
    row-explosion disappears into (batch x dim) @ (dim x nq) matmuls.
    """
    qids, qmat = vectors.collect_matrix(queries, id_col, vec_col)
    if not len(qids):
        empty = "query_id long, neighbor_id long, cos_sim double, rank int"
        return corpus.sparkSession.createDataFrame([], empty)
    qids = qids.astype(np.int64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    dim = qmat.shape[1]
    scale = 1_000_000.0

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
    )

    def local_top_k(batches):
        # per-query candidate pools, merged across this partition's batches
        cand_ids = [[] for _ in range(len(qids))]
        cand_sims = [[] for _ in range(len(qids))]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nid = batch.column("neighbor_id").to_numpy(zero_copy_only=False)
            mat = vectors.matrix(batch.column("cv"), dim)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat @ qmat.T) / np.outer(norms, qnorm)  # (n, nq)
            # round-half-away to 6dp BEFORE any selection (ranking key)
            sims = np.sign(sims) * np.floor(np.abs(sims) * scale + 0.5) / scale
            sims[nid[:, None] == qids[None, :]] = -np.inf  # self-match
            take = min(k, n)
            # per-query batch-local top-take by (sim desc, id asc)
            for j in range(len(qids)):
                order = np.lexsort((nid, -sims[:, j]))[:take]
                cand_ids[j].append(nid[order])
                cand_sims[j].append(sims[:, j][order])
        out_q, out_n, out_s = [], [], []
        for j in range(len(qids)):
            if not cand_ids[j]:
                continue
            ids = np.concatenate(cand_ids[j])
            sims = np.concatenate(cand_sims[j])
            keep = sims > -np.inf
            ids, sims = ids[keep], sims[keep]
            order = np.lexsort((ids, -sims))[:k]
            out_q.append(np.full(len(order), qids[j]))
            out_n.append(ids[order])
            out_s.append(sims[order])
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_n), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cos_sim"],
            )

    partials = c.mapInArrow(
        local_top_k, "query_id long, neighbor_id long, cos_sim double"
    )
    return top_k_per_group(
        partials,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (literal constants —
    the plan embeds them; no data dependency, no driver collect)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _round_half_away(x):
    """round-half-away-from-zero, matching Spark ``F.round`` and DuckDB
    ``round`` (numpy's own ``round`` is half-to-even and would diverge
    at exact .5 quantization boundaries)."""
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def quantized_planes(
    dim: int, bits: int, n_tables: int, seed: int = 42, scale: int = 1000
) -> list[list[list[int]]]:
    """Integer-quantized hyperplanes, shape [n_tables][bits][dim].

    Quantizing both the planes and the vectors to ``round(x*scale)``
    integers makes the bucket dot products EXACT integer arithmetic —
    order-independent and bit-identical across engines (numpy int64
    matmul vs DuckDB double sums of integer-valued terms, both exact
    below 2^53) — so a fixed-seed LSH run gets a replayable DuckDB
    oracle (VERDICT round-1 item 3)."""
    return [
        [
            [int(_round_half_away(w * scale)) for w in plane]
            for plane in _hyperplanes(dim, bits, seed + 1000 * t)
        ]
        for t in range(n_tables)
    ]


def _all_table_buckets_udf(
    dim: int,
    bits: int,
    n_tables: int,
    seed: int = 42,
    quantize_scale: int | None = None,
):
    """Arrow-vectorized bucket computation for every LSH table at once:
    one (batch × dim) @ (dim × bits·tables) matmul per record batch.

    An Arrow UDF, because the expression-tree equivalent (one
    sign-of-projection ``F.aggregate`` per plane × tables) re-walks the vector array bits×tables times per
    row and measured ~4× slower at sf0.1. Table t's hyperplanes are
    :func:`_hyperplanes` seeded ``seed + 1000·t``.

    With ``quantize_scale`` set, vectors and planes are quantized to
    ``round(x*scale)`` int64 and the matmul is exact integer math —
    deterministic across engines (see :func:`quantized_planes`).
    """
    if quantize_scale is not None:
        planes = np.array(
            [
                row
                for t in quantized_planes(dim, bits, n_tables, seed, quantize_scale)
                for row in t
            ],
            dtype=np.int64,
        ).T  # (dim, bits*n_tables)
    else:
        planes = np.array(
            [
                row
                for t in range(n_tables)
                for row in _hyperplanes(dim, bits, seed + 1000 * t)
            ]
        ).T  # (dim, bits*n_tables)
    weights = np.tile(1 << np.arange(bits), n_tables)  # per-bit bucket weights

    @arrow_udf("array<int>")
    def buckets(emb: pa.Array) -> pa.Array:
        mat = vectors.matrix(emb, dim)
        if quantize_scale is not None:
            mat = _round_half_away(mat * quantize_scale).astype(np.int64)
        signs = (mat @ planes) > 0  # (n, bits*n_tables)
        contrib = signs * weights
        out = contrib.reshape(len(mat), n_tables, bits).sum(axis=2)
        return vectors.list_array(out, _INT_LIST)

    return buckets


def _sample_matrix(
    corpus: DataFrame, vec_col: str, cap: int = 10_000, seed: int = 42
):
    """numpy matrix of a seeded sample of at most ``cap`` corpus vectors
    (the bounded training set of IVF and PQ; the corpus itself never
    leaves executors)."""
    n = corpus.count()
    frac = min(1.0, cap / max(n, 1))
    sample = corpus.sample(withReplacement=False, fraction=frac, seed=seed)
    return vectors.matrix(sample.limit(cap).select(vec_col).toArrow().column(0))


def _train_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    iters: int = 5,
    seed: int = 42,
):
    """IVF coarse quantizer: k-means in numpy on a seeded sample
    (:func:`_sample_matrix`). Returns (n_centroids, dim)."""
    mat = _sample_matrix(corpus, vec_col, seed=seed)
    rng = np.random.RandomState(seed)
    return _lloyd_numpy(mat, n_centroids, iters, rng)


def _lloyd_numpy(mat, k: int, iters: int, rng):
    """Bounded-sample Lloyd iterations in GEMM form. The naive
    ``(n, k, d)`` broadcast-subtract materializes gigabyte temps and
    measured 45 s (k=256) / 115 s (k=1024) on the 10k x 64 training
    sample — single-threaded driver time while 32 executor cores sat
    idle, and the n-INDEPENDENT fixed cost that made ivf_top_k ~166 s
    at every ladder size (r10). The identity |x|^2 - 2 x.c + |c|^2
    plus bincount centroid updates runs the same iterations in
    milliseconds. Same init draw from ``rng`` as the old loop; empty
    clusters keep their previous centroid (same policy); an empty
    sample trains an empty codebook."""
    centroids = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].copy()
    for _ in range(iters if len(mat) else 0):
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=len(centroids))
        nz = counts > 0
        centroids[nz] = sums[nz] / counts[nz][:, None]
    return centroids


def quantized_centroids(
    dim: int, n_centroids: int, seed: int = 42, scale: int = 1000
) -> list[list[int]]:
    """Fixed-seed integer-quantized coarse-quantizer codebook, shape
    [n_centroids][dim] — the IVF analog of :func:`quantized_planes`
    (VERDICT r05 item 7): with vectors quantized to ``round(x*scale)``
    int64, the nearest-cell score ``2·(xq·cq) − |cq|²`` is EXACT
    integer arithmetic, so the whole assignment — and therefore the
    approximate result set — is deterministic and DuckDB-replayable.
    A random codebook trades recall vs a trained one, but the operator
    shape (assign → probe → exact rerank) is identical."""
    return [
        [int(_round_half_away(w * scale)) for w in c]
        for c in _hyperplanes(dim, n_centroids, seed)
    ]


def quantized_assign(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """One exact-integer nearest-centroid assignment against the
    fixed-seed integer codebook (:func:`quantized_centroids`) — the
    DuckDB-replayable HALF of k-means (VERDICT r06 item 7, the same
    taming as quantized IVF/PQ): vectors quantize to ``round(x*scale)``
    int64 and the nearest cell maximizes the exact integer score
    ``2·(xq·cq) − |cq|²`` (ties → lowest cell, matching numpy argmax's
    first-max), so assignments replay bit-exactly in plain SQL. The
    float-ITERATIVE Lloyd trainer (:func:`kmeans_lloyd`) stays
    pytest-gated (test_clustering planted blobs) — training is not
    SQL-replayable, the assignment step is.

    Scale shape: centroids ride the Arrow UDF closure (k×dim ints);
    one batched integer GEMM per Arrow batch; zero shuffles — the
    output inherits the input partitioning.
    """
    centroids_q = np.array(
        quantized_centroids(dim, k, seed, scale), dtype=np.int64
    )
    ctq = centroids_q.T
    sq = (centroids_q**2).sum(axis=1)

    @arrow_udf("int")
    def nearest_cell(emb: pa.Array) -> pa.Array:
        mq = _round_half_away(vectors.matrix(emb, dim) * scale).astype(np.int64)
        scores = 2 * (mq @ ctq) - sq
        return pa.array(scores.argmax(axis=1).astype(np.int32))

    return df.select(
        F.col(id_col), nearest_cell(F.col(vec_col)).alias("cluster")
    )


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    quantize_scale: int | None = None,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-K via IVF (inverted-file) partitioning — the
    FAISS-style scale path complementary to RP-LSH:

    1. train a coarse quantizer on a bounded sample (driver numpy);
    2. assign every corpus vector to its nearest centroid cell (one
       Arrow matmul per batch, centroids ride in the UDF closure);
    3. each query probes its ``n_probe`` nearest cells; candidates =
       cell members; exact cosine ranking within candidates.

    Probing ``n_probe/n_centroids`` of the corpus bounds compute at
    ~|Q|·|C|·(n_probe/n_centroids); recall rises with n_probe. Cells
    skew when data clusters — cap cell size or split hot cells at
    100 TB (same remedy as LSH hot buckets).

    With ``quantize_scale`` set, the trained quantizer is replaced by
    the fixed-seed integer codebook (:func:`quantized_centroids`) and
    cell assignment runs in exact integer math (vectors quantized to
    ``round(x*scale)``; score ``2·(xq·cq) − |cq|²`` maximized, ties →
    lowest cell) — deterministic across engines, which is what lets
    the catalog's ``ivf_top_k`` carry a DuckDB oracle. Recall of the
    TRAINED path is pytest-gated separately; quantized mode exists for
    cross-engine verifiability, same trade as ``rp_lsh_top_k``'s
    quantized mode.
    """
    if quantize_scale is not None:
        if dim is None:
            raise ValueError("quantized IVF needs an explicit dim")
        centroids_q = np.array(
            quantized_centroids(dim, n_centroids, seed, quantize_scale),
            dtype=np.int64,
        )
        ctq = centroids_q.T  # (dim, n_centroids)
        sq = (centroids_q**2).sum(axis=1)  # |cq|² per cell

        def _cell_scores(mat: "np.ndarray") -> "np.ndarray":
            mq = _round_half_away(mat * quantize_scale).astype(np.int64)
            return 2 * (mq @ ctq) - sq  # exact int64

    else:
        centroids = _train_centroids(corpus, vec_col, n_centroids)
        dim = centroids.shape[1]
        ct = centroids.T  # (dim, n_centroids)
        csq = (centroids**2).sum(axis=1)

        def _cell_scores(mat: "np.ndarray") -> "np.ndarray":
            # nearest by L2: argmin(|x|²-2x·c+|c|²) = argmax(x·c-|c|²/2)
            return mat @ ct - csq / 2.0

    @arrow_udf("int")
    def nearest_cell(emb: pa.Array) -> pa.Array:
        scores = _cell_scores(vectors.matrix(emb, dim))
        # argmax takes the FIRST max → ties break to the lowest cell,
        # matching the oracle's ORDER BY score DESC, cell
        return pa.array(scores.argmax(axis=1).astype(np.int32))

    @arrow_udf("array<int>")
    def probe_cells(emb: pa.Array) -> pa.Array:
        scores = _cell_scores(vectors.matrix(emb, dim))
        # stable sort of -scores → score desc, ties by ascending cell
        top = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
        return vectors.list_array(top, _INT_LIST)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
        # coalesce makes the join key provably non-null: without it,
        # Catalyst infers isnotnull(cell) for the equi-join and the
        # filter/project split evaluates the UDF TWICE on the corpus
        # side (two full ArrowEvalPython passes — seen in the r10 plan
        # audit; nearest_cell never returns null, so this is free)
        F.coalesce(nearest_cell(F.col(vec_col)), F.lit(-1)).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    # candidate fan-out is n_probe/n_centroids of the corpus per query
    # — millions of rows at ladder scale. The cosine stays in the JVM
    # (JIT-warmed ~0.7 µs/row — the r10 pinned-frame A/B beat an Arrow
    # Python scorer 3-10x; BASELINE.md "candidate-scoring
    # hypothesis").
    # NO pair dedup here: unlike LSH, IVF pairs are unique by
    # construction (every corpus vector lives in exactly ONE cell and a
    # query's probed cells are distinct), and the r10 ladder measured
    # the old dropDuplicates as pure overhead — worse, hoisted before
    # scoring it shuffled (qv, cv) wide rows (~1 KB/row x 10M
    # candidates at the 10M rung: 420 s vs 147 s).
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine_similarity("qv", "cv"), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def rp_lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    n_tables: int = 4,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Approximate top-K: multi-table LSH. Each of ``n_tables`` hash
    tables buckets on ``bits`` hyperplane signs (independent seeds);
    candidates = union of per-table bucket collisions, then exact
    cosine ranking within candidates.

    Recall/cost dial: P(candidate) = 1 - (1 - p^bits)^n_tables where
    p = 1 - θ/π. More tables → recall; more bits → selectivity. The
    bucket join replaces the O(|Q|·|C|) cross product with
    O(Σ collisions); buckets skew when vectors cluster — AQE skew-join
    covers moderate skew, cap-and-spill hot buckets upstream at 100 TB.

    ``quantize_scale`` switches bucketing to exact integer math so the
    whole run is engine-replayable (oracle-checkable); bucket geometry
    shifts by at most the quantization error (~1/scale), which recall
    tests don't notice at scale=1000.
    """
    buckets_udf = _all_table_buckets_udf(dim, bits, n_tables, quantize_scale=quantize_scale)

    def with_buckets(df: DataFrame, idc: str, out_id: str, vec_out: str) -> DataFrame:
        # posexplode directly over the UDF output: the generator keeps
        # the UDF in its own project node, so it runs ONCE per row —
        # selecting element_at(bks, t) per table would let projection
        # collapse inline (and re-evaluate) the UDF n_tables times.
        return df.select(
            F.col(idc).alias(out_id),
            as_double_array(vec_col).alias(vec_out),
            F.posexplode(buckets_udf(F.col(vec_col))).alias("tbl", "bucket"),
        )

    q = with_buckets(queries, id_col, "query_id", "qv")
    c = with_buckets(corpus, id_col, "neighbor_id", "cv")
    joined = c.join(F.broadcast(q), ["tbl", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # r10 shape: score BEFORE the union-across-tables dedup. A pair
    # colliding in t tables is scored t times — cheap, the JIT-warmed
    # expression cosine is ~0.7 µs/row — but the dedup exchange then
    # carries narrow (pair, cos_sim) rows instead of the (qv, cv)
    # ~1 KB-wide ones (the payload that made the pre-r10 wide dedup a
    # 3x regression in the ivf twin). Duplicate scores are identical,
    # so which row survives the dedup is value-irrelevant. The cosine
    # stays in the JVM — the pinned-frame A/B beat an Arrow scorer 3-10x.
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qv", "cv"), 6).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 vector quantization (4× storage cut for ANN
    corpora): per-vector scale = 127/max|x|, elements rounded to
    [-127, 127]. Pure expression math — codegen-covered, zero Python —
    and round() is half-away-from-zero in both Spark and DuckDB, so
    the quantized codes are oracle-replayable.

    Emits the codes as a space-joined string plus reconstruction-error
    stats; at scale the codes column would be written back as
    array<tinyint> next to the fp32 column it replaces.

    Staged selects matter here: higher-order lambdas are interpreted,
    and inlining ``maxabs``/``codes`` into the error lambda would
    re-evaluate the array_max per ELEMENT (dim² work per row — measured
    ~5× slower). Materializing each stage as a column keeps every
    subexpression evaluated once per row.
    """
    staged = df.select(
        F.col(id_col), as_double_array(vec_col).alias("_v")
    ).withColumn("_maxabs", F.array_max(F.transform("_v", F.abs)))
    coded = staged.withColumn(
        "_q",
        F.transform("_v", lambda x: F.round(x * 127.0 / F.col("_maxabs")).cast("int")),
    )
    recon_err = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.col("_q"),
                    lambda x, c: (x - c * F.col("_maxabs") / 127.0)
                    * (x - c * F.col("_maxabs") / 127.0),
                ),
                F.lit(0.0),
                lambda acc, e: acc + e,
            )
        ),
        6,
    )
    return coded.select(
        F.col(id_col),
        F.round("_maxabs", 6).alias("scale_maxabs"),
        F.concat_ws(" ", "_q").alias("codes"),
        recon_err.alias("recon_l2_err"),
    )


def pq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    refine_factor: int | str = "auto",
    quantize_scale: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    max_auto_pool: int = 200_000,
) -> DataFrame:
    """Approximate top-K via product quantization (PQ, Jégou et al.
    TPAMI'11) — the memory-compression scale path complementary to
    IVF/LSH: at 100 TB the corpus's float vectors don't fit anywhere,
    but ``m`` uint8 codes per vector (D·4 bytes → m bytes, e.g. 64×
    smaller) do. NOTE: ``refine_factor="auto"`` (the default) runs one
    aggregation job at CONSTRUCTION time to size the rerank pool — pass
    an int to stay fully lazy (the catalog query and the oracle do).

    1. normalize + split each vector into ``m`` subvectors; train one
       ``n_codes``-word codebook per subspace on a bounded sample
       (driver numpy, same sampling contract as IVF);
    2. encode the corpus — each vector becomes ``m`` small ints; the
       float vector is no longer needed for scanning;
    3. score by asymmetric distance (ADC): the query stays full
       precision, each candidate's dot product is the sum of ``m``
       codebook lookups — vectorized per Arrow batch via a gather +
       einsum, never a per-row Python loop;
    4. rerank the top ``k·refine_factor`` ADC candidates with exact
       cosine (one broadcast-able join back to the corpus by id) so
       the output ranking uses true scores — the standard
       PQ-then-refine pipeline.

    Output: (query_id, neighbor_id, cos_sim, rank) — same contract as
    brute_force_top_k, self-matches excluded.

    With ``quantize_scale`` set (r06, same taming as quantized IVF):
    the trained codebooks are replaced by fixed-seed INTEGER
    sub-codebooks (:func:`quantized_centroids` per subspace), vectors
    quantize to ``round(x*scale)``, and BOTH the per-subspace code
    assignment (argmin of ``|cq|² − 2·xq·cq``) and the ADC candidate
    scores (sums of integer codeword dots) are exact integer math —
    deterministic across engines, so the whole encode→ADC→refine
    pipeline is DuckDB-replayable. Normalization is skipped in this
    mode (a float divide would break integer exactness); the exact
    cosine rerank restores true ranking among the candidates.

    ``refine_factor="auto"`` (VERDICT r10 item 2 — the pool-law
    footgun): on clustered/near-tie corpora ADC cannot rank cluster
    siblings, so measured recall ≈ min(1, pool/cluster) where
    pool = k·refine_factor — a fixed small default silently returns
    ~2% recall at 10M docs (r10 ladder). The trained codebooks ADAPT to
    clusters, so the max same-code group size over the encoded corpus
    tracks the largest near-tie cluster (measured: 123 estimated vs 135
    planted at 100k); auto sizes pool = max(3k, 2·max_code_group),
    capped at ``max_auto_pool`` with a warning (a cap hit means the
    corpus has a near-tie cluster bigger than any sane rerank pool —
    the caller should dedup first or accept partial recall). The stat
    is ONE map-side-combined aggregation over the m-int code tuples —
    O(corpus) with tiny shuffle rows, run once at construction.
    """
    if quantize_scale is not None:
        if dim is None:
            raise ValueError("quantized PQ needs an explicit dim")
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        books_arr = np.stack(
            [
                np.array(
                    quantized_centroids(
                        sub, n_codes, seed + 7000 + s, quantize_scale
                    ),
                    dtype=np.int64,
                )
                for s in range(m)
            ]
        )  # (m, n_codes, sub) int64
        books_sq = (books_arr.astype(np.int64) ** 2).sum(axis=2)  # (m, n_codes)

        @arrow_udf("array<int>")
        def encode(emb: pa.Array) -> pa.Array:
            x = vectors.matrix(emb, dim)
            xq = _round_half_away(x * quantize_scale).astype(np.int64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = xq[:, s * sub : (s + 1) * sub]
                # argmin |xs−cb|² = argmin(|cb|² − 2·xs·cb): exact ints;
                # first-min tie-break → lowest code, as the oracle orders
                score = books_sq[s] - 2 * (xs @ books_arr[s].T)
                codes[:, s] = score.argmin(axis=1)
            return vectors.list_array(codes, _INT_LIST)

        @arrow_udf("double")
        def adc(qv: pa.Array, codes: pa.Array) -> pa.Array:
            q = vectors.matrix(qv, dim)
            qq = _round_half_away(q * quantize_scale).astype(np.int64)
            c = vectors.matrix(codes, m, dtype=np.int64)
            score = np.zeros(len(q), dtype=np.int64)
            for s in range(m):
                qs = qq[:, s * sub : (s + 1) * sub]
                score += np.einsum(
                    "nd,nd->n", qs, books_arr[s][c[:, s]]
                ).astype(np.int64)
            # integer-valued; double carries it exactly below 2^53
            return pa.array(score.astype(np.float64))

    else:
        # --- train per-subspace codebooks on a bounded normalized sample
        mat = _sample_matrix(corpus, vec_col)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        dim = mat.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        rng = np.random.RandomState(42)
        books = []
        for s in range(m):
            xs = mat[:, s * sub : (s + 1) * sub]
            # GEMM-form Lloyd (see _lloyd_numpy) — the naive broadcast
            # loop here cost ~1-2 s PER SUBSPACE x m subspaces
            books.append(_lloyd_numpy(xs, n_codes, 5, rng))
        books_arr = np.stack(books)  # (m, n_codes, sub)

        @arrow_udf("array<int>")
        def encode(emb: pa.Array) -> pa.Array:
            x = vectors.matrix(emb, dim)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * sub : (s + 1) * sub]
                d2 = ((xs[:, None, :] - books_arr[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            return vectors.list_array(codes, _INT_LIST)

        @arrow_udf("double")
        def adc(qv: pa.Array, codes: pa.Array) -> pa.Array:
            q = vectors.matrix(qv, dim)
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            c = vectors.matrix(codes, m, dtype=np.int64)
            score = np.zeros(len(q))
            for s in range(m):
                qs = q[:, s * sub : (s + 1) * sub]
                score += np.einsum("nd,nd->n", qs, books_arr[s][c[:, s]])
            return pa.array(score)

    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )
    if refine_factor == "auto":
        # Pool law (see docstring): size the exact-rerank pool from the
        # largest same-code group — the encoded corpus's own estimate of
        # its biggest near-tie cluster. One agg; codes re-encode in the
        # scoring pass rather than checkpointing a corpus-sized frame.
        row = enc.groupBy("codes").count().agg(F.max("count")).first()
        c_est = int(row[0] or 0)
        pool = max(3 * k, 2 * c_est)
        if pool > max_auto_pool:
            import warnings

            warnings.warn(
                f"pq_top_k: auto rerank pool {pool} (max code-group "
                f"{c_est}) exceeds max_auto_pool={max_auto_pool}; "
                "capping — recall on the largest near-tie cluster will "
                "be ~pool/cluster. Dedup the corpus first or pass an "
                "explicit refine_factor.",
                stacklevel=2,
            )
            pool = max_auto_pool
        refine_factor = -(-pool // k)  # ceil
    elif not isinstance(refine_factor, int):
        raise ValueError(f"refine_factor must be an int or 'auto': {refine_factor!r}")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    scored = (
        enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", adc(F.col("qv"), F.col("codes")))
        .select("query_id", "neighbor_id", "adc")
    )
    cands = top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("adc"), F.asc("neighbor_id")],
        k * refine_factor,
    ).select("query_id", "neighbor_id")
    # exact rerank on the candidate set only
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv2")
    )
    exact = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", F.round(cosine_similarity("qv2", "cv"), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        exact,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def whiten_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-6,
    out_dim: int | None = None,
) -> DataFrame:
    """PCA whitening of an embedding column — the standard retrieval
    post-processing (mean-center, rotate to principal axes, scale each
    to unit variance; optionally truncate to ``out_dim``): after it,
    cosine ≈ Mahalanobis, which measurably improves ANN recall on
    anisotropic embeddings ("Whitening Sentence Representations",
    Su et al. 2021).

    Scale shape: the covariance is a DISTRIBUTED moment aggregation —
    each task contributes (n, Σv, Σv·vᵀ) partials via mapInArrow,
    collected and summed (D×D doubles, KBs for any realistic D — never
    the corpus); D itself is read off the partials. The
    eigendecomposition is a local numpy ``eigh`` of that D×D matrix;
    the projection matrix broadcasts back inside an Arrow UDF closure.
    Two passes total: moments, (local eigh), project. An empty corpus
    gives an empty result.
    """

    def partials(batches):
        n, s, ss = 0, 0.0, 0.0
        for batch in batches:
            if not batch.num_rows:
                continue
            mat = vectors.matrix(batch.column(0), len(s) if n else None)
            n, s, ss = n + len(mat), s + mat.sum(axis=0), ss + mat.T @ mat
        if n:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([n], pa.int64()),
                    vectors.list_array(s[None, :], pa.list_(pa.float64())),
                    vectors.list_array(ss.reshape(1, -1), pa.list_(pa.float64())),
                ],
                names=["n", "s", "ss"],
            )

    moments = (
        corpus.select(vec_col)
        .mapInArrow(partials, "n long, s array<double>, ss array<double>")
        .toArrow()
    )
    n = int(np.sum(moments.column("n").to_numpy()))
    s = vectors.matrix(moments.column("s")).sum(axis=0)
    dim = len(s)
    ss = vectors.matrix(moments.column("ss"), dim * dim).sum(axis=0)
    mean = s / n
    cov = ss.reshape(dim, dim) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    k = out_dim or dim
    # W maps x -> diag(1/sqrt(λ)) @ Vᵀ @ (x - mean), top-k components
    w_mat = (evecs[:, :k] / np.sqrt(np.maximum(evals[:k], eps))).T

    @arrow_udf("array<float>")
    def project(emb: pa.Array) -> pa.Array:
        out = (vectors.matrix(emb, dim) - mean) @ w_mat.T
        return vectors.list_array(out, pa.list_(pa.float32()))

    return corpus.select(
        F.col(id_col), project(F.col(vec_col)).alias("whitened")
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """[EXT] fully-distributed Lloyd k-means: the corpus never leaves
    the executors (contrast ``_train_centroids``, which trains on a
    bounded driver sample for IVF).

    Per iteration: ONE fused ``mapInArrow`` pass (OPTIMIZATION_r12 §3)
    assigns each batch (one GEMM argmin of squared distance) and emits
    per-task (cluster, dim) partial sums and counts, ≤ k×dim rows per
    task, so the merging hash agg's shuffle is tiny at any corpus size.
    Only the k×dim centroid matrix is ever collected (the
    PageRank/logreg iterative pattern). NULL or ragged embeddings
    raise the ``ValueError`` of the vector contract (operators/vectors.py);
    an empty corpus gives empty assignments and a (0, 0) centroid
    matrix.

    Init = k-means‖-style oversampling (Bahmani '12, VERDICT r04 item
    2): ONE distributed pass scores every vector by squared distance
    to the lowest-id seed and keeps the top max(16k, 256) under a
    deterministic exponential race (ln(u)/d² with u derived from
    xxhash64(id) — the A-ES weighted-sample-without-replacement key,
    so selection is ∝ d² yet hash-reproducible across runs and
    partitionings). Greedy farthest-point then runs driver-side over
    that candidate set (≤256×k distance evals, microseconds). The
    previous init ran k−1 SEQUENTIAL full-corpus argmax passes — 7
    extra corpus scans for k=8 before Lloyd even started; this form
    costs O(1) corpus passes with the same farthest-point character
    (on small corpora the candidate set is the whole corpus minus the
    seed, so the traversal is exactly the old one). Lowest-id-block
    init collapsed multiple centroids into one cluster on clustered
    data, which is why a spread-out init matters at all.

    Returns (assignments DataFrame [id, cluster], centroids ndarray).
    """
    first = vectors.matrix(
        embeddings.orderBy(id_col).limit(1).select(vec_col).toArrow().column(0)
    )
    if not len(first):
        empty = embeddings.select(id_col, F.lit(None).cast("int").alias("cluster"))
        return empty, first
    seed = first[0]
    dim = len(seed)

    @arrow_udf("double")
    def d2_seed(emb: pa.Array) -> pa.Array:
        d = vectors.matrix(emb, dim) - seed[None, :]
        return pa.array((d * d).sum(axis=1))

    n_cand = max(16 * k, 256)
    mask = (1 << 52) - 1
    u = (
        F.xxhash64(F.col(id_col)).bitwiseAND(F.lit(mask)) + F.lit(1)
    ) / F.lit(float(mask) + 2.0)
    cand_ids, cand = vectors.collect_matrix(
        embeddings.select(
            id_col, vec_col, d2_seed(F.col(vec_col)).alias("d2")
        )
        .filter(F.col("d2") > 0)
        .select(id_col, vec_col, (F.log(u) / F.col("d2")).alias("skey"))
        # TakeOrderedAndProject: per-partition top-n_cand, no global sort
        .orderBy(F.desc("skey"), F.col(id_col))
        .limit(n_cand),
        id_col,
        vec_col,
    )
    chosen = [seed]
    if len(cand_ids):
        min_d2 = ((cand - seed[None, :]) ** 2).sum(axis=1)
        for _ in range(k - 1):
            # farthest candidate from everything chosen; ties → lowest id
            best = int(np.lexsort((cand_ids, -min_d2))[0])
            chosen.append(cand[best].copy())
            step = ((cand - cand[best][None, :]) ** 2).sum(axis=1)
            np.minimum(min_d2, step, out=min_d2)
    else:  # degenerate corpus: every vector equals the seed
        chosen.extend([seed.copy() for _ in range(k - 1)])
    centroids = np.stack(chosen)

    def assigner(cents):
        c = cents.copy()

        @arrow_udf("int")
        def assign(emb: pa.Array) -> pa.Array:
            mat = vectors.matrix(emb, dim)
            # argmin_c |x-c|^2 = argmin_c (|c|^2 - 2 x·c): one GEMM
            d = (c * c).sum(axis=1)[None, :] - 2.0 * (mat @ c.T)
            return pa.array(d.argmin(axis=1).astype(np.int32))

        return assign

    # FUSED assign+update (r12, VERDICT r11 item 3): each Lloyd round
    # used to run the assign UDF and then posexplode the whole corpus
    # to (cluster, dim, val) rows for a hash aggregate — a JVM
    # row-expansion of N×dim rows per iteration just to compute k×dim
    # sums the Python worker could have produced while it still held
    # the batch matrix. One mapInArrow pass now assigns (same GEMM
    # argmin) AND reduces per-TASK (cluster, dim) partial sums/counts
    # in numpy, emitting ≤ k×dim rows per task; a tiny hash aggregate
    # merges the partials. Counts are exact integers either way;
    # float sums associate in a different (equally nondeterministic)
    # order than the old per-partition partial aggregation — the
    # tolerance anchor in tests/test_curation_round3.py pins that
    # fixture assignments are invariant under ≥1e-6-relative centroid
    # perturbation, far above any reassociation ulp.
    vecs = embeddings.select(as_double_array(vec_col).alias("v"))

    def updater(cents):
        c = cents.copy()
        cc = (c * c).sum(axis=1)
        kk = c.shape[0]

        def partials(batches):
            sums = np.zeros((kk, dim), dtype=np.float64)
            counts = np.zeros(kk, dtype=np.int64)
            for batch in batches:
                # a NULL element would become NaN: every point → cluster 0
                mat = vectors.matrix(batch.column(0), dim)
                d = cc[None, :] - 2.0 * (mat @ c.T)
                a = d.argmin(axis=1)
                np.add.at(sums, a, mat)
                counts += np.bincount(a, minlength=kk)
            nz = np.nonzero(counts)[0]
            if len(nz):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(nz, dim).astype(np.int32)),
                        pa.array(np.tile(np.arange(dim, dtype=np.int32), len(nz))),
                        pa.array(sums[nz].ravel()),
                        pa.array(np.repeat(counts[nz], dim)),
                    ],
                    names=["cluster", "dim", "s", "n"],
                )

        return partials

    for _ in range(n_iter):
        sums = (
            vecs.mapInArrow(
                updater(centroids), "cluster int, dim int, s double, n long"
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .toArrow()
        )
        # empty clusters keep their previous centroid
        centroids = centroids.copy()
        centroids[sums["cluster"].to_numpy(), sums["dim"].to_numpy()] = (
            sums["s"].to_numpy() / sums["n"].to_numpy()
        )
    assignments = embeddings.select(
        id_col, assigner(centroids)(F.col(vec_col)).alias("cluster")
    )
    return assignments, centroids
