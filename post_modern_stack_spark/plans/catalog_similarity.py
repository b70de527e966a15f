"""Similarity-search queries over the ``embeddings`` table
(SURVEY.md §2 K3/K5/K6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import l2_norm
from post_modern_stack_spark.operators import similarity
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table

_N_QUERIES = 10  # query-vector subset for the top-K catalog entries
_K = 5


@query(
    "top_k_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT q.query_id,
             c.neighbor_id,
             round(list_sum(list_transform(range(1, len(qv) + 1),
                                           i -> qv[i] * cv[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(cv, x -> x * x)))),
                   6) AS cos_sim
      FROM q, c
      WHERE q.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """,
)
def q_top_k_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 exact baseline: brute-force cosine top-K, query side
    broadcast, JVM-side double-precision dot products, deterministic
    (cos_sim desc, neighbor_id) ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.brute_force_top_k(emb, queries, k=_K)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           label,
           round(sqrt(list_sum(list_transform(embedding,
                                              x -> CAST(x AS DOUBLE) * x))), 6)
             AS l2_norm
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math built-ins (K5 plumbing): per-row L2 norm over the
    array<float> column, all inside codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(similarity.as_double_array("embedding")), 6).alias("l2_norm"),
    )


@query(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id, c.label,
             round(list_sum(list_transform(range(1, len(qv) + 1),
                                           i -> qv[i] * cv[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(cv, x -> x * x)))),
                   6) AS cos_sim
      FROM q, c WHERE q.query_id != c.neighbor_id
    ),
    topk AS (
      SELECT query_id, label
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) <= {_K}
    ),
    votes AS (
      SELECT query_id, label, count(*) AS n_votes
      FROM topk GROUP BY query_id, label
    )
    SELECT query_id, label AS predicted_label, n_votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, label) = 1
    """,
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 applied: k-NN majority-vote classification of query vectors —
    top-K join back to labels, per-query argmax with deterministic
    (votes desc, label) tie-break."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    topk = similarity.brute_force_top_k(emb, queries, k=_K)
    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


@query(
    "label_centroids",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(list_sum(list_transform(embedding,
                                             x -> CAST(x AS DOUBLE) * x))), 6)
             AS avg_sq_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregate (K5/K6 posture): per-label counts and
    mean squared norm — partial aggregation applies, one shuffle on the
    10-value label key."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = similarity.as_double_array("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.avg(
                F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v * v)
            ),
            6,
        ).alias("avg_sq_norm"),
    )


def _ivf_oracle_sql(
    dim: int, n_centroids: int, n_probe: int, scale: int
) -> str:
    """Replayable DuckDB twin of the quantized-IVF run (VERDICT r05
    item 7, the same taming as LSH): the fixed-seed integer codebook
    embeds as literals, the nearest-cell score ``2·(vq·cq) − |cq|²``
    is exact integer math on both engines, probes are the top
    ``n_probe`` cells per query (score desc, cell asc — matching
    numpy's stable argsort), and candidates rank by the same exact
    cosine as top_k_cosine."""
    cents = similarity.quantized_centroids(dim, n_centroids, scale=scale)
    values = ",\n             ".join(
        f"({cell}, [{','.join(str(w) for w in c)}], {sum(w * w for w in c)})"
        for cell, c in enumerate(cents)
    )
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * {scale})) AS vq
      FROM embeddings
    ),
    cent(cell, cq, sq) AS (
      VALUES {values}
    ),
    scores AS (
      SELECT e.vec_id, c.cell,
             2 * list_sum(list_transform(range(1, {dim + 1}),
                                         i -> e.vq[i] * c.cq[i])) - c.sq
               AS score
      FROM e CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, cell FROM scores
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cell) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM scores
      WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cell) <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id != p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> qe.v[i] * ce.v[i]))
                   / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(ce.v, x -> x * x)))),
                   6) AS cos_sim
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """


@query(
    "ivf_top_k",
    oracle=_ivf_oracle_sql(dim=64, n_centroids=16, n_probe=4, scale=1000),
)
def q_ivf_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path 2: IVF-partitioned approximate top-K (16 cells,
    4 probes → ~25% of the corpus scored per query). Run in quantized
    fixed-codebook mode (exact integer cell assignment) so the whole
    approximate result is deterministic and DuckDB-replayable — the
    same taming as lsh_top_k; the TRAINED-quantizer path's recall is
    pytest-gated (test_clustering)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.ivf_top_k(
        emb, queries, k=_K, quantize_scale=1000, dim=64
    )


def _lsh_sql_parts(
    dim: int, bits: int, n_tables: int, scale: int, prefix: str = "b"
) -> tuple[str, str]:
    """(bucket_cols, collide) SQL fragments replaying a fixed-seed
    quantized-LSH bucket assignment in DuckDB: hyperplanes embedded as
    integer literals, dot products exact integer sums (identical to
    the numpy int64 matmul on the Spark side). ``prefix`` namespaces
    the bucket columns so two configs can coexist in one query."""
    planes = similarity.quantized_planes(dim, bits, n_tables, scale=scale)

    def bucket_expr(t: int) -> str:
        terms = []
        for i, plane in enumerate(planes[t]):
            lits = "[" + ",".join(str(w) for w in plane) + "]"
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> vq[i] * ({lits})[i]))"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(terms)

    bucket_cols = ",\n         ".join(
        f"({bucket_expr(t)}) AS {prefix}{t}" for t in range(n_tables)
    )
    collide = " OR ".join(f"q.{prefix}{t} = c.{prefix}{t}" for t in range(n_tables))
    return bucket_cols, collide


def _lsh_oracle_sql(dim: int, bits: int, n_tables: int, scale: int) -> str:
    """Replayable DuckDB twin for the fixed-seed LSH run: quantized
    bucket collision candidates, then the same exact-cosine (desc,
    neighbor_id) ranking as top_k_cosine."""
    bucket_cols, collide = _lsh_sql_parts(dim, bits, n_tables, scale)
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * {scale})) AS vq
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, v,
         {bucket_cols}
      FROM e
    ),
    q AS (SELECT * FROM b WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM q JOIN b c ON ({collide})
      WHERE q.vec_id != c.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> qe.v[i] * ce.v[i]))
                   / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(ce.v, x -> x * x)))),
                   6) AS cos_sim
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """


@query("lsh_top_k", oracle=_lsh_oracle_sql(dim=64, bits=8, n_tables=4, scale=1000))
def q_lsh_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path: random-hyperplane LSH bucketed top-K. Run in
    quantized mode (exact integer bucket math) so the fixed-seed bucket
    assignment — and therefore the whole approximate result — is
    deterministic and DuckDB-replayable (VERDICT round-1 item 3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.rp_lsh_top_k(emb, queries, k=_K, quantize_scale=1000)


@query(
    "embedding_near_dups",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a,
             b.vec_id AS id_b,
             round(list_sum(list_transform(range(1, len(a.v) + 1),
                                           i -> a.v[i] * b.v[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
                   6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    WHERE cos_sim >= 0.4
    """,
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 vector-modality dedup: all embedding pairs with cosine ≥ τ.
    Size-dispatched ``candidates='auto'`` (VERDICT r05 item 4): at or
    under the broadcast-safe row threshold the exact GEMM path runs
    (the case at every driver SF — the oracle is the exhaustive pair
    set); past it the LSH-bucketed candidates take over, so the
    catalog path never collects an unbounded corpus to the driver.
    LSH-vs-exact recall is pytest-gated (test_clustering)."""
    from post_modern_stack_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dups(emb, threshold=0.4, candidates="auto")


@query(
    "embedding_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS maxabs
      FROM e
    ),
    q AS (
      SELECT vec_id, v, maxabs,
             list_transform(v, x -> CAST(round(x * 127.0 / maxabs) AS INT))
               AS codes
      FROM m
    )
    SELECT vec_id,
           round(maxabs, 6) AS scale_maxabs,
           array_to_string(codes, ' ') AS codes,
           round(sqrt(list_sum(list_transform(range(1, len(v) + 1),
                 i -> (v[i] - codes[i] * maxabs / 127.0)
                      * (v[i] - codes[i] * maxabs / 127.0)))), 6)
             AS recon_l2_err
    FROM q
    """,
)
def q_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] int8 vector quantization for ANN storage (4× cut):
    per-vector symmetric scale, half-away rounding on both engines, so
    the codes are hash-identical (operators/similarity.quantize_int8)."""
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


def _pq_oracle_sql(
    dim: int, m: int, n_codes: int, refine_factor: int, scale: int
) -> str:
    """Replayable DuckDB twin of the quantized-PQ run (r06, extending
    the ivf/lsh taming to the last similarity scale path): fixed-seed
    integer sub-codebooks embed as VALUES literals; per-subspace code
    assignment minimizes the exact integer score ``|cq|² − 2·xq·cq``
    (ties → lowest code, matching numpy argmin's first-min); ADC
    candidate scores are integer codeword-dot sums; the final ranking
    is the exact cosine of the true vectors over the deterministic
    candidate cut."""
    sub = dim // m
    rows = []
    for s in range(m):
        cents = similarity.quantized_centroids(
            sub, n_codes, seed=42 + 7000 + s, scale=scale
        )
        for code, c in enumerate(cents):
            lits = ",".join(str(w) for w in c)
            rows.append(f"({s}, {code}, [{lits}], {sum(w * w for w in c)})")
    values = ",\n             ".join(rows)
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * {scale})) AS vq
      FROM embeddings
    ),
    cb(s, code, cw, sq) AS (
      VALUES {values}
    ),
    assign AS (
      SELECT e.vec_id, cb.s, cb.code
      FROM e CROSS JOIN cb
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id, cb.s
        ORDER BY cb.sq - 2 * list_sum(list_transform(range(1, {sub + 1}),
                     i -> e.vq[cb.s * {sub} + i] * cb.cw[i])) ASC,
                 cb.code ASC) = 1
    ),
    q AS (SELECT vec_id, vq FROM e WHERE vec_id < {_N_QUERIES}),
    adc AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             sum(list_sum(list_transform(range(1, {sub + 1}),
                 i -> q.vq[a.s * {sub} + i] * cb.cw[i]))) AS adc
      FROM q JOIN assign a ON a.vec_id != q.vec_id
      JOIN cb ON cb.s = a.s AND cb.code = a.code
      GROUP BY q.vec_id, a.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc DESC, neighbor_id)
              <= {_K * refine_factor}
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> qe.v[i] * ce.v[i]))
                   / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(ce.v, x -> x * x)))),
                   6) AS cos_sim
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """


@query(
    "pq_top_k",
    oracle=_pq_oracle_sql(dim=64, m=8, n_codes=64, refine_factor=6, scale=1000),
)
def q_pq_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path 3: product-quantization approximate top-K (m=8
    subspaces × 64 codes → vectors scan as 8 bytes instead of D·4 —
    32× compression at dim 64; ADC scoring + exact rerank of 6k
    candidates). Run in quantized fixed-codebook mode (exact integer
    code assignment + integer ADC) so the whole approximate result is
    deterministic and DuckDB-replayable — same taming as lsh_top_k /
    ivf_top_k; the TRAINED-codebook path's recall is pytest-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.pq_top_k(
        emb,
        queries,
        k=_K,
        m=8,
        n_codes=64,
        refine_factor=6,
        quantize_scale=1000,
        dim=64,
    )


@query("embedding_whiten")  # rows-only: eigendecomposition-dependent
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 post-processing: PCA whitening (Su et al. 2021) — mean-center
    + rotate + unit-variance scale via distributed moment aggregation
    (Arrow partials, D×D driver combine) and a broadcast projection.
    Output summarized to per-vector norms so the row contract is
    stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.whiten_embeddings(emb, out_dim=16)
    sq = F.transform("whitened", lambda x: x.cast("double"))
    return out.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, v: a + v * v)), 4
        ).alias("whitened_norm"),
    )


# Shared by semantic_dedup and its sharded/auto routing variants: the
# per-pair cosine expression is identical across all three engine
# paths, so keep/n_close are bit-identical and one oracle covers them.
_SEMANTIC_DEDUP_ORACLE = """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    close AS (
      SELECT b.vec_id AS id_b, count(*) AS n_close
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.v) + 1),
                                    i -> a.v[i] * b.v[i]))
            / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
               * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.5
      GROUP BY b.vec_id
    )
    SELECT e.vec_id, e.label,
           coalesce(c.n_close, 0)::BIGINT AS n_close_lower,
           CASE WHEN c.id_b IS NULL THEN 1 ELSE 0 END AS keep
    FROM e LEFT JOIN close c ON c.id_b = e.vec_id
"""

# Force multi-block decomposition at driver SFs: sf0.01's ~200
# embeddings over ~10 labels give ~20-member clusters, so 16-row
# blocks exercise the block-pair join + i==j masking paths for real
# (production default 8192 would collapse every test cluster to one
# block and the parity check would prove nothing about sharding).
_SHARD_ROWS = 16


@query("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup semantic dedup: per-cluster cosine neighborhoods,
    min-id representative kept (operators/dedup.semantic_dedup). The
    cluster column bounds the quadratic pass; one numpy GEMM per
    cluster via applyInArrow — the paper's recipe verbatim, with
    `label` standing in for the k-means assignment."""
    from post_modern_stack_spark.operators import dedup

    return dedup.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.5
    )


@query("semantic_dedup_sharded", oracle=_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup, straggler-proof form: the per-cluster O(n^2)
    cosine pass decomposed into (cluster, block_i, block_j) GEMM tasks
    so one giant cluster spreads across executors instead of
    serializing into a single task (dedup.semantic_dedup_sharded;
    measured 403.6 s -> 123.3 s under a planted 100k-member cluster at
    1M docs). Identical per-pair cosine expression => bit-identical
    keep/n_close, so the plain path's oracle applies verbatim."""
    from post_modern_stack_spark.operators import dedup

    return dedup.semantic_dedup_sharded(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.5,
        shard_rows=_SHARD_ROWS,
    )


@query("semantic_dedup_auto", oracle=_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup with size-based dispatch: clusters at or under
    the block size run the zero-overhead one-task-per-cluster path,
    oversized ones the block-pair path (dedup.semantic_dedup_auto;
    measured 403.6 s -> 57.8 s under skew, no packing tax on the
    well-sized majority). Same oracle — routing never changes values."""
    from post_modern_stack_spark.operators import dedup

    return dedup.semantic_dedup_auto(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.5,
        shard_rows=_SHARD_ROWS,
    )


def _kmeans_assign_oracle_sql(
    k: int = 8, dim: int = 64, scale: int = 1000
) -> str:
    """Replayable DuckDB twin of the quantized k-means assignment
    (VERDICT r06 item 7 — the ivf/pq taming applied to kmeans_assign):
    the fixed-seed integer codebook embeds as literals and the
    nearest-cell argmax ``2·(vq·cq) − |cq|²`` is exact integer math on
    both engines (ties → lowest cell, numpy first-max order)."""
    cents = similarity.quantized_centroids(dim, k, scale=scale)
    values = ",\n             ".join(
        f"({cell}, [{','.join(str(w) for w in c)}], {sum(w * w for w in c)})"
        for cell, c in enumerate(cents)
    )
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * {scale})) AS vq
      FROM embeddings
    ),
    cent(cell, cq, sq) AS (
      VALUES {values}
    ),
    scores AS (
      SELECT e.vec_id, c.cell,
             2 * list_sum(list_transform(range(1, {dim + 1}),
                                         i -> e.vq[i] * c.cq[i])) - c.sq
               AS score
      FROM e CROSS JOIN cent c
    )
    SELECT vec_id, cell AS cluster FROM scores
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY score DESC, cell) = 1
    """


@query(
    "kmeans_assign",
    oracle=_kmeans_assign_oracle_sql(k=8, dim=64, scale=1000),
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] k-means cluster assignment (k=8) over the embeddings
    table — the cluster step SemDeDup/IVF build on. Run in quantized
    fixed-codebook mode (similarity.quantized_assign: one exact
    integer nearest-centroid argmax, zero shuffles) so the assignment
    is deterministic and DuckDB-replayable — the same taming as
    ivf_top_k/pq_top_k; the float-iterative Lloyd TRAINER
    (similarity.kmeans_lloyd) stays pytest-gated (test_clustering) and
    still runs end-to-end inside `semantic_dedup_kmeans`."""
    return similarity.quantized_assign(
        load_table(spark, sf_dir, "embeddings"), k=8, dim=64, scale=1000
    )


@query(
    "pooled_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, vec_id // 10 AS group_id,
             generate_subscripts(embedding, 1) AS dim,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
      FROM embeddings
    ),
    pooled AS (
      SELECT group_id, dim, avg(v) AS m, count(*) AS n
      FROM e GROUP BY group_id, dim
    )
    SELECT group_id,
           any_value(n)::BIGINT AS n_vecs,
           array_to_string(
             list(CAST(round(m * 1e6) AS BIGINT) ORDER BY dim), ' ')
             AS mean_vec_micro
    FROM pooled
    GROUP BY group_id
    """,
)
def q_pooled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] chunk→document embedding pooling: elementwise mean of
    each 10-vector group — the aggregation every chunked-embedding
    store needs to serve doc-level vectors. Engine shape: posexplode
    to (group, dim, value), ONE hash agg (map-side combinable — the
    shuffle carries ≤ groups×dim partials), then ordered re-assembly
    via sort-struct collect; emitted as space-joined INTEGER
    micro-units — double→string formatting differs between engines
    (Spark scientific-notates 1e-4; DuckDB doesn't), integers don't."""
    from post_modern_stack_spark.functions import ordered_collect

    emb = load_table(spark, sf_dir, "embeddings")
    pooled = (
        emb.select(
            (F.col("vec_id") / 10).cast("long").alias("group_id"),
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("dim", "v"),
        )
        .groupBy("group_id", "dim")
        .agg(F.avg("v").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    return pooled.groupBy("group_id").agg(
        F.any_value("n").cast("long").alias("n_vecs"),
        F.concat_ws(
            " ",
            F.transform(
                ordered_collect(
                    F.struct(
                        F.col("dim").alias("d"),
                        F.round(F.col("m") * 1e6).cast("long").alias("m"),
                    ),
                    "dim",
                ),
                lambda s: s.getField("m").cast("string"),
            ),
        ).alias("mean_vec_micro"),
    )


@query("semantic_dedup_kmeans")  # rows-only: trained-centroid clusters
def q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup end-to-end as published (Abbas'23): TRAINED
    k-means clusters (similarity.kmeans_lloyd, k=8) bound the
    quadratic cosine pass, per-cluster GEMM keeps min-id survivors —
    the label-column variant (`semantic_dedup`) is the oracle-checked
    twin; this one exercises the real trained-cluster path."""
    from post_modern_stack_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    assignments, _ = similarity.kmeans_lloyd(emb, k=8, n_iter=5)
    clustered = emb.join(assignments, "vec_id").select(
        "vec_id", F.col("cluster").alias("label"), "embedding"
    )
    out = dedup.semantic_dedup(clustered, threshold=0.35)
    return out.select(
        "vec_id",
        F.col("label").alias("cluster"),
        "n_close_lower",
        "keep",
    )


# Two replayable LSH configs for the recall report: wide (more tables
# → recall) vs narrow (more bits → selectivity). Both quantized so the
# whole report — candidates, ranking, recall — is engine-replayable.
_ANN_CONFIGS: tuple[tuple[str, int, int], ...] = (
    ("lsh_wide", 8, 4),  # (name, bits, n_tables)
    ("lsh_narrow", 10, 2),
)


def _ann_recall_oracle_sql(dim: int = 64, scale: int = 1000) -> str:
    """DuckDB twin of the full recall report: exact truth top-k (the
    top_k_cosine CTE), both quantized-LSH runs replayed from literal
    planes, then per-query hit counts with zero-hit queries kept."""
    branches = []
    ctes = [
        f"""e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * {scale})) AS vq
      FROM embeddings
    ),
    truth_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> q.v[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))),
                   6) AS cos_sim
      FROM e q, e c
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM truth_scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) <= {_K}
    ),
    allq AS (SELECT DISTINCT query_id FROM truth)"""
    ]
    for name, bits, n_tables in _ANN_CONFIGS:
        bucket_cols, collide = _lsh_sql_parts(
            dim, bits, n_tables, scale, prefix=f"{name}_b"
        )
        ctes.append(f"""{name}_tbl AS (
      SELECT vec_id, v,
         {bucket_cols}
      FROM e
    ),
    {name}_cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM {name}_tbl q JOIN {name}_tbl c ON ({collide})
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id != c.vec_id
    ),
    {name}_scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
                                           i -> qe.v[i] * ce.v[i]))
                   / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(ce.v, x -> x * x)))),
                   6) AS cos_sim
      FROM {name}_cand cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.neighbor_id
    ),
    {name}_top AS (
      SELECT query_id, neighbor_id FROM {name}_scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) <= {_K}
    ),
    {name}_hits AS (
      SELECT t.query_id, count(*) AS n_hit
      FROM truth t JOIN {name}_top a
        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      GROUP BY t.query_id
    )""")
        branches.append(f"""
    SELECT '{name}' AS "index", allq.query_id,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / {_K}.0, 4) AS recall_at_k
    FROM allq LEFT JOIN {name}_hits h ON allq.query_id = h.query_id""")
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        + "\n    UNION ALL\n".join(branches)
    )


@query("ann_recall_report", oracle=_ann_recall_oracle_sql())
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ANN quality self-report: recall@k of two quantized RP-LSH
    index configs (wide 8-bit×4-table vs narrow 10-bit×2-table)
    against the exact brute-force top-k, per query vector — the dial
    read before picking an index config for the corpus (companion to
    lsh_recall_report on the text side). Truth ∩ approx via left-semi
    joins at (query, neighbor) grain.

    Fully oracle-paired (VERDICT r04 item 3): quantized planes make
    both approximate runs engine-replayable, so the recall numbers
    themselves hash-check against DuckDB instead of rows-only. IVF
    recall (float-trained centroids, not SQL-replayable) remains
    pytest-anchored in tests/test_clustering.py."""
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    truth = similarity.brute_force_top_k(emb, queries, k=_K).select(
        "query_id", "neighbor_id"
    )
    reports = []
    for name, bits, n_tables in _ANN_CONFIGS:
        approx = similarity.rp_lsh_top_k(
            emb,
            queries,
            k=_K,
            dim=64,
            bits=bits,
            n_tables=n_tables,
            quantize_scale=1000,
        ).select("query_id", "neighbor_id")
        hit = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
        counts = hit.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
        # zero-hit queries must appear in the report (their absence is
        # the most important signal) — left-join from the query set
        all_q = truth.select("query_id").distinct()
        # coalesce inline instead of a separate na.fill op (r12 driver
        # build): same zero-fill semantics, one fewer DataFrame hop
        n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
        reports.append(
            all_q.join(counts, "query_id", "left").select(
                F.lit(name).alias("index"),
                "query_id",
                n_hit.cast("long").alias("n_hit"),
                F.round(n_hit / _K, 4).alias("recall_at_k"),
            )
        )
    out = reports[0].unionByName(reports[1])
    return out.orderBy("index", "query_id")
