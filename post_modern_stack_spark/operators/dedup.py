"""Deduplication operators for LLM-data pipelines (SURVEY.md §2 K1/K2).

All variants are pure DataFrame compositions (JVM-side, codegen-able):

- exact:   content hash → keep canonical row per hash.
- MinHash+LSH: shingle → k minhashes (xxhash64 with per-permutation
  seeds) → band hashes → bucket join → exact-Jaccard verification.
- SimHash: 64-bit sign-aggregated token-hash signature + Hamming
  distance candidate filter.
- n-gram Jaccard: exact pairwise similarity via shared-shingle join.

Scale notes: the LSH paths only ever join on (band, band_hash) /
(bucket) keys — candidate generation is linear-ish in corpus size, the
quadratic verification runs per-bucket only. The exact-Jaccard join
explodes shingles once per side and aggregates pair counts — its
shuffle is bounded by total shingle count, and hot shingles (stopword
n-grams) should be frequency-capped upstream at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.operators import vectors
from post_modern_stack_spark.operators.obs import checkpoint_observed


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """K1: exact dedup via content hash (sha2-256), keeping the lowest
    id per distinct text. GroupBy on the hash — never on the raw text —
    so 100 TB shuffle keys stay 32 bytes.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "text_sha", "n_copies")
    )


def shingles_from_tokens(toks: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingle set over an ALREADY-PROJECTED token-array
    attribute. Callers must materialize ``split(text)`` to a column
    first: interpreted higher-order-function eval re-evaluates
    non-attribute children per element, so slicing an inline split()
    inside the transform re-ran the split once per shingle (measured
    3.5× on the gram stage at sf0.1, r07)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingle_stream(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exploded distinct-shingle stream: (id, n_sh, shingle_h) with the
    shingle array built EXACTLY ONCE per row.

    The array is projected as an alias (so ``size`` and the generator
    both consume a per-row attribute) and exploded with
    ``explode_outer`` — InferFiltersFromGenerate only fires on
    non-outer generates, so no ``size(arr) > 0`` filter is inferred,
    and nothing gets re-inlined below the token projection (the
    SPARK-36715 trap that would re-run split() once per shingle).
    CollapseProject keeps the alias intact because the expression is
    non-cheap and referenced twice. Outer-explode is value-identical
    to explode here: for non-null text the shingle array always has
    ≥1 element (sequence(0, greatest(..,0)) is never empty), and null
    text is filtered up front (pushed to the scan).

    Measured at sf0.1 (single input partition, 3-sample medians):
    2.51 s vs 32.95 s for the r07 inline size+explode double-build and
    12.38 s for the r06 alias form whose inferred filter re-splits per
    shingle — the microbench written up in NOTES_r13.md.
    """
    sh_arr = shingles_from_tokens(F.col("__toks"), shingle_n)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__toks"))
        .select(F.col(id_col), sh_arr.alias("__sh"))
        .select(
            id_col,
            F.size("__sh").alias("n_sh"),
            F.explode_outer("__sh").alias("shingle"),
        )
        .select(id_col, "n_sh", F.xxhash64("shingle").alias("shingle_h"))
    )


MINHASH_P = 1_000_000_007


def _minhash_affine(s: int) -> tuple[int, int]:
    """Fixed per-permutation affine constants (engine-replayable)."""
    return (1103515245 * (s + 1)) % MINHASH_P, (12345 * (s + 1) + 67890) % MINHASH_P


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signatures, one shuffle.

    explode(shingles) → one grouped aggregation with ``num_hashes``
    ``min(xxhash64(seed_s, shingle))`` columns (partial aggregation
    collapses each doc's shingles map-side), assembled into a ``sig``
    array. Single pass over the shingle stream — vs per-row
    ``array_min(transform(...))×64`` which re-walks every shingle array
    64 times inside one projection (measured 16× slower at sf0.1).
    """
    sh = df.select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
            "shingle"
        ),
    )
    if hash_mode == "md5":
        # portable k-permutation family: affine maps of a 60-bit md5
        # base hash mod P — every term replayable in plain SQL, so the
        # signature (and the LSH banding built on it) oracle-checks
        x = (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % F.lit(MINHASH_P)
        )
        sh = sh.select(F.col(id_col), x.alias("x"))
        # SQL-string expressions, one parse each (r11: the per-seed
        # Column-method chains cost ~0.5 s of py4j round trips per
        # call — pure driver time; values are identical, the string
        # form builds the same literal*x+literal % literal tree)
        hash_cols = [
            F.expr(
                "min(({a} * x + {b}) % {p}) AS h{s}".format(
                    a=_minhash_affine(s)[0],
                    b=_minhash_affine(s)[1],
                    p=MINHASH_P,
                    s=s,
                )
            )
            for s in range(num_hashes)
        ]
    else:
        hash_cols = [
            F.expr(f"min(xxhash64({s}, shingle)) AS h{s}")
            for s in range(num_hashes)
        ]
    agg = sh.groupBy(id_col).agg(*hash_cols)
    return agg.select(
        F.col(id_col),
        F.expr(
            "array(%s)" % ",".join(f"h{s}" for s in range(num_hashes))
        ).alias("sig"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """K2 candidate generation: band the signature (bands × rows/band),
    hash each band, explode to (band_idx, band_hash) keys, self-join on
    the bucket. Returns candidate pairs (id_a < id_b) with band hit
    counts. Verification (exact Jaccard) is a separate operator so its
    cost is explicit.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            f"evenly; trailing hashes would be silently ignored"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_mode)
    banded = sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    # md5 mode joins on the raw band string (portable);
                    # default compresses it to a 64-bit bucket key
                    (
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                        if hash_mode == "md5"
                        else F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                    lambda v: v.cast("string"),
                                ),
                            )
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("band_hits"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    explode → self-join on shingle → pair-count agg → |A∩B| /
    (|A|+|B|−|A∩B|). The join key is a 64-bit shingle hash, not the
    string. Deterministic, so DuckDB-oracle-checkable.

    The shingle stream builds the array once per row via the
    outer-explode alias form — see ``shingle_stream``.
    """
    sh = shingle_stream(df, id_col, text_col, shingle_n)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.shingle_h") == F.col("b.shingle_h"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate pairs → duplicate
    clusters (the final step of corpus dedup: keep one doc per cluster).

    Distributed min-label propagation: every node starts labeled with
    its own id; each iteration joins labels across edges and takes the
    min; stops when no label changes. Iterations ≈ graph diameter —
    near-dup graphs are dense clumps with tiny diameters, so this
    converges in a few rounds at any corpus size (the classic
    large-star/small-star simplification).

    Returns (doc_id, cluster_id) where cluster_id = min doc id in the
    component. Plain iterative DataFrame joins — checkpoint-friendly,
    no driver-side graph.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()  # reused every iteration — cut its lineage once
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint truncates the per-iteration lineage:
        # without it every round re-plans (and re-runs) all prior
        # rounds — plan compilation alone goes super-linear.
        #
        # Convergence detection rides the SAME materialization
        # (operators/obs.checkpoint_observed, r11 optimization round):
        # the old form ran a separate new⋈old join + limit+count ACTION
        # per iteration — one extra job AND a node-grain shuffle join
        # per round at any scale. The propagated label is monotone
        # non-increasing, so "any label strictly below its previous
        # value" is exactly the old inequality check, computable
        # row-by-row during the checkpoint write for free. ``__old``
        # stays in the checkpoint so the fallback aggregate resolves.
        new_labels, m = checkpoint_observed(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            ),
            n_changed=F.coalesce(
                F.sum((F.col("label") != F.col("__old")).cast("long")), F.lit(0)
            ),
        )
        labels = new_labels.select("node", "label")
        if m["n_changed"] == 0:
            break
    else:
        # returning unconverged labels would silently split components
        # (duplicate docs survive dedup); fail loudly instead
        raise RuntimeError(
            f"cluster_pairs did not converge in {max_iterations} iterations "
            "(component diameter exceeds the budget); raise max_iterations"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash signatures, one shuffle.

    Per doc: token hashes h_t; bit_i(sig) = 1 iff Σ_t (±1 by bit_i of
    h_t) > 0. Computed as explode(tokens) → xxhash64 → one grouped
    aggregation with ``bits`` conditional sums (single pass, partial
    aggregation applies), then the sign bits are packed into a long.
    All shift amounts are Python ints, so everything stays a static
    expression; bit 63 uses the sign-bit literal to avoid long overflow.
    """
    if hash_mode == "md5":
        # engine-portable 60-bit token hash: leading 15 hex chars of
        # md5 — replayable in any SQL engine, which makes the whole
        # signature (and banded pair set) oracle-checkable; xxhash64
        # stays the cheap JVM default at scale
        h_expr = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        h_expr = F.xxhash64("tok")
    tok_hashes = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).select(F.col(id_col), h_expr.alias("h"))
    # expressions built as SQL strings, ONE catalyst parse each, not
    # per-bit Column-method chains (r11 optimization round: the old
    # form issued ~600 py4j round trips — 64×(shiftright→&→==→when→
    # otherwise→sum) plus a 64-step bitwiseOR fold — costing ~1.2 s of
    # DRIVER time per call at any data size; profiler build_ms 1 414 →
    # ~250 after. CASE WHEN here is the same Catalyst tree F.when
    # built, so signatures are bit-identical).
    votes = tok_hashes.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((shiftright(h, {i}) & 1) = 1) "
                f"THEN 1 ELSE -1 END) AS v{i}"
            )
            for i in range(bits)
        ]
    )
    terms = []
    for i in range(bits):
        if i < 63:
            mask = f"CAST({1 << i} AS BIGINT)"
        else:
            # Long.MIN_VALUE has no negative bigint literal form the
            # parser accepts in one token; shift constructs it exactly
            mask = "shiftleft(CAST(1 AS BIGINT), 63)"
        terms.append(f"(CASE WHEN v{i} > 0 THEN {mask} ELSE CAST(0 AS BIGINT) END)")
    sig_sql = " | ".join(terms)
    return votes.select(F.col(id_col), F.expr(sig_sql).alias("sig"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    band_bits: int = 16,
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit signature bands (a pair
    within Hamming ≤ 3 shares ≥1 of 4 bands; wider radii raise band
    count), then filter exactly by ``bit_count(xor)``.
    """
    sigs = simhash_signatures(df, id_col, text_col, bits=bits, hash_mode=hash_mode)
    nbands = bits // band_bits
    banded = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "sig", "bh.band", "bh.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# (session id, semantic-plan hash, id_col, vec_col) → Broadcast of
# (ids, mat, norms). Bounded memo: repeated calls on the same logical
# corpus (bench best-of re-runs, plan-only explain paths after a prior
# run) reuse one collect + one broadcast instead of re-collecting and
# leaking broadcasts. Keyed by SparkSession identity so a cached
# broadcast can never outlive its owning session and get replayed into
# a restarted one (ADVICE round 1). Eviction unpersists, so at most
# _CORPUS_MEMO_MAX broadcasts are live.
_corpus_memo: "OrderedDict" = None  # initialized lazily below
_CORPUS_MEMO_MAX = 4


def _corpus_memo_key(embeddings: DataFrame, id_col: str, vec_col: str):
    return (
        # applicationId is unique per SparkContext lifetime — unlike
        # id(session), it can't alias a new session after the old one is
        # garbage-collected.
        embeddings.sparkSession.sparkContext.applicationId,
        embeddings.select(id_col, vec_col).semanticHash(),
        id_col,
        vec_col,
    )


def _corpus_broadcast(embeddings: DataFrame, id_col: str, vec_col: str):
    from collections import OrderedDict

    global _corpus_memo
    if _corpus_memo is None:
        _corpus_memo = OrderedDict()
    key = _corpus_memo_key(embeddings, id_col, vec_col)
    bc = _corpus_memo.pop(key, None)
    if bc is None:
        b_ids, b_mat = vectors.collect_matrix(embeddings, id_col, vec_col)
        b_norms = np.linalg.norm(b_mat, axis=1)
        bc = embeddings.sparkSession.sparkContext.broadcast(
            (b_ids.astype(np.int64), b_mat, b_norms)
        )
    _corpus_memo[key] = bc  # re-insert → most-recently-used
    while len(_corpus_memo) > _CORPUS_MEMO_MAX:
        _, old = _corpus_memo.popitem(last=False)
        try:
            old.unpersist()
        except Exception:
            pass
    return bc


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: str = "auto",
    dim: int = 64,
    bits: int = 8,
    n_tables: int = 4,
    exact_max_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (K2 family, vector modality):
    (id_a < id_b, cos_sim) for every pair with cosine ≥ ``threshold``.

    - ``candidates='auto'`` (default, VERDICT r05 item 4 — same
      size-dispatched pattern as ``semantic_dedup_auto``): one count
      aggregate routes corpora at or under ``exact_max_rows`` to the
      exact GEMM path and larger ones to LSH, so no default code path
      ever collects an unbounded corpus to the driver. 200k rows of
      64-dim float64 ≈ 110 MB broadcast — comfortably inside a
      broadcast-join small-side budget; raise/lower with executor
      memory.
    - ``candidates='exact'``: blocked matmul — each Arrow batch of the
      (distributed) corpus is multiplied against a broadcast normalized
      matrix of the whole corpus in one numpy GEMM, emitting only pairs
      ≥ threshold. Exact O(n²) math at BLAS speed; valid while one copy
      of the corpus fits in a broadcast (the same contract as a
      broadcast join's small side). An earlier expression-tree version
      (broadcast self-join + aggregate/zip_with cosine) was ~50× slower:
      higher-order array lambdas are interpreted, outside codegen.
    - ``candidates='lsh'``: the 100 TB path — multi-table
      random-hyperplane buckets (similarity._all_table_buckets_udf)
      generate colliding pairs; exact cosine refines. Candidate
      generation is an equi-join on (table, bucket), so cost follows
      bucket collisions, not n²; recall follows the LSH dial
      (1 - (1 - p^bits)^n_tables).

    NOTE: 'exact' is exhaustive; 'lsh' is approximate (recall < 1 by
    design), so 'auto' trades exhaustiveness for boundedness above the
    threshold — callers needing exact output past ``exact_max_rows``
    must widen the LSH dial or shard the exact path explicitly.
    """
    from post_modern_stack_spark.functions import cosine_similarity
    from post_modern_stack_spark.operators.similarity import (
        _all_table_buckets_udf,
        as_double_array,
    )

    if candidates == "auto":
        # Bounded existence probe (VERDICT r10 item 6): the router only
        # needs to know WHETHER the corpus exceeds exact_max_rows, not
        # its cardinality, so count a LIMIT exact_max_rows+1 subtree —
        # CollectLimit stops scanning once the limit is hit, where a
        # full count() at 100 TB is a whole-corpus scan before any work.
        # And not even that if a corpus broadcast is already memoized
        # for this logical corpus: only the exact path builds one, so a
        # memo hit PROVES a prior routing decision said "small" — the
        # repeated-call case (bench re-runs, a driver loop re-invoking
        # the same dedup) skips the probe job entirely.
        if _corpus_memo and _corpus_memo_key(
            embeddings, id_col, vec_col
        ) in _corpus_memo:
            candidates = "exact"
        else:
            probe = embeddings.limit(exact_max_rows + 1).count()
            candidates = "exact" if probe <= exact_max_rows else "lsh"
        if candidates == "lsh":
            import warnings

            warnings.warn(
                f"embedding_near_dups: corpus exceeds "
                f"exact_max_rows={exact_max_rows} (bounded probe); "
                "auto-routing to LSH candidates (recall < 1). Pass "
                "candidates='exact' and more executor memory to force "
                "exhaustive output.",
                stacklevel=2,
            )

    if candidates == "exact":
        bc = _corpus_broadcast(embeddings, id_col, vec_col)

        def block_sims(batches):
            ids_b, mat_b, norms_b = bc.value
            for batch in batches:
                a_ids = batch.column(0).to_numpy().astype(np.int64)
                a_mat = vectors.matrix(batch.column(1), mat_b.shape[1])
                a_norms = np.linalg.norm(a_mat, axis=1)
                denom = np.outer(a_norms, norms_b)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round((a_mat @ mat_b.T) / denom, 6)
                keep = (sims >= threshold) & (a_ids[:, None] < ids_b[None, :])
                ai, bi = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a_ids[ai]), pa.array(ids_b[bi]), pa.array(sims[ai, bi])],
                    names=["id_a", "id_b", "cos_sim"],
                )

        return embeddings.select(id_col, vec_col).mapInArrow(
            block_sims, schema="id_a long, id_b long, cos_sim double"
        )
    elif candidates == "lsh":
        buckets_udf = _all_table_buckets_udf(dim, bits, n_tables)

        def sides(out_id: str, vec_out: str) -> DataFrame:
            return embeddings.select(
                F.col(id_col).alias(out_id),
                as_double_array(vec_col).alias(vec_out),
                F.posexplode(buckets_udf(F.col(vec_col))).alias("tbl", "bucket"),
            )

        pairs = (
            sides("id_a", "va")
            .join(sides("id_b", "vb"), ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "va", "vb")
        )
    else:
        raise ValueError(f"unknown candidates strategy: {candidates!r}")

    return (
        pairs.withColumn("cos_sim", F.round(cosine_similarity("va", "vb"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def jaccard_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for a GIVEN candidate-pair set (id_a,
    id_b) — the verification stage of every candidates→verify dedup
    pipeline (MinHash LSH, prefix filtering, sorted neighborhood),
    O(candidates × doc length) instead of O(all-pairs join fan-out).

    Candidate pairs join to PER-DOC shingle-hash arrays and intersect
    locally (``array_intersect`` hashes the smaller side). The
    previous pipeline shape — run the full shingle self-join, then
    semi-filter to candidates — squared every hot shingle before the
    filter could drop a row; here fan-out never exists: candidate ids
    are the only join keys, arrays are doc-length-bounded, and nothing
    shuffles at pair×shingle grain. Arrays are built with the same
    attribute-projected single-build discipline as ``shingle_stream``.

    Output: (id_a, id_b, jaccard) for candidate pairs with jaccard ≥
    ``min_jaccard`` — identical to ``jaccard_pairs(...)`` semi-joined
    to ``candidates`` (pinned by tests), as long as candidates use the
    same id_a < id_b convention. ``candidates`` must be DISTINCT pairs
    (both in-repo generators are: the LSH candidates end in a
    (id_a, id_b) groupBy, the prefix candidates in a distinct()) —
    a duplicated input pair duplicates its output row here, where the
    old semi-join shape silently absorbed it; no defensive distinct()
    is added because it would cost a candidate-grain shuffle in every
    pipeline to mask a malformed input. One caveat at
    ``min_jaccard == 0``:
    a candidate pair sharing NO shingle is emitted here with
    jaccard 0.0, while ``jaccard_pairs`` never materializes it — pass
    a positive threshold (every verify pipeline does) for exact
    set equality.
    """
    sh_arr = shingles_from_tokens(F.col("__toks"), shingle_n)
    arrays = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__toks"))
        .select(F.col(id_col), sh_arr.alias("__sh"))
        .select(
            id_col,
            F.size("__sh").alias("n_sh"),
            F.transform("__sh", lambda s: F.xxhash64(s)).alias("__sha"),
        )
    )
    inter = (
        candidates.select("id_a", "id_b")
        .join(
            arrays.select(
                F.col(id_col).alias("id_a"),
                F.col("n_sh").alias("n_a"),
                F.col("__sha").alias("__sa"),
            ),
            "id_a",
        )
        .join(
            arrays.select(
                F.col(id_col).alias("id_b"),
                F.col("n_sh").alias("n_b"),
                F.col("__sha").alias("__sb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_common"),
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def jaccard_pairs_prefix(
    df: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    verify: str = "stream",
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ τ via PREFIX FILTERING (PPJoin
    principle) — same output as ``jaccard_pairs(min_jaccard=τ)`` for
    τ > 0, but candidates come from a tiny slice of each document.

    Why it scales where the plain variant doesn't: the all-token
    self-join explodes on common shingles (every pair sharing "of the"
    becomes a candidate). Under a GLOBAL token order (rarest first),
    J(A,B) ≥ τ implies |A∩B| ≥ ⌈τ·|A|⌉, so A and B must already share
    a token among their first |A|−⌈τ·|A|⌉+1 ordered tokens. Joining on
    PREFIX tokens only — mostly rare ones, small join fan-out — yields
    every qualifying pair; an exact intersection count over the full
    token sets then verifies. A size filter (τ·|A| ≤ |B| ≤ |A|/τ)
    prunes further. At 100 TB: candidate volume tracks rare-token
    collisions instead of stop-word squares, and the verify join is
    keyed on the (small) candidate pair set.

    ``verify`` picks the exact-intersection strategy (identical
    output, measured r09):
    - ``"stream"`` (default): full shingle self-join semi-filtered to
      candidates, counted by group — one wide shuffle, cheapest when
      candidates ≈ fan-out (low τ, low skew: 3.1 s vs arrays' 5.7 s on
      full sf0.1 at τ=0.2);
    - ``"arrays"``: join candidate pairs to per-doc shingle-hash
      arrays and ``array_intersect`` locally — O(candidates × doc
      length), immune to hot-shingle fan-out (hot-header corpus,
      fan-out 505 rows/row: 4.0 s vs stream's ~10 s; the plain join
      never finished). ``jaccard_pairs_auto`` picks arrays whenever
      its skew statistic routes to prefix at all.
    """
    if not 0.0 < min_jaccard <= 1.0:
        raise ValueError("prefix filtering requires 0 < min_jaccard <= 1")
    if verify not in ("stream", "arrays"):
        raise ValueError("verify must be 'stream' or 'arrays'")

    sh = shingle_stream(df, id_col, text_col, shingle_n)
    freq = sh.groupBy("shingle_h").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("shingle_h"))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + 1
    ).cast("int")
    prefixes = (
        sh.join(freq, "shingle_h")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .select(id_col, "n_sh", "shingle_h")
    )
    pa, pb = prefixes.alias("pa"), prefixes.alias("pb")
    candidates = (
        pa.join(
            pb,
            on=[
                F.col("pa.shingle_h") == F.col("pb.shingle_h"),
                F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"),
                # size filter: τ·|A| ≤ |B| ≤ |A|/τ is necessary for J ≥ τ
                F.col("pb.n_sh") >= F.ceil(F.lit(min_jaccard) * F.col("pa.n_sh")),
                F.col("pb.n_sh") * F.lit(min_jaccard) <= F.col("pa.n_sh"),
            ],
        )
        .select(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if verify == "arrays":
        return jaccard_verify_pairs(
            df,
            candidates,
            min_jaccard=min_jaccard,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
        )
    else:
        # stream verify: intersection counts from the full shingle
        # self-join, semi-restricted to the candidate pairs — one wide
        # shuffle whose aggregate only keeps candidate groups
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                on=[
                    F.col("a.shingle_h") == F.col("b.shingle_h"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.n_sh").alias("n_a"),
                F.col("b.n_sh").alias("n_b"),
            )
            .join(candidates, ["id_a", "id_b"], "left_semi")
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def jaccard_pairs_auto(
    df: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    skew_threshold: float = 16.0,
    precomputed_fanout: tuple[float, float] | None = None,
) -> DataFrame:
    """EAGER AT CONSTRUCTION: runs one corpus-scale frequency-aggregate
    job (a blocking 1-row collect) to pick the route BEFORE returning
    the DataFrame — the routing decision is frozen against the data as
    of this call, not re-evaluated at action time. Pipelines that
    already know the corpus shape can pass
    ``precomputed_fanout=(fanout, rows)`` to skip the stat job and
    stay lazy (ADVICE r09).

    Skew-routed exact Jaccard ≥ τ (VERDICT r08: prefix filtering is
    3.4× SLOWER than the plain shingle self-join at 1M docs when
    shingles are mostly unique — its frequency agg, per-doc ranking
    window, candidate distinct and semi-join verify are pure overhead
    if the plain join's fan-out is small to begin with; on a
    stop-shingle-skewed corpus the plain join squares the hot keys and
    prefix wins by orders of magnitude).

    The routing statistic is the plain join's EXACT output fan-out:
    Σ c·(c−1)/2 over shingle frequencies = the number of (row, row)
    matches the self-join would emit. One map-side-combinable
    frequency aggregate + a 1-row collect — distinct-shingle grain, so
    the stat costs about as much as building one side of the join it
    is sizing, and nothing corpus-proportional is materialized (the
    shingle stream is recomputed by whichever branch runs, the same
    recompute-over-checkpoint route the curation funnel measured).
    Route to prefix — with the arrays verify, whose cost tracks
    candidates instead of fan-out — when fan-out exceeds
    ``skew_threshold`` candidate rows per shingle-stream row.
    Calibration (r09, 3-sample medians): full sf0.1 sits at 4.9
    fan-out/row where plain (3.19 s) ≈ prefix-stream (3.10 s) and both
    beat prefix-arrays (5.7 s) — so the threshold sits safely above
    the parity point; the hot-header corpus at 505 fan-out/row runs
    4.0 s via prefix-arrays while the plain join never finished
    (>9 min, 10k docs). Mostly-unique 1M-doc corpora (≪1 fan-out/row)
    measured plain 3.4× faster than prefix in r08.
    """
    if precomputed_fanout is not None:
        fanout, rows = float(precomputed_fanout[0]), float(precomputed_fanout[1])
    else:
        sh = shingle_stream(df, id_col, text_col, shingle_n)
        stats = (
            sh.groupBy("shingle_h")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("fanout"),
                F.sum("c").alias("rows"),
            )
            .collect()[0]
        )
        fanout = float(stats["fanout"] or 0.0)
        rows = float(stats["rows"] or 1.0)
    if fanout / max(rows, 1.0) > skew_threshold:
        return jaccard_pairs_prefix(
            df,
            min_jaccard,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
            verify="arrays",
        )
    return jaccard_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        min_jaccard=min_jaccard,
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.5,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[EXT] SemDeDup-style semantic deduplication (Abbas et al. 2023):
    within each cluster, a vector is dropped when any LOWER-id cluster
    member sits within cosine ``threshold`` — keeping the min-id
    representative of every semantic neighborhood.

    Here the cluster assignment is the ``cluster_col`` column (the
    deterministic stand-in for the k-means step; ``similarity.ivf_top_k``
    holds the trained-centroid machinery). The quadratic pairwise pass
    runs PER CLUSTER as numpy GEMMs inside applyInArrow — exactly
    the SemDeDup recipe: clustering bounds the O(n²) to cluster sizes,
    clusters dedup in parallel across executors, and nothing is ever
    all-pairs across the corpus. At 100 TB the same plan holds as long
    as each cluster's vectors fit one task (the paper's k is chosen to
    make it so).

    Skew hardening (VERDICT r04 item 5): a skewed clustering can hand
    one task a 100k-member cluster, whose FULL similarity matrix is
    100k² × 8 B = 80 GB — an OOM, not a slowdown. The GEMM therefore
    runs in row blocks of ``block_rows`` against all lower-id columns:
    peak memory drops to O(block·n) (~3 GB for 100k at the default
    4096) while the flops — inherent to SemDeDup's within-cluster
    definition — stay O(n²)·dim in fast BLAS. Each (i,j) cosine is
    computed by the same dot/norm expression as the unblocked form, so
    results are bit-identical (the oracle pairing stays valid).
    Clusters at the paper's intended ~1k grain take exactly one block,
    i.e. the fast path is unchanged.

    Emits one row per vector: (id, cluster, n_close_lower, keep).
    """
    from pyspark.sql import types as T

    # id/cluster output types mirror the INPUT schema (ADVICE round-3:
    # hardcoded long/int broke bigint cluster labels joined from
    # cluster_pairs output, though the computation is type-agnostic)
    in_schema = embeddings.schema
    schema = T.StructType(
        [
            T.StructField(id_col, in_schema[id_col].dataType, True),
            T.StructField(cluster_col, in_schema[cluster_col].dataType, True),
            T.StructField("n_close_lower", T.LongType(), True),
            T.StructField("keep", T.IntegerType(), True),
        ]
    )

    block_rows = 4096

    def dedup_cluster(t: pa.Table) -> pa.Table:
        t = t.sort_by(id_col)
        mat = vectors.matrix(t.column(vec_col))
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        n = t.num_rows
        n_close = np.zeros(n, dtype=np.int64)
        # row-blocked strictly-lower-triangular pass: rows s..e-1 only
        # ever need columns < e, so each block's sims slab is
        # (block × e) — never the n×n matrix
        for s in range(0, n, block_rows):
            e = min(s + block_rows, n)
            sims = (mat[s:e] @ mat[:e].T) / np.outer(norms[s:e], norms[:e])
            # neighbors with a strictly smaller id (col index < row index)
            lower = np.arange(e)[None, :] < np.arange(s, e)[:, None]
            n_close[s:e] = ((sims >= threshold) & lower).sum(axis=1)
        return pa.table(
            {
                id_col: t.column(id_col),
                cluster_col: t.column(cluster_col),
                "n_close_lower": n_close,
                "keep": (n_close == 0).astype(np.int32),
            }
        )

    return (
        embeddings.select(id_col, cluster_col, vec_col)
        .groupBy(cluster_col)
        .applyInArrow(dedup_cluster, schema=schema)
    )


def semantic_dedup_sharded(
    embeddings: DataFrame,
    threshold: float = 0.5,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 8192,
) -> DataFrame:
    """[EXT] straggler-proof SemDeDup: identical results to
    ``semantic_dedup``, but the per-cluster O(n²) pass is decomposed
    into BLOCK-PAIR tasks so one skewed giant cluster parallelizes
    across executors instead of serializing into a single task.

    Motivation (VERDICT r04 item 5, measured on the 1M-doc ladder): a
    clustering that routes 10% of the corpus into one cluster turns
    semantic_dedup into a 257 s single-task straggler (uniform ~1000-
    member clusters: 11 s). The row-blocked GEMM already prevents the
    O(n²)-memory OOM; this variant also spreads the O(n²) FLOPs.

    Plan: rank members within each cluster by id → block index
    ``rank // shard_rows`` → pack each (cluster, block) into one row
    of id-sorted (id, vec) structs → join row-blocks j with col-blocks
    i ≤ j (equi on cluster, block filter post-join) → one Arrow GEMM
    per block pair, counting neighbors with a strictly smaller id
    (i < j: every col qualifies by construction, blocks are id-ordered;
    i = j: mask col_id < row_id) → hash-agg partial counts per vector.
    A 100k-member cluster becomes ~91 independent ~8k×8k GEMMs.
    Cosines use the same dot/(norm·norm) expression as semantic_dedup,
    so per-pair values are bit-identical and keep/n_close match
    exactly (parity-tested).

    Cost note: block packing + the pair join add ~nb× payload
    duplication per cluster (nb = block count), which is why this is
    the SKEW path, not the default — at the paper's ~1k cluster grain
    ``semantic_dedup`` does one task per cluster with zero packing
    overhead. Dispatch on max observed cluster size upstream, or run
    this form unconditionally when the clustering is untrusted.
    """
    from pyspark.sql import types as T

    in_schema = embeddings.schema
    id_type = in_schema[id_col].dataType
    cluster_type = in_schema[cluster_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type, True),
            T.StructField(cluster_col, cluster_type, True),
            T.StructField("n_close_lower", T.LongType(), True),
            T.StructField("keep", T.IntegerType(), True),
        ]
    )
    partial_schema = T.StructType(
        [
            T.StructField(id_col, id_type, True),
            T.StructField(cluster_col, cluster_type, True),
            T.StructField("__partial", T.LongType(), True),
        ]
    )

    w = Window.partitionBy(cluster_col).orderBy(id_col)
    blocks = (
        embeddings.select(id_col, cluster_col, vec_col)
        .withColumn(
            "__blk",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(shard_rows)).cast(
                "int"
            ),
        )
        .groupBy(cluster_col, "__blk")
        .agg(
            # struct sorts by its first field → id-sorted payload
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col(vec_col)))
            ).alias("__items")
        )
    )
    rows_side = blocks.select(
        F.col(cluster_col).alias("__cl"),
        F.col("__blk").alias("__bj"),
        F.col("__items").alias("__rows"),
    )
    cols_side = blocks.select(
        F.col(cluster_col).alias("__cl2"),
        F.col("__blk").alias("__bi"),
        F.col("__items").alias("__cols"),
    )
    pair_tasks = rows_side.join(
        cols_side,
        (F.col("__cl") == F.col("__cl2")) & (F.col("__bi") <= F.col("__bj")),
    ).select("__cl", "__bj", "__bi", "__rows", "__cols")
    # one GEMM per (cluster, j, i) — repartition so pair tasks spread
    # over executors instead of riding the block-agg partitioning
    pair_tasks = pair_tasks.repartition("__cl", "__bj", "__bi")

    def run(batches):
        for batch in batches:
            # each task row packs id-sorted (id, vec) structs; the
            # flattened struct children hold every task's rows and cols
            rows, cols = batch.column("__rows"), batch.column("__cols")
            r_items, c_items = rows.flatten(), cols.flatten()
            rid = r_items.field(id_col).to_numpy(zero_copy_only=False)
            cid = c_items.field(id_col).to_numpy(zero_copy_only=False)
            rmat = vectors.matrix(r_items.field(vec_col))
            cmat = vectors.matrix(c_items.field(vec_col), rmat.shape[1])
            rn, cn = np.linalg.norm(rmat, axis=1), np.linalg.norm(cmat, axis=1)
            rn[rn == 0] = 1.0
            cn[cn == 0] = 1.0
            r_off = np.cumsum([0, *rows.value_lengths().to_numpy()])
            c_off = np.cumsum([0, *cols.value_lengths().to_numpy()])
            bi, bj = batch.column("__bi").to_numpy(), batch.column("__bj").to_numpy()
            n_close = np.zeros(len(rid), dtype=np.int64)
            for i in range(batch.num_rows):
                r, c = slice(r_off[i], r_off[i + 1]), slice(c_off[i], c_off[i + 1])
                sims = (rmat[r] @ cmat[c].T) / np.outer(rn[r], cn[c])
                close = sims >= threshold
                if bi[i] == bj[i]:
                    close &= cid[c][None, :] < rid[r][:, None]
                n_close[r] = close.sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    r_items.field(id_col),
                    batch.column("__cl").take(rows.value_parent_indices()),
                    pa.array(n_close),
                ],
                names=[id_col, cluster_col, "__partial"],
            )

    partials = pair_tasks.mapInArrow(run, schema=partial_schema)
    return partials.groupBy(id_col, cluster_col).agg(
        F.sum("__partial").alias("n_close_lower")
    ).select(
        id_col,
        cluster_col,
        "n_close_lower",
        (F.col("n_close_lower") == 0).cast("int").alias("keep"),
    )


def semantic_dedup_auto(
    embeddings: DataFrame,
    threshold: float = 0.5,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 8192,
) -> DataFrame:
    """[EXT] SemDeDup with size-based dispatch: clusters at or under
    ``shard_rows`` run the zero-overhead one-task-per-cluster path
    (``semantic_dedup``); oversized clusters run the block-pair
    sharded path (``semantic_dedup_sharded``), so a skewed clustering
    neither straggles nor taxes the well-sized majority with packing
    overhead. One extra cluster-size aggregate decides the routing;
    the oversized-cluster id list is cluster-count-bounded (collected
    to the driver, same class as the Lloyd centroid collect).

    Measured (1M docs, 10% of corpus in one 100k cluster, 32 cores;
    two host windows — BASELINE.md round-8 row is the committed one):
    plain 257–404 s (single straggler task) → sharded-everything
    123–152 s → auto 48–58 s; uniform ~1k clusters stay at the plain
    path's 6–11 s.
    """
    sizes = (
        embeddings.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > shard_rows)
        .select(cluster_col)
        .collect()
    )
    big = [r[cluster_col] for r in sizes]
    if not big:
        return semantic_dedup(embeddings, threshold, cluster_col, id_col, vec_col)
    small_part = embeddings.filter(~F.col(cluster_col).isin(big))
    big_part = embeddings.filter(F.col(cluster_col).isin(big))
    return semantic_dedup(
        small_part, threshold, cluster_col, id_col, vec_col
    ).unionByName(
        semantic_dedup_sharded(
            big_part, threshold, cluster_col, id_col, vec_col, shard_rows
        )
    )


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] best-survivor selection after near-dup clustering: per
    cluster keep the highest-``score_col`` member (ties → min id), the
    way production dedup keeps the cleanest copy instead of an
    arbitrary one.

    ``clusters`` is (id, cluster_id) covering only docs WITH a
    duplicate (cluster_pairs output); rows absent from it are
    singletons and survive unconditionally (cluster_id = own id).
    One broadcast-able left join (the cluster table is duplicate rows
    only — a small fraction of the corpus) + one max_by per cluster.
    """
    joined = df.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    # single-pass argmax: widened composite orders by (score, -id) so
    # max_by picks highest score with min-id tie-break (the decimal
    # composite idiom — never a padded string, never cast-then-max)
    best = joined.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), -F.col(id_col)),
        ).alias("best_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return joined.join(best, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        "cluster_size",
        F.col(score_col),
        (F.col(id_col) == F.col("best_id")).cast("int").alias("kept"),
    )


def minhash_lsh_candidates_cross(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """K2 INCREMENTAL candidate generation: near-dup candidates of the
    NEW batch against the EXISTING corpus — the nightly-ingest dedup
    shape. Cost is proportional to the new batch's bucket collisions,
    never corpus × corpus: both sides band identically (same hash
    family, so a signature computed at ingest time can be stored and
    reused), then an equi-join on (band, band_hash) keyed new-side.
    Returns (id_new, id_corpus, band_hits).

    At 100 TB the corpus-side banded table is the thing you PERSIST
    (store signatures at ingest; the nightly join reads them instead
    of re-shingling history) — this function recomputes it only
    because the catalog has no signature store wired in.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly"
        )
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_n, hash_mode
        )
        return sig.select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        (
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("sig"),
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda v: v.cast("string"),
                                ),
                            )
                            if hash_mode == "md5"
                            else F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    F.transform(
                                        F.slice(
                                            F.col("sig"),
                                            b * rows_per_band + 1,
                                            rows_per_band,
                                        ),
                                        lambda v: v.cast("string"),
                                    ),
                                )
                            )
                        ).alias("band_hash"),
                    ),
                )
            ).alias("bh"),
        ).select(id_col, "bh.band", "bh.band_hash")

    n = banded(new).alias("n")
    c = banded(corpus).alias("c")
    return (
        n.join(
            c,
            on=[
                F.col("n.band") == F.col("c.band"),
                F.col("n.band_hash") == F.col("c.band_hash"),
            ],
        )
        .groupBy(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"c.{id_col}").alias("id_corpus"),
        )
        .agg(F.count(F.lit(1)).alias("band_hits"))
    )
