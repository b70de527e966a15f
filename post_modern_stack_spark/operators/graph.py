"""Iterative graph algorithms on DataFrames (SURVEY.md §2 K-family
widened: graph structure over pipeline-derived edges).

``cluster_pairs`` (operators/dedup.py) already covers iterative
min-label propagation; this module adds the weighted-contribution
pattern (PageRank) — the other canonical shape for iterative DataFrame
jobs: join ranks to edges, redistribute, re-aggregate, checkpoint.

Scale posture: each iteration is one join (ranks ⋈ out-degree-annotated
edges, shuffled on src) + one aggregation (shuffled on dst);
``localCheckpoint`` truncates lineage every iteration so plan size and
stage count stay constant over arbitrarily many iterations. The
dangling-mass correction costs one tiny scalar aggregate per iteration
(node-grain, not edge-grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from post_modern_stack_spark.operators.obs import checkpoint_observed


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 8,
    src: str = "src",
    dst: str = "dst",
    checkpoint_interval: int = 2,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank over an edge list; returns (node, rank), Σrank = 1
    (no rows for an empty edge list).

    Deterministic for a fixed iteration count (no convergence
    threshold — thresholds make results depend on float noise).
    Dangling nodes (no out-edges) redistribute their mass uniformly,
    the standard correction, so total rank stays exactly 1 and the
    result matches the dense power-iteration oracle (parity test).

    Per-iteration cost discipline:
    - the dangling mass stays IN-PLAN (a broadcast 1-row aggregate
      crossed into the update — no driver collect), computed as a
      flag-filtered sum over the rank frame: the dangling flag is
      joined into the node frame ONCE up front, so no per-iteration
      anti-join shuffle (measured ~25%% of iteration time at sf0.1);
    - lineage is truncated only every ``checkpoint_interval``
      iterations — each checkpoint is a real materialization job, so
      checkpointing every iteration paid ~8 jobs where a few suffice.
      Interval 2 (r11 interleaved A/B at sf0.1, values bit-identical
      at any interval): medians 3.0–3.5 s vs 3.4–4.1 s at interval 3 —
      between checkpoints each iteration's plan references the
      previous ranks frame twice (dangling-mass agg + the broadcast
      side), so deeper un-truncated chains re-execute more of the
      rank lineage than the saved checkpoint job costs;
    - ``broadcast_ranks=True`` broadcasts the node-grain rank frame
      into the edge join, so the edge-grain side is never shuffled per
      iteration. Right when the node set is bounded (item/user
      catalogs — the common recommender case); leave False when nodes
      themselves are fact-scale (web graphs), where the shuffled
      sort-merge join is the only option.
    """
    e = edges.select(src, dst).distinct()
    outdeg = e.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    has_out = outdeg.select(F.col(src).alias("node"), F.lit(True).alias("_has_out"))
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
        .join(has_out, "node", "left_outer")
        .select("node", F.coalesce("_has_out", F.lit(False)).alias("_has_out"))
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # no edges, no nodes: an empty (node, rank) frame, not 1/0
        return nodes.select("node", F.lit(0.0).alias("rank"))
    annotated = e.join(outdeg, src).localCheckpoint()

    dang_sum = F.coalesce(
        F.sum(F.when(~F.col("_has_out"), F.col("rank"))), F.lit(0.0)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    # r12 (VERDICT r11 item 5): the dangling-mass scalar of a
    # CHECKPOINTED rank frame rides the checkpoint's own
    # materialization (operators/obs.checkpoint_observed), so the next
    # iteration's update uses a plain double literal instead of
    # re-aggregating the rank frame in-plan — one fewer rank-frame
    # reference (aggregate subtree + 1-row broadcast exchange) in every
    # post-checkpoint iteration's plan. Iterations NOT preceded by a
    # checkpoint keep the in-plan aggregate — identical math: the
    # observe computes the same sum(when(...)) over the same
    # materialized rows the in-plan aggregate scans.
    dang_known: float | None = None
    for it in range(iters):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            annotated.join(rank_side, annotated[src] == ranks["node"])
            .select(F.col(dst).alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        updated = nodes.join(contribs, "node", "left_outer")
        if dang_known is None:
            updated = updated.crossJoin(
                F.broadcast(ranks.agg(dang_sum.alias("_dang")))
            )
            dang_col = F.col("_dang")
        else:
            dang_col = F.lit(dang_known)
        ranks = updated.select(
            "node",
            "_has_out",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * dang_col / n
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
        dang_known = None
        if (it + 1) % checkpoint_interval == 0 and it + 1 < iters:
            ranks, m = checkpoint_observed(ranks, dang=dang_sum)
            dang_known = float(m["dang"])
    return ranks.select("node", "rank")


def triangle_count(edges, src: str = "src", dst: str = "dst"):
    """Global triangle count over an undirected graph, via the
    degree-ordered orientation: canonicalize each edge (a < b after
    relabeling by degree rank), then count length-2 paths whose closing
    edge exists. Orientation bounds each vertex's out-degree by
    O(sqrt(|E|)) on skewed (power-law) graphs, so the path-join fan-out
    stays tractable where a naive direction would square the hub
    degree — the standard distributed-triangle trick (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).

    Three equi-joins on vertex keys; Catalyst picks broadcast sides
    when the (deduped, oriented) edge list is small. Returns a 1-row
    DataFrame ``n_triangles``.
    """
    from pyspark.sql import functions as F

    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(a, b)
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient edges from lower (degree, vertex) to higher — total order,
    # so each triangle is counted exactly once
    e = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
            )
            .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        # referenced 3× below (both path sides + the closing probe);
        # without materialization Catalyst re-derives the whole
        # dedupe+degree+orient pipeline per reference (measured 37
        # shuffles vs 7 on the catalog query)
        .localCheckpoint()
    )
    paths = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.t") == F.col("e2.s"))
        .select(F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z"))
    )
    closed = paths.join(
        e.select(F.col("s").alias("x"), F.col("t").alias("z")), ["x", "z"]
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))
