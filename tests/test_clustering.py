"""Connected-components clustering tests: distributed min-label
propagation vs a driver-side union-find oracle on random graphs.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from post_modern_stack_spark.operators.dedup import cluster_pairs


def _union_find(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_clusters_simple_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)]
    df = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])
    got = {r["doc_id"]: r["cluster_id"] for r in cluster_pairs(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_clusters_match_union_find_on_random_graph(spark):
    rng = random.Random(7)
    pairs = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(200), rng.randrange(200))
                               for _ in range(300)) if a != b})
    df = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])
    got = {r["doc_id"]: r["cluster_id"] for r in cluster_pairs(df).collect()}
    assert got == _union_find(pairs)


def test_embedding_near_dups_exact_and_lsh_recall(spark):
    """Exact mode finds all/only pairs ≥ τ; LSH mode is a subset with
    high recall at a permissive dial (few bits, many tables)."""
    import math
    import random

    from post_modern_stack_spark.operators.dedup import embedding_near_dups

    rnd = random.Random(3)
    dim = 16
    base = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        # a jittered near-duplicate of every base vector
        rows.append((2 * i + 1, [float(x + rnd.gauss(0, 0.05)) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = embedding_near_dups(emb, threshold=0.95, candidates="exact")
    got = {(r.id_a, r.id_b) for r in exact.collect()}
    # every planted twin pair is found
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= got
    # and nothing below the threshold sneaks in
    for r in exact.collect():
        assert r.cos_sim >= 0.95

    lsh = embedding_near_dups(
        emb, threshold=0.95, candidates="lsh", dim=dim, bits=4, n_tables=8
    )
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert lsh_pairs <= got  # refine step guarantees precision
    recall = len(lsh_pairs & planted) / len(planted)
    assert recall >= 0.9, f"LSH recall too low: {recall}"

    # auto dispatch (VERDICT r05 item 4): under the broadcast-safe row
    # threshold the default routes to exact — identical pair set...
    auto = embedding_near_dups(emb, threshold=0.95, candidates="auto")
    assert {(r.id_a, r.id_b) for r in auto.collect()} == got
    # ...past it, to LSH: never a corpus-sized driver collect. A tiny
    # forced threshold + permissive dial must reproduce the lsh set.
    routed = embedding_near_dups(
        emb,
        threshold=0.95,
        candidates="auto",
        dim=dim,
        bits=4,
        n_tables=8,
        exact_max_rows=10,
    )
    assert {(r.id_a, r.id_b) for r in routed.collect()} == lsh_pairs


def test_embedding_near_dups_auto_probe_is_limit_bounded(spark, monkeypatch):
    """The 'auto' router must decide via a LIMIT-bounded probe, never a
    full-corpus count() (VERDICT r10 item 6: at 100 TB a routing count
    is a whole-corpus scan before any work). Pin: the DataFrame the
    router counts carries a GlobalLimit node."""
    from post_modern_stack_spark.operators.dedup import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is a
    # facade; methods live on pyspark.sql.classic.dataframe.DataFrame)
    cls = type(emb)
    counted_plans = []
    orig_count = cls.count

    def spy_count(self):
        counted_plans.append(self._jdf.queryExecution().analyzed().toString())
        return orig_count(self)

    monkeypatch.setattr(cls, "count", spy_count)
    embedding_near_dups(emb, threshold=0.95, candidates="auto", exact_max_rows=10)
    probe_plans = [p for p in counted_plans if "GlobalLimit" in p]
    assert probe_plans, "auto router ran a count() without a LIMIT bound"
    assert all("GlobalLimit" in p for p in counted_plans), (
        "auto router ran an unbounded corpus count(): "
        + "\n---\n".join(p for p in counted_plans if "GlobalLimit" not in p)
    )


def test_embedding_near_dups_auto_skips_probe_on_memo_hit(spark, monkeypatch):
    """Repeated auto calls on a corpus that already routed exact must
    skip the probe job: the corpus-broadcast memo entry PROVES the
    prior decision said "small" (only the exact path builds one), so
    bench re-runs / driver loops pay zero routing jobs after call 1."""
    from post_modern_stack_spark.operators.dedup import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    # call 1 routes exact (20 <= 50) and memoizes the corpus broadcast
    embedding_near_dups(
        emb, threshold=0.99, candidates="auto", exact_max_rows=50
    ).collect()

    cls = type(emb)
    calls = []
    orig_count = cls.count

    def spy_count(self):
        calls.append(1)
        return orig_count(self)

    monkeypatch.setattr(cls, "count", spy_count)
    out = embedding_near_dups(
        emb, threshold=0.99, candidates="auto", exact_max_rows=50
    )
    assert calls == [], "memo-hit auto call still ran a probe count()"
    assert out.count() > 0  # and it actually produced the exact pairs


def test_corpus_broadcast_memo_is_session_scoped(spark):
    """The exact-GEMM corpus memo reuses one broadcast for repeated calls
    on the same logical corpus WITHIN a session, and its cache key carries
    the session's applicationId so a broadcast can never be replayed into
    a different/restarted session (ADVICE round 1)."""
    from post_modern_stack_spark.operators import dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    bc1 = dedup._corpus_broadcast(emb, "vec_id", "embedding")
    bc2 = dedup._corpus_broadcast(emb, "vec_id", "embedding")
    assert bc1 is bc2  # same session + same plan → memo hit, no re-collect
    # every memo key is scoped to THIS context's applicationId, so an
    # entry from a stopped context can never satisfy a lookup from a new
    # one (a restarted context gets a fresh applicationId)
    app_id = spark.sparkContext.applicationId
    assert any(v is bc1 for v in dedup._corpus_memo.values())
    assert all(k[0] == app_id for k in dedup._corpus_memo)


def test_jaccard_prefix_filter_matches_plain_and_prunes(spark):
    """PPJoin prefix filtering: identical result set to the all-token
    join at the same threshold, with strictly fewer candidate pairs."""
    from post_modern_stack_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    tau = 0.2
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, min_jaccard=tau).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix(docs, min_jaccard=tau).collect()
    }
    assert pref == plain
    assert len(plain) > 0


def test_pagerank_of_empty_graph_is_empty(spark):
    from post_modern_stack_spark.operators.graph import pagerank

    got = pagerank(spark.createDataFrame([], "src long, dst long"))
    assert got.dtypes == [("node", "bigint"), ("rank", "double")]
    assert got.count() == 0


def test_pagerank_matches_dense_power_iteration(spark):
    """pagerank == numpy dense power iteration (same damping, iters,
    dangling redistribution) on a random 40-node graph, atol 1e-9."""
    import random

    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators.graph import pagerank

    rng = random.Random(5)
    n = 40
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(120)
                    if True})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=8).collect()}

    # dense oracle
    d = 0.85
    nodes = sorted({x for e in edges for x in e})
    ix = {v: i for i, v in enumerate(nodes)}
    N = len(nodes)
    out = np.zeros(N)
    for a, _ in edges:
        out[ix[a]] += 1
    r = np.full(N, 1.0 / N)
    for _ in range(8):
        dangling = r[out == 0].sum()
        contrib = np.zeros(N)
        for a, b in edges:
            contrib[ix[b]] += r[ix[a]] / out[ix[a]]
        r = (1 - d) / N + d * dangling / N + d * contrib
    want = {v: r[ix[v]] for v in nodes}
    assert set(got) == set(want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, v


def test_triangle_count_known_graphs(spark):
    """Hand-verifiable graphs: K4 has 4 triangles; adding a pendant
    edge or duplicate/reversed/self-loop edges must change nothing."""
    from post_modern_stack_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noise = [(1, 0), (2, 2), (0, 1), (3, 9)]  # reversed dup, loop, dup, pendant
    df = spark.createDataFrame(k4 + noise, ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 4


def test_triangle_count_matches_numpy_on_random_graph(spark):
    """Random graph with a hub (skew): engine count == trace(A^3)/6."""
    import numpy as np

    from post_modern_stack_spark.operators.graph import triangle_count

    rng = np.random.default_rng(19)
    n = 30
    a = np.triu((rng.random((n, n)) < 0.15), k=1)
    a[0, 1:] = True  # vertex 0 is a hub — exercises the orientation
    adj = (a | a.T).astype(np.int64)
    want = int(np.trace(np.linalg.matrix_power(adj, 3)) // 6)
    edges = [(int(i), int(j)) for i in range(n) for j in range(n) if a[i, j]]
    got = triangle_count(spark.createDataFrame(edges, ["src", "dst"])).collect()[0][
        "n_triangles"
    ]
    assert got == want and want > 0


def test_jaccard_auto_parity_and_arrays_verify(spark):
    """jaccard_pairs_auto and BOTH prefix verify strategies return the
    byte-identical pair set of the plain join (routing and verify are
    plan choices, never semantics)."""
    from post_modern_stack_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_auto,
        jaccard_pairs_prefix,
    )
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    tau = 0.2
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, min_jaccard=tau).collect()
    }
    assert len(want) > 0
    for got_df in [
        jaccard_pairs_prefix(docs, tau, verify="arrays"),
        jaccard_pairs_auto(docs, tau),
        jaccard_pairs_auto(docs, tau, skew_threshold=0.0),  # force prefix
    ]:
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_df.collect()}
        assert got == want


def test_jaccard_auto_routes_by_skew(spark):
    """The routing statistic (plain-join fan-out per shingle-stream
    row) sends a mostly-unique corpus to the plain join and a
    hot-header corpus to prefix+arrays (VERDICT r08: neither variant
    dominates — prefix was 3.4x slower on unique shingles, plain
    never finished on hot shingles)."""
    from unittest import mock

    from post_modern_stack_spark.operators import dedup

    uniq = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(60)],
        "doc_id long, text string",
    )
    banner = "this site uses cookies by continuing you agree to the policy"
    hot = spark.createDataFrame(
        [(i, banner + f" tail{i}a tail{i}b") for i in range(60)],
        "doc_id long, text string",
    )
    with mock.patch.object(
        dedup, "jaccard_pairs", wraps=dedup.jaccard_pairs
    ) as plain, mock.patch.object(
        dedup, "jaccard_pairs_prefix", wraps=dedup.jaccard_pairs_prefix
    ) as prefix:
        dedup.jaccard_pairs_auto(uniq, 0.5)
        plain.assert_called_once()
        prefix.assert_not_called()
        plain.reset_mock()
        dedup.jaccard_pairs_auto(hot, 0.5)
        plain.assert_not_called()
        prefix.assert_called_once()
        assert prefix.call_args.kwargs.get("verify") == "arrays"


def test_jaccard_auto_precomputed_fanout_skips_stat_job(spark):
    """ADVICE r09: jaccard_pairs_auto is eager at construction (the
    routing stat is a blocking corpus-scale job). Pipelines that know
    the corpus shape pass precomputed_fanout to stay lazy — verify the
    stat job is skipped and the supplied statistic drives the route."""
    from unittest import mock

    from post_modern_stack_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(20)],
        "doc_id long, text string",
    )
    with mock.patch.object(
        dedup, "shingle_stream", wraps=dedup.shingle_stream
    ) as stream, mock.patch.object(
        dedup, "jaccard_pairs", wraps=dedup.jaccard_pairs
    ) as plain, mock.patch.object(
        dedup, "jaccard_pairs_prefix", wraps=dedup.jaccard_pairs_prefix
    ) as prefix:
        # low fan-out -> plain; the stat stream must NOT be built here
        # (jaccard_pairs builds its own once; the stat path would add
        # a second shingle_stream call plus a blocking collect)
        dedup.jaccard_pairs_auto(docs, 0.5, precomputed_fanout=(10.0, 1000.0))
        plain.assert_called_once()
        prefix.assert_not_called()
        assert stream.call_count == 1
        stream.reset_mock()
        plain.reset_mock()
        # high fan-out -> prefix+arrays
        dedup.jaccard_pairs_auto(docs, 0.5, precomputed_fanout=(1e6, 1000.0))
        plain.assert_not_called()
        prefix.assert_called_once()


def test_jaccard_verify_pairs_equals_full_join_semi_filter(spark):
    """jaccard_verify_pairs(candidates) must reproduce EXACTLY the old
    pipeline shape — jaccard_pairs(tau) semi-joined to candidates —
    for every positive tau, without ever materializing the all-pairs
    join (r09: the LSH pipelines paid the full fan-out in their verify
    stage)."""
    from post_modern_stack_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )
    from post_modern_stack_spark.registry import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    cand = minhash_lsh_candidates(d)
    tau = 0.5
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(d, min_jaccard=tau)
        .join(cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_verify_pairs(d, cand, min_jaccard=tau).collect()
    }
    assert got == want
    assert len(got) > 0
