"""Unit + property tests for the function/operator layer
(SURVEY.md §5 strategies 4-5): padding edges, ordered-collect ties,
split semantics, vocab round-trip, dedup recall.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import (
    cosine_similarity,
    last_element,
    normalize_sku,
    ordered_collect,
    pad_sequence,
    slice_drop_last,
)
from post_modern_stack_spark.operators import dedup, vocab


def _arr_df(spark, arrs):
    return spark.createDataFrame([Row(i=i, a=a) for i, a in enumerate(arrs)])


def test_pad_sequence_edges(spark):
    df = _arr_df(spark, [[1, 2], [], [9, 8, 7, 6, 5]])
    out = {r["i"]: r["p"] for r in df.select("i", pad_sequence("a", 4).alias("p")).collect()}
    assert out[0] == [0, 0, 1, 2]          # left-pad
    assert out[1] == [0, 0, 0, 0]          # empty → all pad
    assert out[2] == [8, 7, 6, 5]          # keep LAST maxlen (pre-truncation)


def test_slice_and_last_on_edge_arrays(spark):
    df = _arr_df(spark, [[1], []])
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            slice_drop_last("a").alias("x"),
            last_element("a").alias("y"),
        ).collect()
    }
    assert rows[0]["x"] == [] and rows[0]["y"] == 1
    assert rows[1]["x"] == [] and rows[1]["y"] is None  # ANSI-safe NULL


def test_ordered_collect_tie_break(spark):
    rows = [
        Row(g=1, ts=10, v="b"),
        Row(g=1, ts=10, v="a"),  # tie on ts → v ascending
        Row(g=1, ts=5, v="z"),
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.groupBy("g")
        .agg(ordered_collect("v", "ts", "v").alias("arr"))
        .collect()[0]["arr"]
    )
    assert out == ["z", "a", "b"]


def test_normalize_sku(spark):
    df = spark.createDataFrame([Row(s="My SKU Name"), Row(s=None)])
    got = [r["n"] for r in df.select(normalize_sku("s").alias("n")).collect()]
    assert got == ["my_sku_name", None]


def test_cosine_zero_vector_null_not_error(spark):
    df = spark.createDataFrame([Row(a=[0.0, 0.0], b=[1.0, 2.0])])
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"] is None


def test_vocab_encode_decode_roundtrip(spark):
    sessions = _arr_df(spark, [["a", "b", "a"], ["b", "c"], ["a"]]).withColumnRenamed(
        "a", "interactions"
    )
    vb = vocab.build_vocab(sessions, "interactions")
    ranked = {r["token"]: (r["token_id"], r["freq"]) for r in vb.collect()}
    # freq: a=3, b=2, c=1 → ids 2,3,4 (id 1 reserved for OOV)
    assert ranked == {"a": (2, 3), "b": (3, 2), "c": (4, 1)}
    enc = vocab.encode(sessions, vb, "interactions")
    got = {tuple(r["interactions"]): r["encoded"] for r in enc.collect()}
    assert got[("a", "b", "a")] == [2, 3, 2]
    # decode inverts encode for in-vocab ids
    dec = vocab.decode(
        enc.select(F.explode("encoded").alias("token_id")), vb, "token_id"
    )
    assert dec.filter(F.col("token").isNull()).count() == 0


def test_map_literal_matches_create_map_with_hostile_tokens(spark):
    """r12: vocab.map_literal emits the vocab as one parsed SQL map
    string (single py4j round trip) instead of create_map over 2N lit
    columns. Pin value parity against the create_map route on tokens
    exercising the SQL-literal escaping: single quotes, backslashes,
    doubled quotes, and unicode."""
    pairs = [
        {"token": "plain", "token_id": 2},
        {"token": "it's", "token_id": 3},
        {"token": "back\\slash", "token_id": 4},
        {"token": "both\\'mix", "token_id": 5},
        {"token": "quote''double", "token_id": 6},
        {"token": "unié中", "token_id": 7},
    ]
    lit_map = F.create_map(
        *[F.lit(x) for r in pairs for x in (r["token"], r["token_id"])]
    )
    sql_map = vocab.map_literal(pairs)
    probe = spark.createDataFrame(
        [(r["token"],) for r in pairs] + [("oov",)], "t string"
    )
    got = probe.select(
        "t",
        F.element_at(lit_map, F.col("t")).alias("via_lit"),
        F.element_at(sql_map, F.col("t")).alias("via_sql"),
    ).collect()
    assert len(got) == 7
    for r in got:
        assert r["via_lit"] == r["via_sql"], r


def test_vocab_oov_maps_to_unk(spark):
    train = _arr_df(spark, [["a", "b"]]).withColumnRenamed("a", "interactions")
    test = _arr_df(spark, [["a", "zzz"]]).withColumnRenamed("a", "interactions")
    vb = vocab.build_vocab(train, "interactions")
    enc = vocab.encode(test, vb, "interactions").collect()[0]["encoded"]
    assert enc[1] == vocab.UNK_ID


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=5, text="same"), Row(doc_id=2, text="same"), Row(doc_id=9, text="other")]
    )
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {2: 2, 9: 1}


def test_minhash_candidates_catch_near_dups(spark):
    """Recall property: a heavily-overlapping pair must be a candidate;
    jaccard verification must score it near 1."""
    base = " ".join(f"tok{i}" for i in range(50))
    near = " ".join(f"tok{i}" for i in range(49)) + " tokX"
    far = " ".join(f"zzz{i}" for i in range(50))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=far)]
    )
    cands = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(df).collect()}
    assert (1, 2) in cands
    assert all(3 not in pair for pair in cands)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard_pairs(df).collect()}
    assert jac[(1, 2)] > 0.85


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta"), Row(doc_id=2, text="alpha beta gamma delta")]
    )
    pairs = dedup.simhash_near_dups(df, max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_lsh_recall_vs_brute_force(spark):
    """The RP-LSH approximate top-K must recover a reasonable share of
    the exact top-5 at 8 bits on 500 vectors (recall sanity, not a
    tight bound — buckets are coarse by design)."""
    from post_modern_stack_spark.operators import similarity
    from post_modern_stack_spark.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.rp_lsh_top_k(emb, queries, k=5, bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_arrow_pair_cosine_matches_expression_scoring(spark):
    """The candidate scorer ivf/lsh use, F.round(cosine_similarity, 6),
    scores a zero-vector pair NULL (the nullif contract), not NaN."""
    zero = spark.createDataFrame(
        [Row(qv=[0.0, 0.0], cv=[1.0, 2.0]), Row(qv=[1.0, 0.0], cv=[1.0, 0.0])]
    )
    got = zero.select(
        F.round(cosine_similarity("qv", "cv"), 6).alias("c")
    ).collect()
    assert [r["c"] for r in got] == [None, 1.0]


def test_ivf_recall_vs_brute_force(spark):
    """IVF with 4/16 probes must beat coarse-LSH recall on the same
    corpus (probing nearest cells is a targeted candidate set)."""
    from post_modern_stack_spark.operators import similarity
    from post_modern_stack_spark.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_top_k(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.35, f"IVF recall collapsed: {recall}"


def test_encode_via_join_empty_arrays_and_duplicate_keys(spark):
    """Review regressions: empty arrays must survive the explode round
    trip, and rows identical on caller columns must NOT merge."""
    from pyspark.sql import Row

    sessions = spark.createDataFrame(
        [
            Row(sid=1, interactions=["a", "b"]),
            Row(sid=1, interactions=["b"]),  # duplicate key, different array
            Row(sid=2, interactions=[]),     # empty array
        ]
    )
    vb = vocab.build_vocab(sessions, "interactions")
    out = vocab.encode_via_join(sessions, vb, "interactions").collect()
    assert len(out) == 3
    got = sorted((r["sid"], tuple(r["interactions"]), tuple(r["encoded"])) for r in out)
    by_map = {
        tuple(r["interactions"]): r["encoded"]
        for r in vocab.encode(sessions, vb, "interactions").collect()
    }
    for sid, inter, enc in got:
        assert list(enc) == by_map[tuple(inter)], (sid, inter)
    assert got[2] == (2, (), ())


def test_encode_via_join_without_keys_survives_upstream_window(spark):
    """Without keys, the synthetic row id must mean the same row on the
    explode side and the join-back side. A global Window upstream runs
    only where its column is used, so with the input in several
    partitions, lazily assigned ids would differ between the two."""
    from pyspark.sql import Window

    rows = [
        Row(sid=i, interactions=[f"t{(i * j) % 11}" for j in range(1, 2 + i % 5)])
        for i in range(200)
    ]
    df = (
        spark.createDataFrame(rows)
        .repartition(4)
        .withColumn("rank", F.percent_rank().over(Window.orderBy("sid")))
    )
    vb = vocab.build_vocab(df, "interactions")
    ids = {r["token"]: r["token_id"] for r in vb.collect()}
    out = vocab.encode_via_join(df, vb, "interactions").collect()
    assert sorted(r["sid"] for r in out) == list(range(200))
    for r in out:
        assert r["encoded"] == [ids[t] for t in r["interactions"]], r["sid"]
        assert r["rank"] == r["sid"] / 199


def test_cluster_pairs_raises_on_nonconvergence(spark):
    from pyspark.sql import Row

    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(40)]
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.cluster_pairs(chain, max_iterations=2)


def test_minhash_bands_divisibility_guard(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_candidates(df, num_hashes=64, bands=12)


def test_language_id_arrow_join_parity(spark):
    """language_id's two physical strategies (gram-explode broadcast
    join vs closure-dict Arrow scoring) return identical predictions
    and rounded scores."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.operators import textstats
    from post_modern_stack_spark.registry import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    prof = textstats.ngram_language_profiles(d.filter(F.col("doc_id") % 10 == 0))
    a = {
        r["doc_id"]: (r["predicted_lang"], r["lang_score"])
        for r in textstats.language_id(d, prof, strategy="arrow").collect()
    }
    b = {
        r["doc_id"]: (r["predicted_lang"], r["lang_score"])
        for r in textstats.language_id(d, prof, strategy="join").collect()
    }
    assert a and a == b


def test_language_id_arrow_vectorized_routes_parity(spark):
    """r11 vectorized Arrow scorer: ascii docs >= 3 chars ride the
    numpy 24-bit-gram-code path, non-ascii and short docs the original
    per-char dict loop, and non-ascii profile grams stay out of the
    packed code table — all inside ONE batch. Parity vs the broadcast
    join path (which has no such routing) over a corpus that planted a
    doc in every route: mixed-script, short (< 3 chars), empty,
    gram-free, and plain ascii docs, trained on mixed-script docs so
    the profile itself holds non-packable grams."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.operators import textstats

    rows = [
        (0, "der die das und der die das oder", "de"),
        (1, "the quick brown fox and the lazy dog", "en"),
        (2, "日本語のテキストです 日本語のテキスト", "ja"),  # non-ascii route
        (3, "das und der die das und der die", "de"),
        (4, "ab", "en"),  # short: i=0 probe only
        (5, "", "en"),  # empty
        (6, "zzz@@@###", "en"),  # ascii, likely gram-free vs profile
        (7, "the brown dog and the quick fox", "en"),
        (8, "テキスト日本語の日本語", "ja"),
        (9, "und das der die und das der", "de"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    prof = textstats.ngram_language_profiles(d)  # includes non-ascii grams
    a = {
        r["doc_id"]: (r["predicted_lang"], r["lang_score"])
        for r in textstats.language_id(d, prof, strategy="arrow").collect()
    }
    b = {
        r["doc_id"]: (r["predicted_lang"], r["lang_score"])
        for r in textstats.language_id(d, prof, strategy="join").collect()
    }
    assert a == b
    # the ja docs really were scored (non-ascii route produced output)
    assert a[2][0] == "ja" and a[8][0] == "ja"
    # ascii route produced output too
    assert a[1][0] == "en"


def test_pq_recall_vs_brute_force(spark):
    """PQ ADC + exact rerank must recover most of the exact top-5 —
    refine-factor 3 reranks with true cosine, so recall is bounded only
    by whether true neighbors survive the ADC cut."""
    from post_modern_stack_spark.operators import similarity
    from post_modern_stack_spark.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_top_k(
            emb, queries, k=5, m=8, n_codes=64, refine_factor=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall collapsed: {recall}"


def test_pq_auto_refine_beats_fixed_pool_on_clustered_corpus(spark):
    """refine_factor="auto" (the r11 default) must size the rerank pool
    past the biggest near-tie cluster — the r10-ladder footgun where a
    fixed small pool silently returns ~pool/cluster recall. Planted: a
    60-member near-identical cluster inside a 260-vector corpus; the
    query sits IN the cluster, so its true top-5 are cluster siblings
    ADC cannot rank. Fixed rf=3 (pool 15 < 60) must miss most of them;
    auto must recover ≥0.8 — and a tiny max_auto_pool must warn."""
    import random
    import warnings

    from post_modern_stack_spark.operators import similarity

    rnd = random.Random(11)
    dim = 16
    center = [rnd.gauss(0, 1) for _ in range(dim)]
    rows = [
        (i, [float(x + rnd.gauss(0, 0.01)) for x in center]) for i in range(60)
    ] + [
        (100 + i, [float(rnd.gauss(0, 1)) for _ in range(dim)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") == 0)
    exact = {
        r["neighbor_id"]
        for r in similarity.brute_force_top_k(emb, queries, k=5).collect()
    }

    def recall(**kw):
        got = {
            r["neighbor_id"]
            for r in similarity.pq_top_k(
                emb, queries, k=5, m=4, n_codes=16, **kw
            ).collect()
        }
        return len(exact & got) / len(exact)

    assert recall(refine_factor=3) < 0.8  # the documented footgun
    assert recall() >= 0.8  # default = auto sizes the pool past the cluster

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        recall(max_auto_pool=20)
        assert any("max_auto_pool" in str(x.message) for x in w)


def test_remove_duplicate_spans_planted(spark):
    """Lee'22 span REMOVAL semantics on planted fixtures: a cross-doc
    repeated 8-token span disappears from both holders (surrounding
    unique tokens survive), a WITHIN-doc repeat is removed at both
    positions, and a fully-unique doc — or one too short to hold any
    8-gram — passes through byte-identical."""
    from post_modern_stack_spark.operators.textstats import (
        remove_duplicate_spans,
    )

    span = " ".join(f"dup{i}" for i in range(8))
    rows = [
        (0, f"alpha beta {span} gamma delta"),
        (1, f"eps zeta {span} eta theta"),
        (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (3, f"{span} mid0 mid1 {span}"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=8).collect()}

    assert got[0]["kept_text"] == "alpha beta gamma delta"
    assert got[1]["kept_text"] == "eps zeta eta theta"
    assert (got[0]["n_tokens"], got[0]["n_kept"]) == (12, 4)
    # unique doc: untouched
    assert got[2]["kept_text"] == rows[2][1]
    assert got[2]["n_kept"] == got[2]["n_tokens"] == 10
    # within-doc repeat: both occurrences removed; the middle tokens
    # survive only where no duplicated 8-gram covers them — here the
    # spans 'dup0..dup7' occur at positions 0 and 10, and every
    # 8-gram crossing the middle is unique, so mid0/mid1 survive
    assert got[3]["kept_text"] == "mid0 mid1"
    # sub-n doc: passes through
    assert got[4]["kept_text"] == "tiny doc"
    assert got[4]["n_kept"] == 2


def test_substring_share_and_trim_matches_both_operators(spark):
    """The fused form (r10) must be value-identical to running the two
    operators it fuses: trim columns ≡ remove_duplicate_spans, share
    columns ≡ substring_dup_share (docs ≥ n tokens) with 0/0/NULL for
    shorter docs. Fixture covers the hostile cases: a cross-doc span,
    an intra-doc repeat (c≥2 key owned by its own holder — the case
    where 'dup positions' and 'n_grams − uniq' could diverge if either
    form mishandled ownership), a fully-unique doc, a sub-n doc, and
    leading whitespace (empty boundary tokens occupy positions)."""
    from post_modern_stack_spark.operators.textstats import (
        remove_duplicate_spans,
        substring_dup_share,
        substring_share_and_trim,
    )

    span = " ".join(f"dup{i}" for i in range(8))
    rows = [
        (0, f"alpha beta {span} gamma delta"),
        (1, f"eps zeta {span} eta theta"),
        (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (3, f"{span} mid0 mid1 {span}"),
        (4, "tiny doc"),
        (5, f"  lead ws {span} tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = {r["doc_id"]: r for r in substring_share_and_trim(df, n=8).collect()}
    trim = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=8).collect()}
    share = {r["doc_id"]: r for r in substring_dup_share(df, n=8).collect()}

    assert set(fused) == set(trim) == {0, 1, 2, 3, 4, 5}
    for i, r in trim.items():
        for c in ("n_tokens", "n_kept", "kept_text"):
            assert fused[i][c] == r[c], (i, c)
    for i, r in share.items():  # only docs with >= 8 tokens
        for c in ("n_grams", "n_dup_grams", "dup_share"):
            assert fused[i][c] == r[c], (i, c)
    # sub-n docs: 0 grams, NULL share (the share operator omits them)
    assert 4 not in share
    assert (fused[4]["n_grams"], fused[4]["n_dup_grams"]) == (0, 0)
    assert fused[4]["dup_share"] is None
    # intra-doc repeat measured at BOTH positions in both forms
    assert fused[3]["n_dup_grams"] == share[3]["n_dup_grams"] > 0


def test_curation_pipeline_stages(spark):
    """Planted fixtures must fall at the right stage: junk fails
    quality, a byte-identical copy dies at exact dedup, a benchmark
    overlap dies at decontamination, and the budget cut keeps a prefix
    in doc_id order."""
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import textstats

    base = "the quick brown fox of every corpus jumps to a lazy dog and beyond"
    rows = [
        Row(doc_id=1, text=base + " one extra tail token here", lang="en", source="s"),
        Row(doc_id=2, text=base + " one extra tail token here", lang="en", source="s"),  # exact dup
        Row(doc_id=3, text="zz", lang="en", source="s"),  # fails quality (too short)
        Row(doc_id=4, text="the shared benchmark gram sequence lives in this document and a tail of filler words to pass quality", lang="en", source="s"),
        Row(doc_id=5, text="a totally different story in the land of spark engines and many more words to stay", lang="en", source="s"),
    ]
    bench = [Row(doc_id=100, text="the shared benchmark gram sequence lives in this document exactly", lang="en", source="b")]
    docs = spark.createDataFrame(rows)
    benchmark = spark.createDataFrame(bench)
    stages = textstats.curate_documents(docs, benchmark, budget_frac=1.0)
    got = {k: sorted(r["doc_id"] for r in v.select("doc_id").collect()) for k, v in stages.items()}
    assert got["input"] == [1, 2, 3, 4, 5]
    assert got["quality"] == [1, 2, 4, 5]
    assert got["deduped"] == [1, 4, 5]          # doc 2 = exact copy of 1
    assert got["near"] == [1, 4, 5]             # no heavy substring dup among survivors
    assert got["clean"] == [1, 5]               # doc 4 shares an 8-gram with benchmark
    assert got["final"] == [1, 5]               # budget_frac=1.0 keeps all
    # a tighter budget keeps the doc_id-orderered prefix
    tight = textstats.curate_documents(docs, benchmark, budget_frac=0.6)
    assert sorted(r["doc_id"] for r in tight["final"].select("doc_id").collect()) == [1]


def test_curate_spans_funnel_fused_matches_unfused_composition(spark):
    """curate_documents(span_trim=True) fused its share gate and span
    trim in r10 — every stage's (doc_id, text) set must equal the
    manual unfused composition: share-gate over deduped (short docs
    trivially kept), then remove_duplicate_spans(per_key over DEDUPED)
    applied to the survivors, zero-trim docs dropped, touched docs
    swapped to kept_text."""
    from pyspark.sql import functions as F

    from post_modern_stack_spark.operators import textstats
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    # plant a cross-doc repeated 8-token span inside otherwise-unique
    # long docs: low dup_share (survives the gate) but a real trim —
    # keeps the trimmed-stage parity below non-vacuous at any sf
    span = "the weather report said rain would fall on tuesday"
    planted = spark.createDataFrame(
        [
            (
                10_000_001 + i,
                " ".join(f"pre{i}x{j}" for j in range(10))
                + f" {span} "
                + " ".join(f"post{i}y{j}" for j in range(10)),
                "en",
                "planted",
                0,
            )
            for i in range(2)
        ],
        docs.schema,
    )
    docs = docs.unionAll(planted)
    bench = docs.filter(F.col("doc_id") % 97 == 0).limit(8)
    stages = textstats.curate_documents(
        docs, bench, span_trim=True, dup_share_max=0.5
    )

    # unfused replay from the funnel's own deduped stage
    deduped = stages["deduped"]
    shares = textstats.substring_dup_share(deduped, n=8)
    keep = shares.filter(F.col("dup_share") < 0.5).select("doc_id").unionAll(
        deduped.filter(F.size(F.split(F.col("text"), r"\s+")) < 8).select(
            "doc_id"
        )
    )
    near_ref = deduped.join(keep, "doc_id")
    per_key = textstats.gram_key_counts(deduped, "text", n=8)
    trim = textstats.remove_duplicate_spans(near_ref, n=8, per_key=per_key)
    trimmed_ref = (
        near_ref.withColumnRenamed("text", "__orig")
        .join(trim.filter(F.col("n_kept") > 0), "doc_id")
        .select(
            "doc_id",
            F.when(
                F.col("n_kept") < F.col("n_tokens"), F.col("kept_text")
            ).otherwise(F.col("__orig")).alias("text"),
        )
    )

    def key_set(df):
        return {(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()}

    assert key_set(stages["near"]) == key_set(near_ref)
    assert key_set(stages["trimmed"]) == key_set(trimmed_ref)
    # the funnel must have actually trimmed something at this sf, or
    # the parity above is vacuous
    n_touched = (
        stages["trimmed"]
        .join(stages["near"].select("doc_id", F.col("text").alias("__t")), "doc_id")
        .filter(F.col("text") != F.col("__t"))
        .count()
    )
    assert n_touched > 0


def test_whiten_embeddings_identity_covariance(spark):
    """Whitened vectors must have ~zero mean and ~identity covariance
    (the definition of whitening), computed independently in numpy."""
    import numpy as np

    from post_modern_stack_spark.operators import similarity
    from post_modern_stack_spark.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = similarity.whiten_embeddings(emb).collect()
    mat = np.vstack([np.array(r["whitened"], dtype=np.float64) for r in out])
    assert mat.shape[1] == 64
    assert np.abs(mat.mean(axis=0)).max() < 1e-3
    cov = np.cov(mat, rowvar=False, bias=True)
    assert np.abs(cov - np.eye(64)).max() < 0.05

    # truncation keeps the top components only
    out8 = similarity.whiten_embeddings(emb, out_dim=8).first()
    assert len(out8["whitened"]) == 8


def test_substring_dup_share_positional_intra_doc(spark):
    """r08 positional-grain semantics on data the oracle corpus can't
    exercise (it has no intra-doc gram repeats): every n-gram POSITION
    whose gram occurs >1x corpus-wide counts — so a within-doc repeat
    contributes BOTH its positions to n_dup_grams, and n_grams counts
    positions (size-n+1), not distinct grams. Hashed and string key
    modes must agree exactly."""
    from post_modern_stack_spark.operators.textstats import (
        substring_dup_share,
    )

    span = " ".join(f"dup{i}" for i in range(8))
    rows = [
        (0, f"alpha beta {span} gamma delta"),      # 12 toks, 5 pos
        (1, f"eps zeta {span} eta theta"),          # 12 toks, 5 pos
        (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),       # 10 toks, 3 pos
        (3, f"{span} mid0 mid1 {span}"),            # 18 toks, 11 pos
        (4, "tiny doc"),                            # < n: absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        # the shared span gram holds 4 positions corpus-wide (docs
        # 0, 1, and BOTH ends of doc 3) -> duplicated everywhere
        0: (5, 1, round(1 / 5, 6)),
        1: (5, 1, round(1 / 5, 6)),
        2: (3, 0, 0.0),
        # positional: doc 3's repeat contributes TWO dup positions of
        # ELEVEN total (the r06 distinct grain would say 1 of 10)
        3: (11, 2, round(2 / 11, 6)),
    }
    for hashed in (True, False):
        got = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_share"])
            for r in substring_dup_share(df, n=8, hashed_keys=hashed).collect()
        }
        assert got == expected, (hashed, got)


def test_contamination_hashed_matches_string_keys(spark):
    """The hashed-gram join (r08 default) must produce exactly the
    string-keyed pair counts on a corpus with cross/within/no overlap
    cases."""
    from post_modern_stack_spark.operators.textstats import (
        contamination_pairs,
    )

    gram = " ".join(f"g{i}" for i in range(5))
    corpus = spark.createDataFrame(
        [
            (0, f"a b {gram} c d"),
            (1, f"x y z {gram}"),
            (2, "only unique words live here now"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"{gram} tail0 tail1"), (101, "nothing shared at all here")],
        "doc_id long, text string",
    )

    def key_set(hashed):
        return {
            (r["corpus_doc_id"], r["benchmark_doc_id"], r["n_shared_ngrams"])
            for r in contamination_pairs(
                corpus, bench, n=5, hashed_keys=hashed
            ).collect()
        }

    hashed, string = key_set(True), key_set(False)
    assert hashed == string
    assert (0, 100, 1) in hashed and (1, 100, 1) in hashed
    assert not any(c == 2 for c, _, _ in hashed)
