"""Round-3 curation operators: packing, DSIR, Gopher rules, SemDeDup."""

import pyspark.sql.functions as F
import pytest


def test_pack_greedy_overflow_and_oversize(spark):
    # greedy reset + oversized doc gets its own bin
    rows = [("s", 1, 100), ("s", 2, 100), ("s", 3, 100), ("s", 4, 500), ("s", 5, 10)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    from post_modern_stack_spark.operators.shaping import pack_greedy

    got = {
        r["doc_id"]: r["bin_id"]
        for r in pack_greedy(df, budget=256).collect()
    }
    # 100+100 fits; +100 overflows -> bin1; 500 overflows -> bin2 (alone);
    # 10 overflows the 500 bin -> bin3
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_pack_greedy_groups_independent(spark):
    rows = [("a", 1, 200), ("b", 2, 200), ("a", 3, 200), ("b", 4, 200)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    from post_modern_stack_spark.operators.shaping import pack_greedy

    out = pack_greedy(df, budget=256).collect()
    by_src = {(r["source"], r["doc_id"]): r["bin_id"] for r in out}
    assert by_src == {("a", 1): 0, ("a", 3): 1, ("b", 2): 0, ("b", 4): 1}


def test_semantic_dedup_planted_twin(spark):
    from post_modern_stack_spark.operators.dedup import semantic_dedup

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.001, 0.0]),   # twin of 1 -> dropped
        (3, 0, [0.0, 1.0, 0.0]),     # orthogonal -> kept
        (4, 1, [1.0, 0.0, 0.0]),     # same dir but other cluster -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r["vec_id"]: (r["keep"], r["n_close_lower"]) for r in semantic_dedup(df, threshold=0.9).collect()}
    assert got == {1: (1, 0), 2: (0, 1), 3: (1, 0), 4: (1, 0)}

    # ADVICE round-3: output id/cluster types mirror the INPUT schema —
    # a bigint cluster label (e.g. joined from cluster_pairs output)
    # must not hit an applyInPandas schema mismatch
    df_long = spark.createDataFrame(
        rows, "vec_id int, label long, embedding array<double>"
    )
    out = semantic_dedup(df_long, threshold=0.9)
    assert dict(out.dtypes)["label"] == "bigint"
    assert dict(out.dtypes)["vec_id"] == "int"
    got2 = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert got2 == {1: 1, 2: 0, 3: 1, 4: 1}


def test_gopher_rules_flags(spark):
    from post_modern_stack_spark.operators.textstats import gopher_rules

    good = "the cat and the dog have fun with a ball of yarn to play"
    short = "tiny text"
    symbols = "# # # " + "the of and have that with be to " * 2
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert got[1]["keep"] == 1
    assert got[2]["r_word_count"] == 0 and got[2]["keep"] == 0
    assert got[3]["r_symbol"] == 0 and got[3]["keep"] == 0


def test_dsir_weights_prefers_target_tokens(spark):
    from post_modern_stack_spark.operators.textstats import dsir_weights

    # target docs use 'aaa bbb'; raw background uses 'xxx yyy'
    rows = [(i, "t", "aaa bbb aaa bbb") for i in range(5)] + [
        (i + 10, "r", "xxx yyy xxx yyy") for i in range(5)
    ] + [(99, "r", "aaa bbb aaa bbb")]  # raw doc that LOOKS like target
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(df, target_filter=F.col("source") == "t").collect()
    }
    # the target-looking raw doc scores like the target docs, above background
    assert got[99] == got[0]
    assert got[99] > got[10]


def test_keep_best_per_cluster_singletons_and_ties(spark):
    from post_modern_stack_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1)], "doc_id long, quality double"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    got = {r["doc_id"]: r for r in keep_best_per_cluster(docs, clusters).collect()}
    # highest quality wins; tie between 2 and 3 falls to the lower id
    assert got[2]["kept"] == 1 and got[3]["kept"] == 0 and got[1]["kept"] == 0
    assert got[2]["cluster_size"] == 3
    # 7 is a singleton: own cluster, kept
    assert got[7]["kept"] == 1 and got[7]["cluster_id"] == 7


def test_bpe_pretokens_classes(spark):
    from post_modern_stack_spark.operators.textstats import bpe_pretokens

    df = spark.createDataFrame(
        [(1, "it's 42 cats!!")], "doc_id long, text string"
    )
    r = bpe_pretokens(df).collect()[0]
    # pieces: "it" "'s" " 42" " cats" "!!"
    assert r["n_pretokens"] == 5
    assert r["n_alpha"] == 2 and r["n_digit"] == 1 and r["n_other"] == 2


def test_logreg_learns_planted_signal(spark):
    from post_modern_stack_spark.operators import inference

    rows = [(i, "good clean prose text here", 1.0) for i in range(20)] + [
        (i + 100, "zz qq xx spam junk noise", 0.0) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y double")
    packed = inference.packed_text_features(
        docs, docs.select("doc_id", "y")
    ).localCheckpoint()
    w, b = inference.train_logreg(packed, n_iter=15, lr=5.0)
    scored = {
        r["doc_id"]: r["p"]
        for r in inference.score_logreg_packed(packed, w, b).collect()
    }
    assert all(scored[i] > 0.6 for i in range(20))
    assert all(scored[i + 100] < 0.4 for i in range(20))


def test_logreg_without_documents_raises_named_error(spark):
    from post_modern_stack_spark.operators import inference

    docs = spark.createDataFrame([], "doc_id long, text string, y double")
    with pytest.raises(ValueError, match="no labeled documents"):
        inference.train_logreg(
            inference.packed_text_features(docs, docs.select("doc_id", "y"))
        )


def test_logreg_matches_numpy_reference(spark):
    """Packed features, GD weights and scores against a numpy replay
    whose features are built here from the contract: bucket = the
    token's md5, first 8 hex digits, mod n; x = c / Σc per doc."""
    import hashlib

    import numpy as np
    from post_modern_stack_spark.operators import inference

    rows = [
        (i, " ".join(f"w{j % 17}" for j in range(3 + i % 9)), float(i % 3 > 0))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y double")
    nf = 16
    X = np.zeros((len(rows), nf))
    for i, (_, text, _) in enumerate(rows):
        toks = text.split()
        for t in toks:
            X[i, int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nf] += 1
        X[i] /= len(toks)
    y = np.array([r[2] for r in rows])

    packed = inference.packed_text_features(
        docs, docs.select("doc_id", "y"), n_features=nf
    ).localCheckpoint()
    got = {r["doc_id"]: r for r in packed.collect()}
    for i, (doc_id, _, label) in enumerate(rows):
        dense = np.zeros(nf)
        for s in got[doc_id]["fx"]:
            dense[s["bucket"]] = s["x"]
        assert got[doc_id]["y"] == label
        assert np.allclose(dense, X[i], rtol=0, atol=1e-12), doc_id

    w, b = inference.train_logreg(packed, n_features=nf, n_iter=5, lr=1.0)
    wn, bn = np.zeros(nf), 0.0
    for _ in range(5):
        p = 1.0 / (1.0 + np.exp(-(X @ wn + bn)))
        wn -= 1.0 * (X.T @ (p - y)) / len(rows)
        bn -= 1.0 * (p - y).sum() / len(rows)
    assert np.allclose(w, wn, atol=1e-9) and abs(b - bn) < 1e-9

    pn = 1.0 / (1.0 + np.exp(-(X @ wn + bn)))
    scored = {
        r["doc_id"]: r["p"]
        for r in inference.score_logreg_packed(packed, w, b).collect()
    }
    assert all(abs(scored[r[0]] - pn[i]) < 1e-9 for i, r in enumerate(rows))


def test_weighted_sample_bias_toward_heavy_weights(spark):
    """With weights 1000:1, the heavy rows should dominate the sample."""
    from post_modern_stack_spark.operators.shaping import weighted_sample_per_group

    rows = [("g", i, 1000 if i < 20 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    got = weighted_sample_per_group(df, k=10, weight_col="w").collect()
    heavy = sum(1 for r in got if r["doc_id"] < 20)
    assert len(got) == 10 and heavy >= 8


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_gopher_rules_plan_is_shuffle_free(spark):
    """Per-row scoring must never shuffle — scan-bound at 100 TB."""
    from post_modern_stack_spark.operators.textstats import gopher_rules
    from post_modern_stack_spark.registry import load_table

    plan = _plan_of(gopher_rules(load_table(spark, "/root/testdata/sf0.001", "documents")))
    assert "Exchange" not in plan


def test_bpe_pretokens_plan_is_shuffle_free(spark):
    from post_modern_stack_spark.operators.textstats import bpe_pretokens
    from post_modern_stack_spark.registry import load_table

    plan = _plan_of(bpe_pretokens(load_table(spark, "/root/testdata/sf0.001", "documents")))
    assert "Exchange" not in plan


def test_dsir_plan_two_passes_no_materialization(spark):
    """dsir_weights' contract after the 10M-doc OOM incident: exactly
    TWO codegen'd token passes (distribution + score — the 3-pass
    regression form is caught), and NO checkpoint of the corpus-sized
    sparse grain (a localCheckpoint materialized ~1B deserialized rows
    at 10M docs and OOM'd a 48g local JVM; its scan would surface here
    as a non-parquet leaf)."""
    from post_modern_stack_spark.operators.textstats import dsir_weights
    from post_modern_stack_spark.registry import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = dsir_weights(docs, target_filter=F.col("source") == "src0")
    out.collect()  # drive out's OWN plan to its final adaptive form
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode") == 2, final
    assert "Scan ExistingRDD" not in final, final  # checkpoint leaf
    # every leaf is the parquet table itself
    assert final.count("FileScan parquet") == 2, final


def test_kmeans_recovers_planted_blobs(spark):
    import numpy as np
    from post_modern_stack_spark.operators.similarity import kmeans_lloyd

    rng = np.random.RandomState(0)
    rows = []
    for b, center in enumerate([(10.0, 0.0), (0.0, 10.0), (-10.0, -10.0)]):
        for i in range(30):
            v = [center[0] + rng.uniform(-1, 1), center[1] + rng.uniform(-1, 1)]
            rows.append((b * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, cents = kmeans_lloyd(df, k=3, n_iter=8)
    got = {r["vec_id"]: r["cluster"] for r in assignments.collect()}
    # each planted blob maps to exactly one cluster, and the three differ
    labels = [{got[b * 100 + i] for i in range(30)} for b in range(3)]
    assert all(len(s) == 1 for s in labels)
    assert len(labels[0] | labels[1] | labels[2]) == 3
    # centroids sit on the blob centers
    cent_set = {tuple(np.round(c)) for c in cents}
    assert cent_set == {(10.0, 0.0), (0.0, 10.0), (-10.0, -10.0)}


def test_kmeans_fused_update_matches_reference_and_is_tolerance_stable(spark):
    """Parity anchor for the r12 fused assign+update Arrow pass
    (VERDICT r11 item 3): the fused distributed update associates its
    float sums differently than a reference implementation, so pin
    (a) centroids within 1e-9 of an exact driver-side Lloyd run from
    the SAME init, (b) assignments exactly equal to that reference,
    and (c) assignments invariant under 1e-6-relative centroid
    perturbation — far above any sum-reassociation ulp, so ANY
    partial-order change in the update is provably assignment-safe on
    this fixture."""
    import numpy as np
    from post_modern_stack_spark.operators.similarity import kmeans_lloyd

    rng = np.random.RandomState(7)
    centers = [
        (8.0, 0.0, -3.0),
        (0.0, 9.0, 2.0),
        (-7.0, -7.0, 5.0),
        (3.0, -6.0, -8.0),
    ]
    rows = []
    for b, center in enumerate(centers):
        for i in range(40):
            v = np.asarray(center) + rng.uniform(-1, 1, size=3)
            rows.append((b * 1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    k, n_iter = 4, 5
    _, init_cents = kmeans_lloyd(df, k=k, n_iter=0)  # init only
    assignments, cents = kmeans_lloyd(df, k=k, n_iter=n_iter)
    got = {r["vec_id"]: r["cluster"] for r in assignments.collect()}

    ids = np.asarray([r[0] for r in rows])
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    c = np.array(init_cents, dtype=np.float64, copy=True)
    for _ in range(n_iter):
        d = (c * c).sum(axis=1)[None, :] - 2.0 * (mat @ c.T)
        a = d.argmin(axis=1)
        for j in range(k):
            sel = a == j
            if sel.any():
                # np.mean associates differently than both the fused
                # partials and the old posexplode aggregate — exactly
                # the reorder class the anchor must absorb
                c[j] = mat[sel].mean(axis=0)
    assert np.allclose(np.asarray(cents), c, rtol=0, atol=1e-9)
    d = (c * c).sum(axis=1)[None, :] - 2.0 * (mat @ c.T)
    ref = {int(i): int(x) for i, x in zip(ids, d.argmin(axis=1))}
    assert ref == got

    pr = np.random.RandomState(11)
    pert = np.asarray(cents) * (
        1.0 + 1e-6 * pr.uniform(-1, 1, size=np.shape(cents))
    )
    dp = (pert * pert).sum(axis=1)[None, :] - 2.0 * (mat @ pert.T)
    assert {int(i): int(x) for i, x in zip(ids, dp.argmin(axis=1))} == got


def test_rowwise_scorer_matches_sparse_scorer(spark):
    import numpy as np
    from post_modern_stack_spark.operators import inference
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rng = np.random.RandomState(3)
    w, b = rng.randn(256) * 0.1, 0.2
    labels = docs.select("doc_id", F.lit(0.0).alias("y"))
    sparse = {
        r["doc_id"]: r["p"]
        for r in inference.score_logreg_packed(
            inference.packed_text_features(docs, labels), w, b
        ).collect()
    }
    rowwise = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", inference.logreg_prob_expr("text", w, b).alias("p")
        ).collect()
    }
    assert set(sparse) == set(rowwise)
    assert all(abs(sparse[k] - rowwise[k]) < 1e-9 for k in sparse)


def _reference_bpe(word_counts, n_merges):
    """Pure-Python Sennrich-style BPE for parity checking."""
    state = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        pairs = {}
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + word_counts[w]
        if not pairs:
            break
        # deterministic (count, pair) tie-break, matching the operator
        (a, b), n = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        merges.append((rank, a, b, n))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_bpe_train_matches_reference(spark):
    from post_modern_stack_spark.operators.vocab import bpe_train

    texts = ["low lower lowest", "new newer newest", "low low new"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got_merges, got_vocab = bpe_train(df, n_merges=6)

    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    want_merges, want_state = _reference_bpe(counts, 6)
    assert got_merges == want_merges
    got_syms = {r["w"]: list(r["syms"]) for r in got_vocab.collect()}
    assert got_syms == want_state


def test_token_budget_chunked_parity_multichunk(spark):
    """The 100 TB budget-gate form (parallel chunked prefix sum) must
    keep EXACTLY the plain global-cumsum survivors — ids spread over
    ~180 chunk spans so the decomposition actually splits."""
    from post_modern_stack_spark.operators.textstats import (
        token_budget_keep_ids,
    )

    rows = [(i * 40_000, (i * 37) % 100 + 1) for i in range(300)]
    sizes = spark.createDataFrame(rows, "doc_id long, __nt long")
    plain = sorted(
        r["doc_id"]
        for r in token_budget_keep_ids(sizes, 0.5, chunked=False).collect()
    )
    chunked = sorted(
        r["doc_id"]
        for r in token_budget_keep_ids(sizes, 0.5, chunked=True).collect()
    )
    assert plain == chunked
    assert 0 < len(plain) < 300


def test_token_budget_default_plan_is_chunked(spark):
    """VERDICT r05 item 3: the catalog plans ARE the 100 TB plans. The
    token-budget stage's DEFAULT must show the chunked prefix-sum —
    parallel windows hash-partitioned on _chunk — not a single-task
    global cumsum over the doc grain. The surviving SinglePartition
    exchanges are the chunk-grain offset pass (rows ≈ corpus/span —
    bounded), which is the decomposition's documented serial part."""
    from post_modern_stack_spark.plans.catalog_text import (
        q_curation_funnel,
        q_token_budget_sample,
    )

    sf = "/root/testdata/sf0.001"
    for q in (q_token_budget_sample, q_curation_funnel):
        plan = _plan_of(q(spark, sf))
        assert "hashpartitioning(_chunk" in plan, q.__name__


@pytest.mark.parametrize("span_trim", [False, True])
def test_curate_documents_observed_counts_match_stage_counts(spark, span_trim):
    """r11 funnel-count route: stage counts delivered via
    curate_documents(observations=...) — each riding its stage's own
    localCheckpoint materialization as an observe() metric — must
    equal the direct count() of the returned stage frames (the
    aggregate the funnel queries used to run as a separate action per
    stage). Duplicate texts + a contaminated doc + a trimmed span are
    planted so every stage drops something and no count is vacuously
    equal to its neighbor."""
    from pyspark.sql import Observation

    from post_modern_stack_spark.operators.obs import read_observed
    from post_modern_stack_spark.operators.textstats import curate_documents

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    shared12 = "the shared prefix of twelve tokens a b c d e f"
    dup_text = "the quick brown fox jumps over a lazy dog today again"
    rows = []
    for i in range(30):
        if i % 7 == 0:
            text = dup_text  # exact dups: 4 of 5 drop at deduped
        elif i in (5, 10):
            # 13 tokens -> 6 grams, 5 shared between the pair:
            # dup_share 5/6 >= 0.8 -> both drop at near
            text = shared12 + f" tail{i}"
        elif i % 5 == 0:
            # internally duplicated span (share 0.2): survives near,
            # gets trimmed in span mode
            text = span + f" mid{i} " + span
        else:
            text = " ".join(f"w{i}x{j}" for j in range(11)) + f" u{i}"
        rows.append((i, text, "en", f"src{i % 3}"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    bench_docs = docs.filter(F.col("doc_id") == 1)

    names = ["quality", "deduped", "near"] + (
        ["trimmed"] if span_trim else []
    ) + ["clean"]
    obs = {n: Observation() for n in names}
    stages = curate_documents(
        docs, bench_docs, span_trim=span_trim, observations=obs
    )
    # fallback None: a count that is not observed fails the comparison
    c = {n: read_observed(obs[n], "n", lambda: None) for n in names}
    for n in names:
        assert c[n] == stages[n].count(), n
    # the funnel actually shrinks at every comparable stage — no count
    # is vacuously equal to its upstream neighbor
    assert c["quality"] > c["deduped"] > c["near"] > c["clean"]


def test_bpe_encode_matches_reference_both_paths(spark):
    """Encode half: per-doc token counts from the trained merge table
    must equal the reference BPE's final symbol counts through the
    expression-fold encode (training's exact rewrite)."""
    from post_modern_stack_spark.operators.vocab import bpe_encode, bpe_train

    texts = ["low lower lowest", "new newer newest", "low low new"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    merges, _ = bpe_train(df, n_merges=6)

    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    _, want_state = _reference_bpe(counts, 6)
    expected = {
        i: (len(t.split()), sum(len(want_state[w]) for w in t.split()))
        for i, t in enumerate(texts)
    }
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(df, merges).collect()
    }
    assert got == expected


def test_bpe_encode_paths_agree_on_overlapping_runs(spark):
    """Overlapping same-symbol runs (``aaaa`` under merge (a,a)) are
    where greedy-fold vs rank-priority implementations classically
    diverge — the fold encode must match the reference BPE's counts."""
    from post_modern_stack_spark.operators.vocab import bpe_encode, bpe_train

    texts = {1: "aaaa aaa aa a ab", 2: "aaaa aaaa b ab aab"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    merges, _ = bpe_train(df, n_merges=4)

    counts = {}
    for t in texts.values():
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    want_merges, want_state = _reference_bpe(counts, 4)
    assert merges == want_merges
    expected = {}
    for i, t in texts.items():
        n_words = len(t.split())
        n_tok = sum(len(want_state[w]) for w in t.split())
        expected[i] = (n_words, n_tok, round(n_tok / n_words, 6))
    fold = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["fertility"])
        for r in bpe_encode(df, merges).collect()
    }
    assert fold == expected


def _synth_mp3(n_frames=5, pad_id3=False):
    """Spec-conformant MPEG-1 Layer III 128 kbps 44.1 kHz frames."""
    frame_len = 144 * 128000 // 44100  # 417, padding bit 0
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(frame_len - 4)
    body = frame * n_frames
    if pad_id3:
        tag = b"junkdata12"  # 10 bytes of tag payload
        hdr = b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 0, len(tag)])
        return hdr + tag + body
    return body


def _synth_mp4(timescale=1000, duration=5000, n_trak=2):
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = bytes([0, 0, 0, 0]) + bytes(8) + struct.pack(">I", timescale) + struct.pack(">I", duration) + bytes(80)
    moov = box(b"moov", box(b"mvhd", mvhd) + b"".join(box(b"trak", b"") for _ in range(n_trak)))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_mp3_frame_walk_and_id3_skip():
    from post_modern_stack_spark.operators.multimodal import parse_mp3_info

    info = parse_mp3_info(_synth_mp3(5))
    assert info["container"] == "mp3" and info["n_units"] == 5
    assert info["bitrate_kbps"] == 128
    assert abs(info["duration_ms"] - 5 * 1152 * 1000 / 44100) <= 1
    # ID3v2 prefix skipped via synchsafe size
    info2 = parse_mp3_info(_synth_mp3(5, pad_id3=True))
    assert info2["n_units"] == 5
    # non-MP3 bytes -> no container
    assert parse_mp3_info(b"\x00" * 100)["container"] is None


def test_mp4_box_walk():
    from post_modern_stack_spark.operators.multimodal import parse_mp4_info

    info = parse_mp4_info(_synth_mp4(timescale=600, duration=1800, n_trak=3))
    assert info["container"] == "mp4"
    assert info["duration_ms"] == 3000 and info["n_units"] == 3
    assert parse_mp4_info(b"notamovie")["container"] is None


def test_container_info_distributed(spark):
    from post_modern_stack_spark.operators.multimodal import container_info

    rows = [
        (1, "audio", bytearray(_synth_mp3(10))),
        (2, "video", bytearray(_synth_mp4())),
        (3, "audio", bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {r["media_id"]: r for r in container_info(df).collect()}
    assert got[1]["container"] == "mp3" and got[1]["n_units"] == 10
    assert got[2]["container"] == "mp4" and got[2]["duration_ms"] == 5000
    assert got[3]["container"] is None


def test_pack_greedy_invariants_property(spark):
    """Property: never exceed budget (except single oversized docs),
    preserve id order within bins, match the sequential reference."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from post_modern_stack_spark.operators.shaping import pack_greedy

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=30),
        budget=st.integers(min_value=50, max_value=300),
    )
    def run(sizes, budget):
        rows = [("g", i, s) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
        got = sorted(
            ((r["doc_id"], r["bin_id"]) for r in pack_greedy(df, budget=budget).collect())
        )
        # sequential reference
        want, fill, cur = [], 0, 0
        for i, s in enumerate(sizes):
            if fill > 0 and fill + s > budget:
                cur, fill = cur + 1, 0
            want.append((i, cur))
            fill += s
        assert got == want
        # bin totals within budget unless the bin is a single oversized doc
        totals = {}
        for (i, b) in got:
            totals.setdefault(b, []).append(sizes[i])
        for b, ss in totals.items():
            assert sum(ss) <= budget or len(ss) == 1

    run()


def test_weighted_sample_matches_reference_aes(spark):
    """A-ES ranks must match a python replay of the same hash keys."""
    import hashlib
    import math

    from post_modern_stack_spark.operators.shaping import weighted_sample_per_group

    rows = [("g", i, (i % 7) + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    got = {r["doc_id"]: r["rank_in_group"] for r in weighted_sample_per_group(df, k=50, weight_col="w").collect()}

    def key(i, w):
        u = (int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) + 1.0) / (1 << 52)
        return math.log(u) / w

    want_order = sorted(rows, key=lambda r: (-key(r[1], r[2]), r[1]))
    want = {r[1]: ix + 1 for ix, r in enumerate(want_order)}
    assert got == want


def test_kmeans_k_exceeds_n_is_safe(spark):
    from post_modern_stack_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0])], "vec_id long, embedding array<double>"
    )
    assignments, cents = kmeans_lloyd(df, k=4, n_iter=2)
    got = {r["vec_id"]: r["cluster"] for r in assignments.collect()}
    assert set(got) == {1, 2} and len(cents) == 4


def test_kmeans_rejects_null_embedding_element(spark):
    """One NULL element would turn into NaN inside the fused update and
    silently send every point to cluster 0; it must fail loudly."""
    from post_modern_stack_spark.operators.similarity import kmeans_lloyd

    rows = [(i, [float(i), 1.0]) for i in range(6)] + [(6, [2.0, None])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL embedding"):
        kmeans_lloyd(df, k=2, n_iter=1)


def test_container_parsers_never_crash_on_fuzz():
    """Parsers must treat arbitrary bytes as not-a-container, never
    raise — they run inside executor tasks over untrusted corpora."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from post_modern_stack_spark.operators.multimodal import (
        parse_mp3_info,
        parse_mp4_info,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=400))
    def run(data):
        for fn in (parse_mp3_info, parse_mp4_info):
            info = fn(data)
            assert set(info) == {"container", "duration_ms", "n_units", "bitrate_kbps"}
            assert info["duration_ms"] >= 0 and info["n_units"] >= 0

    run()
    # adversarial prefixes: truncated sync/box headers
    for junk in (b"\xff\xfb", b"ID3", b"ID3\x03\x00\x00\x7f\x7f\x7f\x7f", b"\x00\x00\x00\x08ftyp", b"\x00\x00\x00\x01moov"):
        parse_mp3_info(junk)
        parse_mp4_info(junk)
    # ADVICE round-3: a 24-byte VERSION-1 mvhd body at end of file passes
    # the 20-byte (v0-layout) size guard but the v1 layout reads through
    # lo+32 — must fall through, not raise struct.error.
    trunc_v1_mvhd = b"\x01" + b"\x00" * 23
    mp4 = (
        b"\x00\x00\x00\x08ftyp"
        + (8 + 8 + len(trunc_v1_mvhd)).to_bytes(4, "big")
        + b"moov"
        + (8 + len(trunc_v1_mvhd)).to_bytes(4, "big")
        + b"mvhd"
        + trunc_v1_mvhd
    )
    info = parse_mp4_info(mp4)
    assert info["container"] == "mp4" and info["duration_ms"] == 0


def test_container_parsers_never_crash_on_structured_fuzz():
    """Raw-byte fuzz almost never synthesizes a VALID size/type chain,
    so it exercised only the outermost guards — the round-3 v1-mvhd
    crash lived three branches deep, behind a well-formed ftyp+moov
    wrapper. This fuzzer builds syntactically-plausible ISO-BMFF box
    trees (known types, version 0/1 full-box headers, 64-bit
    largesize) whose sizes sometimes LIE (short, overlong, truncated
    mid-body), plus MP3 streams with all 16 bitrate / 4 samplerate
    index combinations and corrupt ID3 sizes — the deep-branch shapes
    untrusted corpora actually contain."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from post_modern_stack_spark.operators.multimodal import (
        parse_mp3_info,
        parse_mp4_info,
    )

    box_types = [b"ftyp", b"moov", b"mvhd", b"trak", b"tkhd", b"mdia",
                 b"mdhd", b"stbl", b"free", b"mdat", b"wide", b"uuid"]

    @st.composite
    def box(draw, depth=0):
        typ = draw(st.sampled_from(box_types))
        if typ in (b"moov", b"trak", b"mdia", b"stbl") and depth < 2:
            body = b"".join(draw(st.lists(box(depth=depth + 1), max_size=3)))
        else:
            ver = draw(st.sampled_from([0, 1, 2, 255]))
            body = bytes([ver]) + draw(st.binary(max_size=40))
        size = len(body) + 8
        lie = draw(st.sampled_from(["honest", "short", "long", "largesize"]))
        if lie == "short":
            size = draw(st.integers(min_value=0, max_value=size))
        elif lie == "long":
            size += draw(st.integers(min_value=1, max_value=64))
        elif lie == "largesize":
            return (
                (1).to_bytes(4, "big") + typ + (len(body) + 16).to_bytes(8, "big") + body
            )
        return size.to_bytes(4, "big") + typ + body

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(box(), min_size=1, max_size=4),
        st.integers(min_value=0, max_value=60),
    )
    def run_mp4(boxes, cut):
        data = b"".join(boxes)
        data = data[: max(len(data) - cut, 0)]  # truncate mid-body
        info = parse_mp4_info(data)
        assert info["duration_ms"] >= 0 and info["n_units"] >= 0

    run_mp4()

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(min_value=0, max_value=3),   # version bits
        st.integers(min_value=0, max_value=3),   # layer bits
        st.integers(min_value=0, max_value=15),  # bitrate index (15 = bad)
        st.integers(min_value=0, max_value=3),   # samplerate index (3 = bad)
        st.booleans(),                           # padding
        st.binary(max_size=64),                  # payload / trailing junk
        st.binary(min_size=0, max_size=12),      # ID3 size field bytes
    )
    def run_mp3(ver, layer, br, sr, pad, tail, id3sz):
        hdr = bytes(
            [0xFF, 0xE0 | (ver << 3) | (layer << 1), (br << 4) | (sr << 2) | (pad << 1), 0]
        )
        for data in (
            hdr + tail,
            b"ID3" + id3sz + hdr + tail,  # corrupt/short ID3 header
            hdr + hdr + tail,             # back-to-back frames
        ):
            info = parse_mp3_info(data)
            assert info["duration_ms"] >= 0 and info["n_units"] >= 0
            assert info["bitrate_kbps"] >= 0

    run_mp3()


def test_validate_and_split_partitions_rows(spark):
    from post_modern_stack_spark.operators.expectations import validate_and_split

    df = spark.createDataFrame(
        [(1, 5.0, "view"), (2, -1.0, "view"), (3, None, "bogus"), (4, 2.0, "click")],
        "id long, value double, event_type string",
    )
    valid, quar = validate_and_split(
        df,
        {
            "value_not_null": F.col("value").isNotNull(),
            "value_non_negative": F.col("value") >= 0,
            "known_type": F.col("event_type").isin("view", "click"),
        },
    )
    assert sorted(r["id"] for r in valid.collect()) == [1, 4]
    got = {r["id"]: list(r["violations"]) for r in quar.collect()}
    assert got[2] == ["value_non_negative"]
    # NULL value fails both null and range rules (range is NULL -> fail)
    assert got[3] == ["value_not_null", "value_non_negative", "known_type"]


def test_windowed_counts_update_mode_emits_running_aggregates(spark, tmp_path):
    """UPDATE output mode: every trigger emits the CURRENT value of
    changed windows (no watermark-close wait) — the live-dashboard
    contract, complementing the append-mode parity tests."""
    from post_modern_stack_spark.registry import load_table
    from post_modern_stack_spark.streaming import sessionize_stream as S

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "upd_in")
    ev.repartition(2).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    counts = S.windowed_event_counts(stream, window="6 hours")
    q = (
        counts.writeStream.format("memory")
        .queryName("upd_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("upd_sink")
    # update mode re-emits a window each time it changes; the LAST
    # emission per (window, type) must equal the batch aggregate
    import pyspark.sql.functions as F2

    last = (
        got.groupBy("window_start", "event_type")
        .agg(F2.max(F2.struct("n_events", "total_value")).alias("s"))
        .select("window_start", "event_type", "s.n_events", "s.total_value")
    )
    batch = S.windowed_event_counts(ev, window="6 hours")
    a = {tuple(r) for r in last.collect()}
    b = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert a == b and len(b) > 0


def test_semantic_dedup_blocked_matches_unblocked(spark):
    """Skew hardening (r05): the row-blocked per-cluster GEMM must be
    bit-identical to the full-matrix form on a cluster spanning
    multiple blocks (block_rows=4096 → 5000 rows = 2 blocks)."""
    import numpy as np
    import pandas as pd

    from post_modern_stack_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(7)
    n = 5000
    rows = [(int(i), 0, [float(x) for x in rng.randn(8)]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = (
        semantic_dedup(df, threshold=0.6)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
    mat = np.array(list(pdf["embedding"]))
    nr = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(nr, nr)
    want = np.tril(sims >= 0.6, k=-1).sum(axis=1)
    assert out["n_close_lower"].tolist() == want.tolist()


def test_semantic_dedup_sharded_matches_plain(spark):
    """Block-pair sharded SemDeDup (the skew path) must produce the
    EXACT (n_close_lower, keep) output of semantic_dedup — spanning
    multiple shards per cluster and a skewed cluster mix."""
    import numpy as np

    from post_modern_stack_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_sharded,
    )

    rng = np.random.RandomState(11)
    rows = []
    # cluster 0: 700 rows (3 shards at shard_rows=256); cluster 1: 40
    for i in range(700):
        rows.append((int(i), 0, [float(x) for x in rng.randn(6)]))
    for i in range(700, 740):
        rows.append((int(i), 1, [float(x) for x in rng.randn(6)]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    plain = {
        r["vec_id"]: (r["n_close_lower"], r["keep"])
        for r in semantic_dedup(df, threshold=0.5).collect()
    }
    sharded = {
        r["vec_id"]: (r["n_close_lower"], r["keep"])
        for r in semantic_dedup_sharded(
            df, threshold=0.5, shard_rows=256
        ).collect()
    }
    assert sharded == plain


def test_semantic_dedup_sharded_plan_is_not_cartesian(spark):
    """The block-pair join has condition (cl == cl2) & (bi <= bj):
    Catalyst must extract the equality as the join key (shuffle hash /
    sort-merge on cluster) and evaluate the block-range predicate
    post-match — a CartesianProduct over block pairs would be the
    O(catalog²) failure mode at corpus scale."""
    import numpy as np

    from post_modern_stack_spark.operators.dedup import semantic_dedup_sharded

    rng = np.random.RandomState(3)
    rows = [(int(i), int(i % 3), [float(x) for x in rng.randn(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    plan = (
        semantic_dedup_sharded(df, threshold=0.5, shard_rows=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_top_k_arrow_matches_expression_path(spark):
    """The mapInArrow exact top-K must reproduce brute_force_top_k
    bit-for-bit — same rounded scores, same tie-breaks, same ranks —
    across multiple partitions and batch boundaries, with self-matches
    excluded."""
    import numpy as np

    from post_modern_stack_spark.operators.similarity import (
        brute_force_top_k,
        brute_force_top_k_arrow,
    )

    rng = np.random.RandomState(5)
    rows = [(int(i), [float(x) for x in rng.randn(16)]) for i in range(800)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(7)
    queries = spark.createDataFrame(rows[:12], "vec_id long, embedding array<double>")
    a = sorted(map(tuple, brute_force_top_k(corpus, queries, k=5).collect()))
    b = sorted(map(tuple, brute_force_top_k_arrow(corpus, queries, k=5).collect()))
    assert a == b and len(a) == 12 * 5


def test_bpe_train_driver_and_distributed_paths_agree(spark):
    """bpe_train auto-routes the merge loop driver-side when the word
    table is small (round 9: per-merge cluster roundtrips dominated
    the catalog query). The two execution sites must be byte-identical
    on merges AND final vocab state — forced here by running the same
    corpus through both (threshold 0 forces the distributed loop)."""
    from post_modern_stack_spark.operators.vocab import bpe_train

    texts = ["low lower lowest", "new newer newest", "low low new"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    m_drv, v_drv = bpe_train(df, n_merges=6)
    m_dist, v_dist = bpe_train(df, n_merges=6, driver_merge_threshold=0)
    assert m_drv == m_dist
    syms_drv = {r["w"]: list(r["syms"]) for r in v_drv.collect()}
    syms_dist = {r["w"]: list(r["syms"]) for r in v_dist.collect()}
    assert syms_drv == syms_dist


def test_grain_partitions_hint_mapping(spark):
    """grain_partitions_hint: chars→token-grain→partition arithmetic
    (VERDICT r10 item 5). 60 docs × 100 chars = 6000 chars → 1000
    token-grain → ceil(1000/300) = 4 at rows_per_partition=300; the
    cap clamps; an empty corpus still returns ≥1."""
    from post_modern_stack_spark.operators.textstats import (
        grain_partitions_hint,
    )

    docs = spark.createDataFrame(
        [(i, "x" * 100) for i in range(60)], "doc_id long, text string"
    )
    assert grain_partitions_hint(docs, rows_per_partition=300) == 4
    assert grain_partitions_hint(docs, rows_per_partition=300, cap=2) == 2
    assert grain_partitions_hint(docs, rows_per_partition=10**9) == 1
    empty = docs.filter("doc_id < 0")
    assert grain_partitions_hint(empty) == 1


def test_elevated_shuffle_partitions_scopes_and_restores(spark):
    """session.elevated_shuffle_partitions must raise BOTH
    spark.sql.shuffle.partitions and AQE's initialPartitionNum inside
    the block (AQE only coalesces DOWN, so the initial number is the
    real ceiling), restore both on exit — including exceptional exit —
    and be a no-op when the session is already at least as wide."""
    import pytest

    from post_modern_stack_spark.session import elevated_shuffle_partitions

    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    with elevated_shuffle_partitions(spark, int(prev) + 100):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            int(prev) + 100
        )
        assert spark.conf.get(init_key) == str(int(prev) + 100)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # no-op when narrower than the session
    with elevated_shuffle_partitions(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # restores on exception too
    with pytest.raises(RuntimeError):
        with elevated_shuffle_partitions(spark, int(prev) + 100):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_curate_documents_auto_partitions_parity_and_restore(spark, monkeypatch):
    """curate_documents(auto_partitions=True, the default) must (a)
    elevate the session's shuffle width when the grain hint exceeds it,
    (b) return byte-identical stages to the manual-knob form, and (c)
    leave the session confs exactly as it found them (the elevation is
    call-scoped, not a leaked global)."""
    from post_modern_stack_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(f"tok{i}n{j}" for j in range(12)),
                "en",
                f"src{i % 3}",
            )
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )
    bench_docs = docs.filter(F.col("doc_id") % 17 == 0)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen: list[str] = []
    # force a hint wider than the session so the elevation path runs
    monkeypatch.setattr(
        textstats,
        "grain_partitions_hint",
        # accept the r11 stats_gate kwarg the funnel now passes
        lambda df, text_col="text", **kw: int(prev) + 32,
    )
    orig = textstats.exact_keep_min

    def spy_exact_keep_min(df, text_col="text"):
        # runs INSIDE the funnel body — observe the elevated width
        seen.append(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return orig(df, text_col)

    monkeypatch.setattr(textstats, "exact_keep_min", spy_exact_keep_min)
    auto = textstats.curate_documents(docs, bench_docs)["final"]
    assert seen == [str(int(prev) + 32)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    monkeypatch.setattr(textstats, "exact_keep_min", orig)
    manual = textstats.curate_documents(docs, bench_docs, auto_partitions=False)[
        "final"
    ]
    a = sorted(r["doc_id"] for r in auto.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in manual.select("doc_id").collect())
    assert a == b and len(a) > 0


def test_grain_partitions_hint_stats_gate(spark, tmp_path, monkeypatch):
    """r11 stats gate: when catalog statistics already bound the hint
    at/below the session's shuffle width, grain_partitions_hint must
    return WITHOUT running the sum(length) scan (no job) — proven by
    making the scan path raise. A corpus whose stats bound exceeds the
    width must still take the exact scan."""
    from post_modern_stack_spark.operators.textstats import (
        grain_partitions_hint,
    )

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "tok " * 20) for i in range(200)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)

    # poison the scan route: the gate must short-circuit before agg
    import post_modern_stack_spark.operators.textstats as ts

    real_agg = type(docs).agg

    def boom(self, *a, **k):
        raise AssertionError("stats gate did not short-circuit")

    monkeypatch.setattr(type(docs), "agg", boom)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hint = grain_partitions_hint(docs, stats_gate=True)
    assert 1 <= hint <= cur
    monkeypatch.setattr(type(docs), "agg", real_agg)

    # tiny rows_per_partition inflates the stats bound past the session
    # width -> exact-scan route runs and returns the calibrated value
    exact = grain_partitions_hint(
        docs, rows_per_partition=10, stats_gate=True
    )
    assert exact == grain_partitions_hint(docs, rows_per_partition=10)
