"""Text analysis operators for LLM-data pipelines (SURVEY.md §2 K4):
token counting, quality scoring, language-ID heuristic, fingerprinting.

Built-in expression composition over the ``documents`` table (doc_id,
text, lang, source, n_chars) — codegen-covered, no Python in the row
path — with two measured exceptions, both through Arrow: language_id
scores in an ``arrow_udf`` because the tiny profile dict in the closure
beats a 1.5M-row gram explode + join (~2× at sf0.1), and the
duplicate-span trim masks each doc's tokens in ``vectors.map_rows``.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from post_modern_stack_spark.operators import vectors

# minimal function-word list present in the synthetic corpus; quality
# scoring treats their share as a fluency signal
STOPWORDS = ("the", "a", "of", "and", "to", "in")

_WORD_RE = r"\s+"
# BPE-ish token split: words, digits runs, or single non-space symbols —
# approximates subword tokenizers' pre-tokenization pass
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]"


def tokens(text_col: str | F.Column) -> F.Column:
    return F.split(F.col(text_col) if isinstance(text_col, str) else text_col, _WORD_RE)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document statistics: token/char counts, lexical diversity,
    average token length, stopword ratio, whitespace-vs-BPE token
    counts. One projection, zero shuffles.
    """
    toks = tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return df.select(
        "doc_id",
        "lang",
        F.length(text_col).alias("n_chars_computed"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias(
            "lexical_diversity"
        ),
        F.round(
            F.aggregate(
                toks, F.lit(0), lambda acc, t: acc + F.length(t)
            )
            / F.size(toks),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: length band + stopword
    presence + lexical diversity band (the classic C4/Gopher-style rule
    family, expressed as one scalar expression).
    """
    stats = text_stats(df, text_col)
    length_ok = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000)
    stop_ok = F.col("stopword_ratio") > 0
    div_ok = F.col("lexical_diversity") > 0.1
    return stats.select(
        "doc_id",
        F.round(
            (
                length_ok.cast("double")
                + stop_ok.cast("double")
                + div_ok.cast("double")
            )
            / 3.0,
            6,
        ).alias("quality"),
    )


def char_ngrams(text_col: str | F.Column, n: int = 3) -> F.Column:
    """Character n-gram array (language-ID features).

    Kept as per-position ``substring`` (r11 A/B): a split-to-char-array
    + slice/concat_ws form — attractive because dynamic-start substring
    re-scans the UTF-8 string to locate the char offset, i.e. O(len²)
    per doc — measured SLOWER on the full corpus (0.62 → 1.71 s
    explode+count at sf0.1): at this catalog's ~300-char docs the
    quadratic term is immaterial and the per-gram array allocations
    dominate. Revisit only for corpora with multi-KB documents."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - n + 1, F.lit(1))),
        lambda i: F.substring(col, i, n),
    )


def language_id(
    df: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram-profile language ID: the per-language score of a doc is
    the summed profile weight of its char trigrams, and the doc gets the
    language with the highest score.

    The (tiny) profile table is collected to a dict that rides in the
    closure of an iterator ``arrow_udf``, which scores each Arrow batch
    of texts and returns a struct array — no gram explode, no shuffle
    on the gram grain. Valid while the profile table is
    driver-collectable (per-language top-N — a few KB by design).

    Docs with no profile-gram match are absent from the output. Scores
    round to 6dp BEFORE the argmax: equal weight multisets summed in
    different orders drift in the last ulp, so ranking on the raw
    double would be nondeterministic run-to-run (and cross-engine); the
    rounded score + lang tie-break is total.
    """
    prof_rows = profiles.collect()
    langs = sorted({r["lang"] for r in prof_rows})
    lang_ix = {lang: i for i, lang in enumerate(langs)}
    weights: dict[str, list] = {}
    for r in prof_rows:
        weights.setdefault(r["ngram"], [0.0] * len(langs))[
            lang_ix[r["lang"]]
        ] += r["weight"]
    n = 3
    n_langs = len(langs)
    # vectorized scoring (r11, guide §4.2 "hand whole batches to
    # vectorized native libraries"): an ascii doc of >= 3 chars yields
    # only length-3 ascii slices, so every gram packs into a 24-bit
    # integer code and a whole batch scores as numpy searchsorted-gather
    # + per-lang bincount-scatter — the per-character interpreted loop
    # was ~33 s of core time at sf0.1. Profile grams that are non-ascii
    # or not length 3 can never match such a doc, so they stay out of
    # the code table; docs that are non-ascii or shorter than 3 chars
    # take the per-char dict loop (identical math, including the i = 0
    # short-slice probe for len < 3). Scores sum in position order and
    # round to 6dp before the argmax on both routes.
    packable = sorted(g for g in weights if len(g) == 3 and g.isascii())
    prof_codes = np.array(
        [
            (b[0] << 16) | (b[1] << 8) | b[2]
            for b in (g.encode("ascii") for g in packable)
        ],
        dtype=np.int64,
    )
    prof_w = (
        np.array([weights[g] for g in packable], dtype=np.float64)
        if packable
        else np.zeros((0, n_langs), dtype=np.float64)
    )
    out_type = pa.struct(
        [("predicted_lang", pa.string()), ("lang_score", pa.float64())]
    )

    def _pick(raw_sums):
        # raw > 0 filter BEFORE rounding, then max on the rounded
        # (score, lang) tuple
        cands = [
            (round(s, 6), langs[j]) for j, s in enumerate(raw_sums) if s > 0.0
        ]
        if cands:
            s_best, l_best = max(cands)
            return {"predicted_lang": l_best, "lang_score": s_best}
        return None

    @arrow_udf("predicted_lang string, lang_score double")
    def score(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in batches:
            vals = ["" if t is None else t for t in texts.to_pylist()]
            out: list = [None] * len(vals)
            fast_ix = [i for i, t in enumerate(vals) if len(t) >= n and t.isascii()]
            if fast_ix and len(prof_codes):
                bufs = [vals[i].encode("ascii") for i in fast_ix]
                lens = np.array([len(b) for b in bufs], dtype=np.int64)
                byts = np.frombuffer(b"".join(bufs), dtype=np.uint8)
                doc_of = np.repeat(np.arange(len(bufs), dtype=np.int64), lens)
                codes = (
                    (byts[:-2].astype(np.int64) << 16)
                    | (byts[1:-1].astype(np.int64) << 8)
                    | byts[2:]
                )
                # a gram is in-doc iff its first and third byte belong
                # to the same (contiguous) document
                in_doc = doc_of[:-2] == doc_of[2:]
                pos = np.searchsorted(prof_codes, codes)
                pos[pos == len(prof_codes)] = 0
                hit = in_doc & (prof_codes[pos] == codes)
                hit_docs = doc_of[:-2][hit]
                hit_pos = pos[hit]
                sums = np.zeros((len(bufs), n_langs), dtype=np.float64)
                for j in range(n_langs):
                    sums[:, j] = np.bincount(
                        hit_docs, weights=prof_w[hit_pos, j], minlength=len(bufs)
                    )
                for row_i, i in enumerate(fast_ix):
                    out[i] = _pick(sums[row_i])
            for i, t in enumerate(vals):
                if len(t) >= n and t.isascii():
                    continue  # fast path (or no packable profile)
                sums_py = [0.0] * n_langs
                for p in range(max(len(t) - n + 1, 1)):
                    w = weights.get(t[p : p + n])
                    if w is not None:
                        for j, wv in enumerate(w):
                            sums_py[j] += wv
                out[i] = _pick(sums_py)
            yield pa.array(out, type=out_type)

    scored = df.select(F.col(id_col), score(F.col(text_col)).alias("_s"))
    return scored.filter(F.col("_s").isNotNull()).select(
        id_col,
        F.col("_s.predicted_lang").alias("predicted_lang"),
        F.col("_s.lang_score").alias("lang_score"),
    )


def ngram_language_profiles(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang", top_n: int = 50
) -> DataFrame:
    """Build per-language trigram weight profiles from labeled docs
    (train side of the language-ID heuristic)."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(lang_col).alias("lang"), F.explode(char_ngrams(text_col)).alias("ngram")
    )
    counts = grams.groupBy("lang", "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("ngram"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select(
            "lang", "ngram", (F.lit(1.0) / F.col("rk").cast("double")).alias("weight")
        )
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-sensitive rolling document fingerprint. Equal fingerprints
    ⇒ equal token sequences (modulo collision).

    A polynomial rolling hash over character codes mod 1e9+7 (~2^30
    space) in engine-replayable arithmetic, so the result has a DuckDB
    oracle twin; the smaller space trades collision odds for
    checkability.
    """
    p = 1000000007

    def tok_val(t: F.Column) -> F.Column:
        return F.aggregate(
            F.split(t, ""),
            F.lit(7).cast("long"),
            lambda a, ch: (a * 31 + F.ascii(ch)) % p,
        )

    fp = F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + tok_val(t)) % p,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 30,
    stride: int = 20,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window prep step of LLM training pipelines (chunk size =
    model context budget, stride < size for overlap).

    Pure generator expressions: tokens → start offsets via
    ``sequence(0, n-1, stride)`` → per-window slices materialized as an
    array of (idx, n, text) structs INSIDE the row → ``inline``.
    No shuffle at all — chunking is embarrassingly row-parallel, and
    output partitioning inherits the input's, so a downstream
    per-chunk op (embedding, dedup) starts from the same layout.

    The struct-array-then-inline shape matters: exploding start
    offsets first and slicing afterwards drags a copy of the full
    token array through every generated row — at 1M docs that GC-
    thrashed a single JVM ~100× slower; building the chunk strings
    before the generator keeps each output row self-contained.
    """
    # token array projected to an attribute first — interpreted HOF
    # eval re-runs non-attribute children per element, so the inline
    # form re-split the text once per chunk (see substring_dup_share)
    tc = F.col("__toks")
    starts = F.sequence(F.lit(0), F.greatest(F.size(tc) - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.size(F.slice(tc, s + 1, chunk_tokens)).alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(tc, s + 1, chunk_tokens)).alias("chunk_text"),
        ),
    )
    return df.select(
        "doc_id", F.split(F.col(text_col), r"\s+").alias("__toks")
    ).select("doc_id", F.inline(chunks))


# deliberately simple ASCII patterns — identical semantics in Java
# regex (Spark) and RE2 (DuckDB), so redaction is oracle-replayable
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing (training-data hygiene): mask email/phone patterns,
    reporting per-document match counts. Expression-only (regexp_count /
    regexp_replace), codegen-covered, zero Python in the row path.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        "doc_id",
        F.regexp_count(F.col(text_col), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(PHONE_RE)).alias("n_phones"),
        redacted.alias("redacted_text"),
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    hashed_keys: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: (corpus doc, benchmark doc) pairs
    sharing ≥1 token n-gram — the decontamination pass run before
    training on scraped corpora (n=8..13 in published pipelines; 5 here
    for the tiny synthetic vocabulary).

    Scale shape: each side explodes to DISTINCT per-doc n-grams (the
    distinct bounds a hot n-gram's fan-out at doc grain), and the
    benchmark side — always the small side in practice — broadcasts.
    Count of shared n-grams per pair comes from the join's group-by,
    no second scan. With ``hashed_keys`` (default, r08) the join key
    is xxhash64 over the length-n slice of PER-TOKEN hashes — no
    per-gram string concat on either side, and the broadcast hash
    table holds 8-byte longs instead of ~n-word strings (the same
    trade substring_dup_share documents: gram equality ⟺
    token-sequence equality modulo a ~(#grams)²/2⁶⁴ collision bound,
    far below one expected collision at any realistic benchmark
    size). Same-window A/B at 1M docs / p=128 (3-sample medians):
    hashed 19.1 s vs string 36.2 s — the string broadcast's samples
    degrade into the 80 s range under memory pressure while the
    long-keyed table stays tight; at sf0.1 the two are within noise
    (~1.0 s) because the gram table is tiny.
    """

    def doc_ngrams(df: DataFrame, id_alias: str) -> DataFrame:
        # Per-doc dedup happens IN-ARRAY (array_distinct BEFORE the
        # explode): a row-level distinct() after it would shuffle the
        # whole gram set just to dedup within each doc — the
        # (doc, gram) pairs are already unique across docs by
        # construction. The removed exchange is corpus-sized at 100 TB.
        base, keys_at = _gram_base(
            df.select(F.col("doc_id").alias(id_alias), text_col),
            text_col,
            n,
            hashed_keys,
            id_alias,
        )
        return base.select(
            id_alias, F.explode(F.array_distinct(keys_at)).alias("ngram")
        )

    c = doc_ngrams(corpus, "corpus_doc_id")
    b = doc_ngrams(benchmark, "benchmark_doc_id")
    return (
        c.join(F.broadcast(b), "ngram")
        .groupBy("corpus_doc_id", "benchmark_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def _gram_base(
    docs: DataFrame,
    text_col: str,
    n: int,
    hashed_keys: bool,
    id_col: str,
):
    """Shared token-gram projection (ADVICE r08: contamination_pairs
    and gram_positions each re-built this and could drift): returns
    ``(base, keys_at)`` where ``base`` is (id_col, __toks) restricted
    to docs with ≥ n tokens and ``keys_at`` is the in-array expression
    of all n-gram keys in position order. Distinct-vs-positional — the
    only semantic divergence between the two callers — stays at the
    call site (array_distinct+explode vs posexplode).

    Gram construction stays INSIDE the array via transform — exploding
    positions first and slicing per row was measured ~40% slower
    (every exploded row drags a copy of the token array through the
    generator). The token array (and, hashed, the per-token-hash
    array) is PROJECTED to an attribute before the gram lambda touches
    it: interpreted HOF eval re-runs non-attribute children per
    element, so the inline form re-split the text once per gram (3.5×
    on the gram stage at sf0.1, r07). With ``hashed_keys`` the key is
    xxhash64 over the length-n slice of per-token hashes — no per-gram
    string concat, and downstream hash tables hold 8-byte longs; gram
    equality ⟺ token-sequence equality modulo a ~(#grams)²/2⁶⁴
    collision bound.
    """
    tc = F.col("__toks")
    base = docs.select(
        id_col, F.split(F.col(text_col), r"\s+").alias("__toks")
    ).filter(F.size("__toks") >= n)
    if hashed_keys:
        base = base.select(
            id_col, F.transform(tc, lambda w: F.xxhash64(w)).alias("__toks")
        )
        gram_of = lambda i: F.xxhash64(F.slice(tc, i + 1, n))  # noqa: E731
    else:
        gram_of = lambda i: F.concat_ws(" ", F.slice(tc, i + 1, n))  # noqa: E731
    keys_at = F.transform(F.sequence(F.lit(0), F.size(tc) - n), gram_of)
    return base, keys_at


def gram_positions(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    hashed_keys: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional token n-gram stream: (id, p, gkey) — one row per
    n-gram POSITION of every doc with ≥ n tokens, the shared grain of
    Lee et al. 2022's substring-dedup measure and removal.

    Projection + key construction shared with contamination_pairs via
    ``_gram_base`` (see its docstring for the attribute-projection and
    hashed-key rationale).
    """
    base, keys_at = _gram_base(docs, text_col, n, hashed_keys, id_col)
    return base.select(id_col, F.posexplode(keys_at).alias("p", "gkey"))


def gram_key_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    hashed_keys: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Gram-key-grain aggregate over ``gram_positions``: (gkey, c,
    __d0) where c counts POSITIONS corpus-wide and __d0 = min(id).
    One gram-grain exchange; both partials map-side combinable, so a
    hot gram collapses before the shuffle. A key with c == 1 has
    exactly one position corpus-wide, owned by __d0 — the fact both
    the share's uniq-subtract derivation and the removal's probe
    restriction are built on.
    """
    return (
        gram_positions(df, text_col, n, hashed_keys, id_col)
        .groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("c"), F.min(id_col).alias("__d0"))
    )


def substring_dup_share(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    hashed_keys: bool = True,
    per_key: DataFrame | None = None,
) -> DataFrame:
    """Span-level duplication measure: per document, the fraction of
    its token n-gram POSITIONS whose gram occurs more than once in the
    corpus — counting every position of every document, so a span
    repeated within one document is a repeat too. This is exactly the
    positional grain of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022; its removal half is
    ``remove_duplicate_spans`` — same gram-key aggregate, same
    duplicated-iff-c>1 rule; n=8 here for the tiny synthetic
    vocabulary). r08 note: the r06–r07 form measured DISTINCT grams
    per doc; the positional form is value-identical on any corpus
    without intra-doc gram repeats (the oracle data has none) and
    makes the totals pass pure arithmetic — ``n_grams(doc) =
    size(toks) − n + 1`` with NO gram-array construction at all
    (VERDICT r07 item 5; the distinct form rebuilt the
    array_distinct(transform(...)) array per row just to size() it).

    Scale shape (uniq-subtract form, r06): the corpus-grain work is
    ONE gram-key exchange feeding a count+min aggregate — both
    partials are map-side combinable, so a pathologically hot gram
    collapses before the shuffle (a collect_list variant measured
    faster at small SFs but buffers every holder of a hot gram in one
    task — rejected). The per-doc dup count is then DERIVED, never
    joined at gram grain: a key with c == 1 has exactly one position
    corpus-wide, owned by min(doc_id), so

        n_dup_grams(doc) = n_grams(doc) − #{c==1 keys owned by doc},

    with n_grams from arithmetic and the unique counts from the tiny
    key-grain aggregate. The earlier agg+join-back form rebuilt AND
    re-exploded the gram set for the join probe (broadcast join ⇒ no
    exchange to reuse): measured 58.6 s vs 44.4 s for this form at 1M
    docs / ~50M grams, and the count-window form needs a full gram
    sort (89 s). With ``hashed_keys`` the exchange moves 8-byte keys,
    not gram strings, and the key is xxhash64 of the length-n slice
    of PER-TOKEN hashes — gram equality ⟺ token-sequence equality
    modulo the same negligible collision bound (~ (#grams)^2 / 2^64)
    the string-hash form already carried, with no per-gram string
    concat at all.

    The token array (and, hashed, the token-hash array) is PROJECTED
    to an attribute before any higher-order lambda touches it:
    interpreted HOF eval re-evaluates non-attribute children per
    ELEMENT, so ``slice(split(text), ..)`` inside ``transform``
    re-ran split once per gram — projecting it first measured 3.5×
    on the gram stage at sf0.1 (r07).

    ``per_key``: an already-built (gkey, c, min-id) aggregate in
    ``gram_key_counts`` form over the SAME corpus/n/hashed_keys —
    pass it when a sibling stage (e.g. ``remove_duplicate_spans``
    inside ``curate_documents``) computes it anyway, so the funnel
    pays the gram exchange once (VERDICT r07 item 4).
    """
    if per_key is None:
        per_key = gram_key_counts(df, text_col, n, hashed_keys, id_col="doc_id")
    uniq = (
        per_key.filter(F.col("c") == 1)
        .groupBy(F.col("__d0").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    toks = F.split(F.col(text_col), r"\s+")
    totals = df.filter(F.size(toks) >= n).select(
        "doc_id", (F.size(toks) - F.lit(n) + 1).cast("bigint").alias("n_grams")
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            (
                F.col("n_grams") - F.coalesce(F.col("n_uniq"), F.lit(0))
            ).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_share"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    id_col: str = "doc_id",
    hashed_keys: bool = True,
    per_key: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022 substring dedup
    (``substring_dup_share`` is the measurement half): drop every
    token covered by a duplicated n-gram span — an n-gram occupying
    positions [p, p+n) is duplicated iff it occurs more than once in
    the corpus, counting every position of every document (a span
    repeated WITHIN one document is still a repeat, per the paper).

    Returns (id, n_tokens, n_kept, kept_text): the original token
    count, the surviving count, and the surviving tokens re-joined by
    single spaces in original order.

    Scale shape: the (doc, position, gram-key) grain explodes once
    into the count aggregate at gram-key grain (map-side partials —
    hot grams collapse before the shuffle); the position-resolution
    join is an equi-join on the gram key (needed: removal is
    positional, unlike the share's derivable count) whose build side
    carries ONLY duplicated keys — the heavy unique tail never joins.
    The PROBE side of that join is restricted BEFORE its re-explode to
    docs that hold at least one duplicated key, derived from the SAME
    gram-key aggregate with zero extra gram-grain work: a key with
    c == 1 has exactly one position corpus-wide, owned by min(id), so

        doc holds a dup key  ⟺  n_positions(doc) > #{c==1 keys owned}

    where n_positions comes from a scan-only ``size`` projection. The
    shared gram-key exchange is consumed by both branches (Spark's
    ReusedExchange), the restriction joins at DOC grain (ids only;
    AQE broadcasts it when small — at 100 TB an id-grain shuffle of
    the text column still moves ~4× fewer bytes than the unrestricted
    position-grain probe would under a sort-merge position join).
    Duplicated positions collapse to a per-doc list (bounded by doc
    length), rejoin at DOC grain, and the span-mask trim runs as one
    Arrow row map, ``vectors.map_rows`` (a boolean mask per doc; the
    expression-tree alternative is O(L·|dup spans|) interpreted per
    doc). With ``hashed_keys`` the exchange moves 8-byte xxhash64
    keys, not gram strings.

    Tokenization contract: positions index the Java-regex split
    ``split(text, '\\s+')`` with limit -1 — leading/trailing
    whitespace yields empty boundary tokens that OCCUPY positions.
    The Arrow trim re-splits with the equivalent Python pattern
    (``[ \\t\\n\\x0b\\f\\r]+`` = Java ``\\s``, which unlike Python
    ``\\s`` excludes Unicode whitespace), so masks align byte-exactly
    for any input; ``kept_text`` joins survivors with single spaces
    (runs of whitespace do not round-trip).

    ``per_key``: an already-built ``gram_key_counts`` aggregate over a
    SUPERSET corpus (same text_col/n/hashed_keys) — pass it when a
    sibling stage computes it anyway (``curate_documents`` builds it
    once over the deduped corpus for both the share and this removal,
    VERDICT r07 item 4). Superset-grain counts are sound here: spans
    are trimmed when duplicated in the wider corpus (the paper trims
    against the full corpus, not the post-doc-drop survivors), and the
    probe restriction stays exact — a c==1 key held by a probe doc is
    owned by it in any superset.
    """
    return _span_trim_frame(
        df, text_col, n, id_col, hashed_keys, per_key, with_share=False
    )


def substring_share_and_trim(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    id_col: str = "doc_id",
    hashed_keys: bool = True,
    per_key: DataFrame | None = None,
) -> DataFrame:
    """FUSED measurement + removal of Lee et al. 2022 substring dedup
    (VERDICT r09 item 2): one positional resolution yields BOTH the
    trim (``remove_duplicate_spans`` columns: n_tokens, n_kept,
    kept_text) and the doc-grain duplication measure
    (``substring_dup_share`` columns: n_grams, n_dup_grams, dup_share)
    in a single plan/action.

    Why fusing is free on the measure side: the share's
    ``n_dup_grams`` counts the positions whose gram occurs >1 time
    corpus-wide — exactly the positions the trim already resolves into
    its per-doc ``__dups`` list — so the share falls out as
    ``len(__dups)`` with ``n_grams`` from arithmetic; no second
    consumption of the gram-key aggregate, no separate uniq-subtract
    pass. The 30M stage split (BASELINE.md) showed the standalone
    share (938.9 s) and trim (908.5 s) stages are ~79% of the spans
    funnel, and at scale the funnel's recompute route paid the
    corpus-grain gram-key aggregate ONCE PER STAGE because the stages
    ran in separate actions across a checkpoint boundary — fused, the
    aggregate runs once and ReuseExchange shares it between its two
    in-plan consumers (duplicated-keys build side + the probe
    restriction), as in the standalone trim.

    Output grain: one row per input doc (like the trim; the
    share-only operator excludes docs with < n tokens — here they
    carry n_grams = 0, n_dup_grams = 0 and a NULL dup_share).
    ``dup_share`` is rounded via Spark's ``F.round`` AFTER the Arrow
    pass so it is bit-identical to ``substring_dup_share`` (Python's
    banker's rounding differs on exact half-ULP ties).

    Semantics exactly match running both operators over the same
    corpus/per_key (parity-pinned in tests): trim masks depend only on
    the corpus-wide key counts and the doc's own positions, and
    ``n_dup_grams = n_grams − #{c==1 keys owned}`` ≡ the count of
    dup-key positions (a c==1 key has exactly one position
    corpus-wide, owned by its holder; intra-doc repeats have c ≥ 2 and
    every occurrence counts duplicated in both forms).

    Scratch-volume posture (r11 measurement, BASELINE.md round-16):
    run as ONE action over an unpruned corpus, the whole positional-
    gram exchange lives on local disk until job end — measured
    ~7.2 GB per M docs of the synthetic ladder corpus, which bounds a
    single 79 GB-scratch box at ~10M docs regardless of partition
    count. At 100 TB, run this pass behind pruning gates and stage
    checkpoints (the ``curate_documents`` funnel shape — same fused
    resolution, 12× less peak scratch at 10M) or size per-node
    scratch to corpus × 7.2 GB/M ÷ nodes."""
    out = _span_trim_frame(
        df, text_col, n, id_col, hashed_keys, per_key, with_share=True
    )
    return out.withColumn(
        "dup_share",
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6),
        ),
    )


def _span_trim_frame(
    df: DataFrame,
    text_col: str,
    n: int,
    id_col: str,
    hashed_keys: bool,
    per_key: DataFrame | None,
    with_share: bool,
) -> DataFrame:
    """Shared engine of ``remove_duplicate_spans`` (with_share=False)
    and ``substring_share_and_trim`` (True — adds the integer share
    counters n_grams / n_dup_grams to the Arrow pass; the rounded
    ratio is applied JVM-side by the caller). Scale shape documented
    on ``remove_duplicate_spans``."""
    toks = F.split(F.col(text_col), r"\s+")

    def explode_positions(docs: DataFrame) -> DataFrame:
        return gram_positions(docs, text_col, n, hashed_keys, id_col)

    if per_key is None:
        per_key = gram_key_counts(df, text_col, n, hashed_keys, id_col)
    # the __d0 predicate is vacuously true (min over non-null ids) but
    # keeps min(id) in THIS branch's aggregate too, so both consumers
    # of per_key compile to identical partial-agg + exchange subtrees
    # and Spark's ReuseExchange shuffles the gram grain ONCE (column
    # pruning would otherwise drop __d0 here, splitting the exchange)
    dup_keys = per_key.filter(
        (F.col("c") > 1) & F.col("__d0").isNotNull()
    ).select("gkey")
    # docs holding >=1 duplicated key, derived from the same aggregate:
    # positions - globally-unique positions (each c==1 key is owned by
    # its single holder __d0) > 0
    uniq_per_doc = (
        per_key.filter(F.col("c") == 1)
        .groupBy(F.col("__d0").alias(id_col))
        .agg(F.count(F.lit(1)).alias("__n_uniq"))
    )
    n_positions = (F.size(toks) - F.lit(n) + 1).cast("long")
    dup_docs = (
        df.filter(F.size(toks) >= n)
        .select(id_col, n_positions.alias("__n_pos"))
        .join(uniq_per_doc, id_col, "left")
        .filter(F.col("__n_pos") > F.coalesce(F.col("__n_uniq"), F.lit(0)))
        .select(id_col)
    )
    dup_positions = (
        explode_positions(df.join(dup_docs, id_col, "left_semi"))
        .join(dup_keys, "gkey")
        .groupBy(id_col)
        .agg(F.collect_list("p").alias("__dups"))
    )
    src = df.select(id_col, F.col(text_col).alias("__text")).join(
        dup_positions, id_col, "left"
    )

    fields = [
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("n_kept", T.LongType()),
        T.StructField("kept_text", T.StringType()),
    ]
    if with_share:
        fields += [
            T.StructField("n_grams", T.LongType()),
            T.StructField("n_dup_grams", T.LongType()),
        ]
    # Java \s == [ \t\n\x0B\f\r]; Python \s additionally matches
    # Unicode whitespace — spell the class out so trim positions match
    # the Spark split exactly. re.split with this pattern also keeps
    # leading/trailing empty tokens, like Java split(limit=-1).
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def trim(row: dict) -> list[dict]:
        words = java_ws.split(row["__text"])
        dups = row["__dups"] or []
        mask = np.ones(len(words), dtype=bool)
        for p in dups:
            mask[p : p + n] = False
        out = {
            id_col: row[id_col],
            "n_tokens": len(words),
            "n_kept": int(mask.sum()),
            "kept_text": " ".join(w for w, m in zip(words, mask) if m),
        }
        if with_share:
            out["n_grams"] = max(len(words) - n + 1, 0)
            out["n_dup_grams"] = len(dups)
        return [out]

    return vectors.map_rows(src, trim, T.StructType(fields))


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language-model scoring: train token frequencies on the
    corpus itself, then score each document's mean token log-probability
    — the cheap perplexity proxy used to rank documents for quality
    filtering (CCNet-style, before a real KenLM pass).

    Scale shape (r08 — no corpus-grain exchange at all): the r07 form
    first aggregated to (doc, token, tf) grain, but that exchange was
    pure waste — explode never splits a doc across partitions, so
    every (doc, token) group already lives in ONE partition and the
    shuffle moved ~one row per token occurrence (~550M rows at 10M
    docs) to collapse almost nothing. Both consumers now read the raw
    exploded stream: the vocab is a token-grain aggregate (map-side
    partials collapse occurrences; the exchange is vocab-sized, small
    by Heaps' law), and scoring joins the stream to the BROADCAST
    probability table then aggregates by doc — whose partial
    aggregate collapses completely to one row per doc per partition,
    so that exchange moves ~n_docs rows. Measured at 10M docs /
    p=256: 142.5 s (first ladder row for this operator; the identical
    rewrite on bigram_perplexity, whose old form WAS measured, gave
    536.1 → 297.7 s). The
    stream is consumed twice and deliberately NOT checkpointed — it
    is CORPUS-sized, the grain class whose localCheckpoint OOM'd
    dsir_weights at 10M docs; two codegen'd explode passes are
    bounded, a corpus materialization is not. The corpus token total
    comes from a third, explode-FREE scan (sum of per-row split
    sizes — identical to sum over the exploded rows).
    """
    stream = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("token")
    )
    vocab = stream.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = df.agg(
        F.sum(F.size(F.split(F.col(text_col), r"\s+"))).cast("long").alias("total")
    )
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cnt") / F.col("total")).alias("p")
    )
    return (
        stream.join(F.broadcast(probs), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("p"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


def bigram_perplexity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """[EXT] bigram-LM perplexity scoring (the CCNet filter one order
    up from ``unigram_logprob``): train add-0.5-smoothed p(b|a) on the
    corpus, score each doc's mean bigram log-prob + perplexity.

    Scale shape (r08 — the (doc, bigram, tf) exchange is GONE): the
    r05–r07 form first aggregated the exploded bigrams to (doc,
    bigram, tf) grain; that exchange was the operator's documented
    floor (536 s at 10M docs / p=256, and p=768 REGRESSED it to
    809 s — exchange-grain-bound, VERDICT r07 item 8) and it
    collapsed almost nothing: explode never splits a doc across
    partitions, so every (doc, bigram) group already lives in one
    partition, and intra-doc bigram repeats are rare. Both consumers
    now read the raw exploded stream: c(a,b) is a bigram-vocab-grain
    aggregate (map-side partials absorb hot bigrams; Heaps-bounded
    exchange), and scoring joins the stream to the BROADCAST smoothed
    LM then aggregates by doc — whose partial aggregate collapses
    completely to one row per doc per partition, so that exchange
    moves ~n_docs rows. Measured at 10M docs / p=256: 297.7 s vs
    536.1 s (1.8×, same-host r7 number at the same setting); values
    bit-identical (the per-position sum equals the tf-weighted sum).
    Watch item: the smoothed LM table ``p`` is
    bigram-vocab-sized and broadcast — fine by Heaps' law into the
    millions, but a web-scale bigram vocab wants the broadcast
    swapped for a shuffle join on ``big`` (one-line change, same
    values)."""
    tc = F.col("__toks")
    bigs = F.zip_with(
        F.slice(tc, 1, F.size(tc) - 1),
        F.slice(tc, 2, F.size(tc) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    toks = F.split(F.col(text_col), r"\s+")
    stream = (
        df.select("doc_id", toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("doc_id", F.explode(bigs).alias("big"))
    )
    cab = stream.groupBy("big").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = (
        cab.select(
            F.split_part(F.col("big"), F.lit(" "), F.lit(1)).alias("a"), "c_ab"
        )
        .groupBy("a")
        .agg(F.sum("c_ab").alias("c_a"))
    )
    vsz = (
        df.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )
    p = (
        cab.withColumn("a", F.split_part(F.col("big"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(ca), "a")
        .crossJoin(F.broadcast(vsz))
        .select(
            "big",
            F.log(
                (F.col("c_ab") + 0.5) / (F.col("c_a") + 0.5 * F.col("vsz"))
            ).alias("lp"),
        )
    )
    mean_lp = F.sum(F.col("lp")) / F.count(F.lit(1))
    return (
        stream.join(F.broadcast(p), "big")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(mean_lp, 6).alias("avg_logprob"),
            F.round(F.exp(-mean_lp), 4).alias("perplexity"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    key_len: int = 12,
) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution: documents
    sorted under a normalized blocking key, candidate pairs drawn only
    from each record's ``window`` successors in that order, scored by
    token-set Jaccard. The O(n*w) alternative to a quadratic self-join.

    Scale shape: the block key is the shuffle partition key, so each
    block's neighborhood walk is a local window (no global sort, no
    single-partition stage); token arrays ride the window as lead()
    payloads only for w rows. Pairs never materialize outside the
    window projection.
    """
    from pyspark.sql import Window

    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", ""), 1, key_len
    )
    toks = F.array_distinct(F.split(F.col(text_col), r"\s+"))
    base = df.select(
        "doc_id", key.alias("block_key"), toks.alias("tok")
    )
    w = Window.partitionBy("block_key").orderBy("doc_id")
    pairs = base.select(
        "block_key",
        F.col("doc_id").alias("doc_id_a"),
        F.col("tok").alias("tok_a"),
        *[F.lead("doc_id", i).over(w).alias(f"_id{i}") for i in range(1, window + 1)],
        *[F.lead("tok", i).over(w).alias(f"_tok{i}") for i in range(1, window + 1)],
    )
    stacked = pairs.select(
        "block_key",
        "doc_id_a",
        "tok_a",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"_id{i}").alias("doc_id_b"),
                        F.col(f"_tok{i}").alias("tok_b"),
                    )
                    for i in range(1, window + 1)
                ]
            )
        ).alias("nb"),
    ).filter(F.col("nb.doc_id_b").isNotNull())
    inter = F.size(F.array_intersect("tok_a", F.col("nb.tok_b")))
    union = F.size(F.array_union("tok_a", F.col("nb.tok_b")))
    return stacked.select(
        "block_key",
        "doc_id_a",
        F.col("nb.doc_id_b").alias("doc_id_b"),
        F.round(inter / union, 6).alias("jaccard"),
    )


def grain_partitions_hint(
    df: DataFrame,
    text_col: str = "text",
    chars_per_token: int = 6,
    rows_per_partition: int = 2_000_000,
    cap: int = 4096,
    stats_gate: bool = False,
    stats_compression_factor: int = 8,
) -> int:
    """Shuffle-partition count sized to the EXPLODED token/gram grain
    of a text corpus (VERDICT r10 item 5 — partitions must track the
    grain the shuffle actually carries, not the doc count: a 10M-doc
    corpus aggregates ~500M positional grams, and 32 partitions put
    ~16M gram rows in each task).

    The estimate is one codegen'd ``sum(length(text))`` scan — chars
    are a ~6:1 proxy for whitespace tokens, and a partition HINT only
    needs order-of-magnitude accuracy (AQE coalesces any overshoot
    back down at runtime). ``rows_per_partition`` = 2M gram rows is
    calibrated from the measured ladder knobs: 10M docs ran clean at
    p=256 (≈2.1M grams/partition) and 30M at p=768 (same grain/task).
    Returns at least 1; callers take max(current, hint).

    ``stats_gate=True`` (r11, the ``curate_documents`` route): before
    paying the scan, bound the hint from CATALOG STATISTICS —
    ``optimizedPlan().stats().sizeInBytes`` is the (compressed) input
    size known from parquet footers, no job. ``bytes ×
    stats_compression_factor`` upper-bounds chars; if even that
    inflated bound keeps the hint at or under the session's current
    shuffle width, elevation is provably a no-op and the scan job is
    skipped (the common small-corpus case — and at 100 TB the gate is
    what makes the hint FREE for already-wide sessions, instead of a
    full text-column read before any work). Corpora whose stats bound
    exceeds the current width still pay the one exact scan, keeping
    the measured 10M/30M-doc calibration (p=240@10M) unchanged. The
    factor defaults to 8 (ADVICE r11: the old hard-coded 4 is routinely
    beaten by gzip/zstd on repetitive natural text, under-estimating
    the gram grain exactly where the skew safeguard matters); callers
    that know their codec's real ratio can tighten it.
    """
    if stats_gate:
        est_bytes = None
        try:
            est_bytes = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            pass
        # 1<<60 ≈ the 'unknown size' sentinel region (defaultSizeInBytes
        # = Long.MaxValue); treat anything near it as no-statistics
        if est_bytes is not None and 0 <= est_bytes < (1 << 60):
            grain_ub = (est_bytes * stats_compression_factor) // chars_per_token
            hint_ub = int(min(cap, max(1, -(-grain_ub // rows_per_partition))))
            try:
                current = int(
                    df.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
            except Exception:
                current = 0
            if hint_ub <= current:
                return hint_ub
    total_chars = df.agg(F.sum(F.length(F.col(text_col)))).first()[0] or 0
    grain = total_chars // chars_per_token
    return int(min(cap, max(1, -(-grain // rows_per_partition))))


def curate_documents(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    quality_min: float = 0.66,
    dup_share_max: float = 0.8,
    contam_n: int = 8,
    budget_frac: float = 0.5,
    span_trim: bool = False,
    auto_partitions: bool = True,
    observations: dict | None = None,
) -> dict[str, DataFrame]:
    """End-to-end training-corpus curation — the five-stage pipeline
    every LLM data run executes, composed from this module's operators
    so each stage keeps its documented scale shape:

    1. ``quality``  — heuristic quality filter (C4/Gopher rule family);
    2. ``deduped``  — exact dedup, canonical = min doc_id per text;
    3. ``near``     — substring-level near-dup removal: drop docs whose
       positional 8-gram duplication share ≥ ``dup_share_max`` (Lee et
       al. 2022, doc-grain summary);
    3b. ``trimmed`` (``span_trim=True`` only) — Lee et al. 2022's
       ACTUAL removal step, not just the doc-drop summary: every token
       covered by an 8-gram span duplicated in the DEDUPED corpus
       inside the surviving ``near`` docs is cut and the document text
       replaced by the surviving tokens; docs trimmed to zero tokens
       drop. Downstream stages (decontamination, budget) then operate
       on the TRIMMED text, as the paper's pipeline does. With
       span_trim, stages 3 and 3b run FUSED
       (``substring_share_and_trim``, r10): one positional resolution
       in one action yields both the share gate and the trim — the
       r07–r09 form ran them as separate actions and the recompute
       route paid the corpus-grain gram-key aggregate once per stage
       (the checkpoint alternative spilled 17.5 GB at 10M docs for
       ~5%, r08 measurement);
    4. ``clean``    — benchmark decontamination: drop docs sharing any
       ``contam_n``-gram with the benchmark set;
    5. ``final``    — token budget: keep docs, in doc_id order, while
       the running whitespace-token total stays within
       ``budget_frac`` of the clean stage's total, as a chunked
       prefix-sum (VERDICT r05 item 3): the catalog plans ARE the
       100 TB plans, and survivors are bit-identical to the plain
       cumsum (integer token counts) — measured 2.1x at 10M docs
       (30.8 -> 14.5 s) over the single-task global cumsum.

    Returns the dict of stage DataFrames (shared prefixes are
    localCheckpoint-ed so a downstream stage or a funnel count never
    re-runs an upstream shuffle; the ``trimmed`` stage checkpoints too
    — its recompute would repeat the positional gram shuffle AND the
    Arrow trim pass). Every stage is deterministic and SQL-expressible,
    so the whole funnel is oracle-checkable (``curation_funnel`` /
    ``curation_funnel_spans``).

    ``auto_partitions=True`` (default, VERDICT r10 item 5): the gram
    stages shuffle EXPLODED grain (~tokens, not docs), so the funnel
    sizes its own shuffle width from :func:`grain_partitions_hint`
    (one sum(length) scan) instead of requiring the 10M-doc caller to
    remember a --shuffle-partitions knob. The elevated setting is
    scoped to this call (session.elevated_shuffle_partitions restores
    on exit) and never LOWERS a wider session; results are identical
    either way (partition count is not visible in any stage's values).

    ``observations`` (r11, the funnel-count route): optional mapping of
    stage name (``quality``/``deduped``/``near``/``trimmed``/``clean``)
    to a :class:`pyspark.sql.Observation`. Each named stage gets a
    row-count metric (``n`` = count(1)) attached to the plan that the
    stage's OWN localCheckpoint materializes — ``quality`` rides the
    ``deduped`` checkpoint, since quality itself is recompute-cheap and
    never checkpointed — so by the time this function returns, every
    stage's survivor count is delivered (read it with
    ``operators.obs.read_observed(obs, "n", fallback)``) WITHOUT any
    extra action: the funnel queries used to re-scan each checkpointed
    stage (one count job per stage) and re-run the quality filter just
    to count it. Same design as cluster_pairs' convergence observe. At
    100 TB the saved work is a full recompute of the quality stage
    (scan + tokenize) plus one scan job per materialized stage.
    """
    if auto_partitions:
        from post_modern_stack_spark.session import (
            elevated_shuffle_partitions,
        )

        spark = df.sparkSession
        hint = grain_partitions_hint(df, text_col, stats_gate=True)
        if hint > int(spark.conf.get("spark.sql.shuffle.partitions")):
            with elevated_shuffle_partitions(spark, hint):
                return curate_documents(
                    df,
                    benchmark,
                    text_col,
                    quality_min,
                    dup_share_max,
                    contam_n,
                    budget_frac,
                    span_trim,
                    auto_partitions=False,
                    observations=observations,
                )

    def _count_obs(name: str, frame: DataFrame) -> DataFrame:
        # attach the caller's Observation so the count rides whatever
        # action materializes this plan next (the stage checkpoint) —
        # count(1) references no columns, so column pruning through
        # the CollectMetrics node is unaffected
        if observations and name in observations:
            return frame.observe(
                observations[name], F.count(F.lit(1)).alias("n")
            )
        return frame
    # quality is projection+filter only (no shuffle): recomputing it
    # for its two consumers is cheaper than materializing full text to
    # local disk, so it is NOT checkpointed; stages whose recompute
    # would repeat a shuffle (dedup window, gram joins) are
    q = quality_score(df, text_col).filter(F.col("quality") >= quality_min)
    quality = _count_obs("quality", df.join(q.select("doc_id"), "doc_id"))

    deduped = _count_obs(
        "deduped", exact_keep_min(quality, text_col)
    ).localCheckpoint()

    # NOT fused with decontamination's gram build: sharing one
    # localCheckpoint-ed gram table between the two stages measured
    # 314-378 s vs 138-190 s at 1M docs — materializing ~50M hashed
    # grams to local disk costs far more than re-running the
    # codegen'd gram construction twice. Checkpoint ROWS only when
    # recompute repeats a SHUFFLE, never to save scan-side CPU.
    #
    stages_mid: dict[str, DataFrame] = {}
    if span_trim:
        # FUSED share+trim (VERDICT r09 item 2): the r07–r09 form ran
        # the share and the removal as SEPARATE actions over the same
        # gram-key aggregate — ReuseExchange can't cross the `near`
        # checkpoint, so the recompute route (the unbounded-corpus
        # default; the checkpoint alternative measured 17.5 GB of
        # spill at 10M docs for ~5%) paid the corpus-grain gram
        # aggregate ONCE PER STAGE. substring_share_and_trim resolves
        # duplicated positions once and derives the doc-grain share
        # from the same stream, so the gram work runs in ONE action.
        # The gram-key aggregate is never checkpointed: within a
        # single action, ReuseExchange already shares it between its
        # in-plan consumers, so materializing it buys nothing at any
        # scale.
        fused = substring_share_and_trim(deduped, text_col, n=8)
        # doc-grain checkpoint (the fused plan has two downstream
        # consumers — the near gate and the trimmed swap — and its
        # recompute would repeat the gram shuffles plus the Arrow
        # trim). kept_text is nulled for docs the trim didn't touch:
        # the swap uses the original text there, so the materialized
        # bytes stay proportional to TRIMMED docs, not the corpus.
        fused = fused.select(
            "doc_id",
            "n_tokens",
            "n_kept",
            "n_grams",
            "n_dup_grams",
            "dup_share",
            F.when(
                (F.col("n_kept") < F.col("n_tokens")) & (F.col("n_kept") > 0),
                F.col("kept_text"),
            ).alias("kept_text"),
        ).localCheckpoint()
        # short docs (< 8 tokens) have NULL dup_share: trivially not
        # near-dups, same rule as the unfused form's union branch
        near_ids = fused.filter(
            (F.col("dup_share") < dup_share_max) | F.col("dup_share").isNull()
        ).select("doc_id")
    else:
        shares = substring_dup_share(deduped, text_col, n=8)
        near_ids = (
            shares.filter(F.col("dup_share") < dup_share_max).select("doc_id")
            .unionAll(
                # docs too short to have any 8-gram never enter
                # substring_dup_share; they are trivially not near-dups
                deduped.filter(
                    F.size(F.split(F.col(text_col), r"\s+")) < 8
                ).select("doc_id")
            )
        )
    # r12 checkpoint audit (VERDICT r11 item 4): in SPAN mode the near
    # stage has exactly ONE downstream consumer — the trimmed join,
    # which is itself immediately checkpointed — so materializing near
    # buys nothing: the deduped⋈near_ids join runs exactly once either
    # way (inside the near-checkpoint action before, inside the trimmed
    # checkpoint now), and dropping the checkpoint saves one full
    # text-column write+read of the stage (GBs of local scratch at 10M
    # docs — scratch goes DOWN, the r08 spill bound is unaffected). The
    # near count observe rides the trimmed checkpoint instead (near
    # appears once in trimmed's plan, so it still fires exactly once).
    # In PLAIN mode near has two consumers (the contamination gram
    # build and the clean anti-join) whose recompute repeats the gram
    # shuffle — the checkpoint stays.
    near = _count_obs("near", deduped.join(near_ids, "doc_id"))
    if not span_trim:
        near = near.localCheckpoint()

    pre_clean = near
    if span_trim:
        trim_info = fused
        # swap in kept_text ONLY for docs the trim actually touched
        # (ADVICE r07: kept_text rejoins tokens with single spaces, so
        # swapping it in unconditionally silently collapsed whitespace
        # runs in UNTOUCHED docs — downstream exact-dedup/
        # contamination/token-budget semantics must see untrimmed docs
        # byte-identical)
        trimmed = _count_obs(
            "trimmed",
            near.withColumnRenamed(text_col, "__orig")
            .join(
                trim_info.filter(F.col("n_kept") > 0).select(
                    "doc_id", "n_tokens", "n_kept", "kept_text"
                ),
                "doc_id",
            )
            .withColumn(
                text_col,
                F.when(
                    F.col("n_kept") < F.col("n_tokens"), F.col("kept_text")
                ).otherwise(F.col("__orig")),
            )
            .drop("__orig", "n_tokens", "n_kept", "kept_text"),
        ).localCheckpoint()
        stages_mid["trimmed"] = trimmed
        pre_clean = trimmed

    contaminated = (
        contamination_pairs(pre_clean, benchmark, text_col, n=contam_n)
        .select(F.col("corpus_doc_id").alias("doc_id"))
        .distinct()
    )
    clean = _count_obs(
        "clean", pre_clean.join(contaminated, "doc_id", "left_anti")
    ).localCheckpoint()

    toks = F.size(F.split(F.col(text_col), r"\s+"))
    # only a narrow (doc_id, n_tokens) projection rides the running
    # sum; survivors rejoin by id (left_semi, key-grain build side)
    sizes = clean.select("doc_id", toks.alias("__nt"))
    keep_ids = token_budget_keep_ids(sizes, budget_frac)
    final = clean.join(keep_ids, "doc_id", "left_semi")
    return {
        "input": df,
        "quality": quality,
        "deduped": deduped,
        "near": near,
        **stages_mid,
        "clean": clean,
        "final": final,
    }


def token_budget_keep_ids(
    sizes: DataFrame,
    budget_frac: float,
    chunked: bool = True,
    chunk_span: int = 65_536,
) -> DataFrame:
    """Token-budget gate (curate_documents stage 5): keep doc_ids, in
    doc_id order, while the inclusive running token total stays within
    ``budget_frac`` of the corpus total. ``sizes`` is the narrow
    (doc_id, __nt) projection.

    ``chunked=True`` (the default — the 100 TB form):
    skew.chunked_running_sum decomposes the prefix sum into parallel
    per-chunk windows over contiguous doc_id spans plus one
    chunk-grain offset pass. Token counts are INTEGERS and the chunk
    offset stays long-typed (skew.py typed-zero coalesce), so the
    re-association is exact at any corpus total — identical survivors
    (parity-tested across multi-chunk id ranges). ``chunked=False``
    keeps the plain global cumsum for parity testing: one task sorts
    the post-filter corpus, valid only at bench SFs."""
    from pyspark.sql import Window

    total = sizes.agg(F.sum("__nt").alias("total"))
    if chunked:
        from post_modern_stack_spark.operators.skew import (
            chunked_running_sum,
        )

        running = chunked_running_sum(
            sizes,
            key_cols=[],
            order_col="doc_id",
            tie_cols=[],
            value_col="__nt",
            out_col="running",
            chunk_span=chunk_span,
        )
    else:
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        running = sizes.withColumn("running", F.sum("__nt").over(w))
    return (
        running.crossJoin(F.broadcast(total))
        .filter(F.col("running") <= F.floor(F.col("total") * budget_frac))
        .select("doc_id")
    )


def exact_keep_min(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup keeping the minimum doc_id row per text (the
    canonical-survivor form of operators/dedup.exact_dedup, preserving
    the full row). Shuffle key is the 32-byte sha2 digest."""
    from pyspark.sql import Window

    key = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy(key).orderBy("doc_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """[EXT] full Gopher-style quality-rule battery (Rae et al. 2021,
    App. A1.1) — one boolean per rule plus the conjunctive keep flag.

    Unlike ``quality_score`` (a 3-rule scalar), this emits the
    per-rule diagnosis a curation pipeline needs to TUNE filters:
    which rule is killing which source. Pure per-row expressions —
    shuffle-free, scan-bound at 100 TB. Word-grain quantities are
    computed with single-pass regexes on the raw string, NOT
    higher-order array lambdas: HOF lambdas are interpreted (outside
    codegen) and the lambda form measured 35 s vs 19 s at 1 M docs.

    Rules (thresholds are the published Gopher defaults, word-count
    bounds relaxed to the synthetic corpus' scale):
      r_word_count    5 <= n_words <= 100000
      r_mean_word_len 2 <= mean word length <= 12
      r_symbol        (#'#' + #'...') / n_words <= 0.1
      r_bullet        < 90% of lines start with a bullet
      r_ellipsis      < 30% of lines end with an ellipsis
      r_alpha         >= 80% of words contain an alphabetic char
      r_stopwords     >= 2 distinct common stopwords present
    """
    m = _gopher_metrics(text_col)
    return df.select(
        "doc_id",
        m["n_words"].cast("long").alias("n_words"),
        F.round(m["mean_word_len"], 6).alias("mean_word_len"),
        m["r_word_count"].cast("int").alias("r_word_count"),
        m["r_mean_word_len"].cast("int").alias("r_mean_word_len"),
        m["r_symbol"].cast("int").alias("r_symbol"),
        m["r_bullet"].cast("int").alias("r_bullet"),
        m["r_ellipsis"].cast("int").alias("r_ellipsis"),
        m["r_alpha"].cast("int").alias("r_alpha"),
        m["r_stopwords"].cast("int").alias("r_stopwords"),
        m["keep"].cast("int").alias("keep"),
    )


def _gopher_metrics(text_col: str) -> dict:
    """The rule battery as raw Column expressions (``gopher_rules``
    projects them into its diagnosis table)."""
    text = F.col(text_col)
    lines = F.split(text, r"\n")
    n_words = F.size(F.split(text, r"\s+"))
    n_lines = F.size(lines)
    # total word chars = non-whitespace chars (split-on-\s+ semantics)
    mean_word_len = (
        F.length(F.regexp_replace(text, r"\s+", "")) / n_words
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    # one regex pass: a maximal \S+ run containing a letter
    n_alpha_words = F.regexp_count(text, F.lit(r"(?:^|\s)\S*[A-Za-z]\S*"))
    # distinct-stopword count as 8 scalar regex probes on the lowered
    # string — codegen'd, no per-row array materialization
    lower_text = F.lower(text)
    n_stop = sum(
        lower_text.rlike(rf"(^|\s){s}(\s|$)").cast("int")
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )

    r_word_count = (n_words >= 5) & (n_words <= 100000)
    r_mean_word_len = (mean_word_len >= 2) & (mean_word_len <= 12)
    r_symbol = symbol_ratio <= 0.1
    r_bullet = (n_bullet_lines / n_lines) < 0.9
    r_ellipsis = (n_ellipsis_lines / n_lines) < 0.3
    r_alpha = (n_alpha_words / n_words) >= 0.8
    r_stopwords = n_stop >= 2
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "r_word_count": r_word_count,
        "r_mean_word_len": r_mean_word_len,
        "r_symbol": r_symbol,
        "r_bullet": r_bullet,
        "r_ellipsis": r_ellipsis,
        "r_alpha": r_alpha,
        "r_stopwords": r_stopwords,
        "keep": (
            r_word_count
            & r_mean_word_len
            & r_symbol
            & r_bullet
            & r_ellipsis
            & r_alpha
            & r_stopwords
        ),
    }


def dsir_weights(
    df: DataFrame,
    target_filter,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """[EXT] DSIR importance weights (Xie et al., NeurIPS 2023):
    hashed-unigram bag-of-words log-likelihood ratio of each document
    under the TARGET token distribution vs the RAW corpus distribution.
    Documents scoring high resemble the target domain and are kept by
    importance resampling.

    Engine shape (r08 — the corpus-grain exchange is GONE): the r07
    form first aggregated the exploded tokens to (doc, bucket, c)
    sparse counts, but that exchange moved ~100 rows/doc (~1 B rows
    at 10 M docs — the 274 s ladder row) and collapsed almost
    nothing: explode never splits a doc across partitions, so every
    (doc, bucket) group already lives in one partition. Both
    consumers now read the raw exploded+bucketed stream: the fused
    raw+target bucket distribution is a bucket-grain aggregate
    (map-side partials absorb the whole stream into ≤n_buckets rows
    per partition; its grand totals come from a global window over
    the n_buckets-row table, not another corpus subtree), and the
    doc score joins the stream to the BROADCAST distribution then
    aggregates by doc — whose partial aggregate collapses completely
    to one row per doc per partition, so that exchange moves ~n_docs
    rows. Measured at 10M docs / p=256: 49.8 s vs 274.4 s (5.5×).
    TWO codegen'd corpus passes, ZERO materialization. The history of
    this plan is the repo's checkpoint rule in miniature: the first
    version derived raw/target/score each straight from the token
    explode (3 passes, 65 s at 1 M docs); the second
    localCheckpoint-ed ``doc_counts`` (1 pass + materialization,
    30 s at 1 M) — and turned out to be a HEAP BOMB at scale: 10 M
    docs checkpointed ~1 B deserialized rows into executor storage
    and OOM'd a 48 g local[32] JVM; at 100 TB it would burn cluster
    storage proportional to the corpus. Recomputing a scan+explode+
    partial-agg chain is bandwidth-bound and bounded; materializing a
    corpus-sized grain is not ("checkpoint rows only when recompute
    repeats a shuffle AND the rows are sub-corpus-sized" — the
    curate_documents rule, amended by this incident). AQE's stage
    cache does not reliably unify the two subtrees across the
    broadcast boundary (exprId/pruning drift), so the plan test pins
    the honest contract: exactly two Generates, no checkpoint scan.
    Distributions are ``n_buckets`` rows, Laplace-smoothed (+1),
    broadcast back.

    ``target_filter``: boolean Column selecting the target-domain rows
    (e.g. ``F.col('source') == 'src0'``).
    """
    stream = df.select(
        "doc_id",
        target_filter.alias("__is_target"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets),
    )
    # raw + target bucket distributions in ONE conditional aggregate
    # (was: two aggs + a bucket join + na.fill — same values)
    from pyspark.sql import Window

    both = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("c_tgt"),
    )
    w_all = Window.partitionBy()
    dist = both.select(
        "bucket",
        (
            F.log(
                (F.col("c_tgt") + 1)
                / (F.sum("c_tgt").over(w_all) + n_buckets)
            )
            - F.log(
                (F.col("c_raw") + 1)
                / (F.sum("c_raw").over(w_all) + n_buckets)
            )
        ).alias("log_ratio"),
    )
    return (
        stream.join(F.broadcast(dist), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("log_ratio")), 4).alias("dsir_logratio"),
        )
    )


# GPT-2-style pre-tokenizer alternation (contraction | alpha | digit |
# punct | whitespace). Kept to constructs Java regex and RE2 treat
# identically (greedy leftmost alternation, no lookaround) so a SQL
# oracle can replay it byte-for-byte.
BPE_PRETOKEN_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_pretokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """[EXT] BPE-ish pre-tokenization counts: the GPT-2 regex splits
    text into the pieces a BPE tokenizer would merge within, giving a
    much better token-count estimate than whitespace words — the unit
    every training-data budget is denominated in.

    Emits per doc: pre-token count (whitespace runs excluded), class
    breakdown (alpha/digit/punct), and fertility = pre-tokens per
    whitespace word. Pure per-row regexp work — shuffle-free,
    scan-bound."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
    non_ws = F.filter(pieces, lambda p: ~p.rlike(r"^\s+$"))
    n_pre = F.size(non_ws)
    n_alpha = F.size(F.filter(pieces, lambda p: p.rlike("^ ?[A-Za-z]+$")))
    n_digit = F.size(F.filter(pieces, lambda p: p.rlike("^ ?[0-9]+$")))
    n_words = F.size(F.split(F.col(text_col), r"\s+"))
    return df.select(
        "doc_id",
        n_pre.cast("long").alias("n_pretokens"),
        n_alpha.cast("long").alias("n_alpha"),
        n_digit.cast("long").alias("n_digit"),
        (n_pre - n_alpha - n_digit).cast("long").alias("n_other"),
        F.round(n_pre / n_words, 6).alias("fertility"),
    )
