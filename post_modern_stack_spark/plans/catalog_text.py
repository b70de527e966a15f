"""Text / dedup queries over the ``documents`` table
(SURVEY.md §2 K1/K2/K4, F1 at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.operators import dedup, textstats
from post_modern_stack_spark.operators.obs import read_observed
from post_modern_stack_spark.operators.shaping import top_k_per_group
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table

# small doc subset for the quadratic-verification pair queries — keeps
# the oracle side tractable; the Spark operators themselves scale via
# hashed shingle keys + LSH blocking
_PAIR_LIMIT = 200


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id)  AS doc_id,
           sha256(text) AS text_sha,
           count(*)     AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 exact dedup: sha2(text) group, keep lowest doc_id.
    Shuffle key is the 32-byte digest, never the document body."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           lang,
           length(text)                       AS n_chars_computed,
           len(string_split(text, ' '))       AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 6)    AS lexical_diversity,
           round(list_sum(list_transform(string_split(text, ' '),
                                         t -> length(t)))::DOUBLE
                 / len(string_split(text, ' ')), 6)    AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the','a','of','and','to','in')))::DOUBLE
                 / len(string_split(text, ' ')), 6)    AS stopword_ratio,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\\sa-zA-Z0-9]'))
                                                       AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 per-document statistics — single projection, no shuffle."""
    return textstats.text_stats(load_table(spark, sf_dir, "documents"))


@query(
    "quality_score",
    oracle="""
    SELECT doc_id,
           round(((CASE WHEN len(string_split(text,' ')) BETWEEN 10 AND 1000
                        THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN len(list_filter(string_split(text,' '),
                               t -> t IN ('the','a','of','and','to','in'))) > 0
                        THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN len(list_distinct(string_split(text,' ')))::DOUBLE
                             / len(string_split(text,' ')) > 0.1
                        THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 quality scoring (C4/Gopher-style rule family)."""
    return textstats.quality_score(load_table(spark, sf_dir, "documents"))


@query(
    "lang_distribution",
    oracle="""
    SELECT lang, n_docs,
           CAST((200 * s_chars + c_chars) // (2 * c_chars) AS DOUBLE) / 100 AS avg_chars,
           CAST((20000 * s_toks + c_toks) // (2 * c_toks) AS DOUBLE) / 10000 AS avg_tokens
    FROM (SELECT lang, count(*) AS n_docs, sum(n_chars) AS s_chars, count(n_chars) AS c_chars,
                 sum(len(string_split(text, ' '))) AS s_toks,
                 count(len(string_split(text, ' '))) AS c_toks
          FROM documents GROUP BY lang)
    """,
)
def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup (K4 aggregate form). Both sides round
    the means half-up from the integer sum and count: ``round(avg)``
    disagreed at ties (avg 291.275: Spark rounds the double's decimal
    string up, DuckDB rounds the binary double down)."""
    toks = F.size(textstats.tokens("text"))
    return load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("s_chars"), F.count("n_chars").alias("c_chars"),
        F.sum(toks).alias("s_toks"), F.count(toks).alias("c_toks"),
    ).select(
        "lang",
        "n_docs",
        F.expr("CAST((200 * s_chars + c_chars) DIV (2 * c_chars) AS DOUBLE) / 100")
        .alias("avg_chars"),
        F.expr("CAST((20000 * s_toks + c_toks) DIV (2 * c_toks) AS DOUBLE) / 10000")
        .alias("avg_tokens"),
    )


@query(
    "doc_vocab",
    oracle="""
    SELECT token,
           count(*) AS freq,
           row_number() OVER (ORDER BY count(*) DESC, token) + 1 AS token_id
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def q_doc_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 at corpus scale: frequency-ranked vocabulary with
    deterministic (freq desc, token) tie-break, ids from 2 (Keras
    oov_token=1 parity; reference my_dbt_flow.py:323-331)."""
    from post_modern_stack_spark.operators.vocab import build_vocab

    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", r"\s+").alias("interactions")
    )
    return build_vocab(d, "interactions").select("token", "freq", "token_id")


# Shared by jaccard_pairs / jaccard_pairs_prefix / jaccard_pairs_auto:
# all three compute the SAME exact result (prefix filtering and skew
# routing change the plan, never the answer), so they share one oracle
# text — a drift in any engine variant shows up as its own hash
# mismatch.
_JACCARD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
      FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
      WHERE i <= greatest(len(toks) - 2, 1)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    """


@query("jaccard_pairs", oracle=_JACCARD_ORACLE)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 exact n-gram Jaccard near-dup pairs (the verification stage
    of MinHash LSH, run standalone on a doc subset so the oracle's
    string-keyed join stays tractable; Spark joins on xxhash64(shingle))."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.jaccard_pairs(d, min_jaccard=0.2)


@query("jaccard_pairs_prefix", oracle=_JACCARD_ORACLE)
def q_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 set-similarity join, PPJoin prefix-filtered (SAME oracle as
    jaccard_pairs — prefix filtering is exact, not approximate): the
    100 TB candidate-generation path where join fan-out follows
    rare-token collisions instead of stop-word squares."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.jaccard_pairs_prefix(d, min_jaccard=0.2)


@query("jaccard_pairs_auto", oracle=_JACCARD_ORACLE)
def q_jaccard_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 set-similarity join, SKEW-ROUTED (VERDICT r08: prefix
    filtering is 3.4× slower than the plain self-join on mostly-unique
    corpora — neither variant dominates). One frequency aggregate
    computes the plain join's exact output fan-out Σ c·(c−1)/2 and
    routes: low-skew corpora take the single-shuffle plain join,
    hot-shingle corpora take prefix filtering with the candidate-bound
    array verify (dedup.jaccard_pairs_auto — where the plain join on a
    10k-doc hot-header fixture never finished, the routed plan ran
    4 s). Same oracle as both siblings: routing never changes the
    answer."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.jaccard_pairs_auto(d, 0.2)


@query("minhash_candidates")  # rows-only: hash-seed-dependent, no SQL oracle
def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 MinHash+LSH candidate pairs (64 hashes, 16 bands × 4 rows).
    Candidate generation only — pairs sharing ≥1 signature band."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.minhash_lsh_candidates(d)


@query("simhash_near_dups")  # rows-only: hash-seed-dependent
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 SimHash near-dup pairs (64-bit signature, 16-bit bands,
    Hamming ≤ 8)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.simhash_near_dups(d)


@query("near_dup_clusters")  # rows-only: hash-seeded candidate generation
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 end-to-end dedup pipeline: MinHash-LSH candidates → exact
    Jaccard verification (≥ 0.5) → connected-components clustering →
    one row per document with its cluster id (keep ``doc_id ==
    cluster_id`` rows to dedup). Composes the three dedup stages the
    way a production corpus dedup would run them."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    candidates = dedup.minhash_lsh_candidates(d)
    # candidate-bound verify (r09): exact Jaccard over the LSH pairs
    # only — the old shape ran the full all-pairs join, then
    # semi-filtered, paying the fan-out the LSH stage existed to avoid
    verified = dedup.jaccard_verify_pairs(d, candidates, min_jaccard=0.5)
    return dedup.cluster_pairs(verified)


@query(
    "language_id",
    oracle="""
    WITH g_train AS (
      SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS ngram
      FROM documents,
           unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS t(i)
      WHERE doc_id % 10 = 0
    ),
    counts AS (SELECT lang, ngram, count(*) AS cnt FROM g_train GROUP BY 1, 2),
    prof AS (
      SELECT lang, ngram, 1.0 / rk AS weight FROM (
        SELECT lang, ngram,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, ngram) AS rk
        FROM counts
      ) WHERE rk <= 50
    ),
    g_all AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS ngram
      FROM documents,
           unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS t(i)
    ),
    scored AS (
      SELECT g.doc_id, p.lang, round(sum(p.weight), 6) AS score
      FROM g_all g JOIN prof p USING (ngram)
      GROUP BY 1, 2
    )
    SELECT doc_id, lang AS predicted_lang, score AS lang_score FROM (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 language-ID: char-trigram profiles trained on a deterministic
    10% sample (profiles are a small artifact — training on the full
    corpus doubles the trigram explode for no profile gain), applied to
    the full corpus by an Arrow scorer + argmax. Oracle-paired: the
    whole train-then-score pipeline restated in SQL; per-(doc, lang)
    scores round to 6dp before the argmax on BOTH sides so the winner
    is total-ordered (score, lang) in each engine."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    # a single-row-group corpus file pins BOTH the training trigram
    # explode and the Arrow scoring pass to one task/worker — widen
    # conditionally so all workers score (no-op on wide scans; guide
    # §2.5, r11)
    d = widen_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    profiles = textstats.ngram_language_profiles(d.filter(F.col("doc_id") % 10 == 0))
    # the profile dict rides in the arrow_udf closure — measured ~2×
    # over a gram-explode broadcast join at sf0.1
    return textstats.language_id(d, profiles)


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT, list_transform(
                   string_split(text, ' '),
                   t -> list_reduce(
                       list_prepend(7::BIGINT, list_transform(
                           string_split(t, ''), c -> unicode(c)::BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007))),
               (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 order-sensitive rolling document fingerprint: a polynomial
    hash mod 1e9+7, byte-replayable in any engine."""
    return textstats.fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(term)
      WHERE t.term <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT tf.doc_id,
             tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
                        tf.term
             ) AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rank <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 TF-IDF: top-5 characteristic terms per document
    (tf × ln(N/df), the classic corpus-relevance weighting — SURVEY.md
    §2 K4's HashingTF+IDF capability expressed as pure dataflow, so it
    stays oracle-checkable instead of hash-bucketed).

    Spark-first: one explode+two aggregates; the doc-frequency side is
    vocabulary-grain (≪ corpus) so its join back to term-frequency
    rows broadcasts under AQE at test scale and degrades to a shuffle
    hash join on `term` at 100 TB — exactly the right physical choice
    either way. The corpus size N is a one-row broadcast. Ranks break
    ties on term so engine and oracle pick identical top-5 sets.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf, not from a second tokenize pass: tf is
    # already (doc, term)-distinct, so df(term) = count of tf rows —
    # the corpus explode runs once and its exchange is reused for both
    # branches (count_distinct over raw tokens would re-explode and
    # re-dedup what tf's aggregate already dedups)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    return top_k_per_group(
        scored, ["doc_id"], [F.desc("tfidf"), F.asc("term")], 5
    ).select("doc_id", "term", "tfidf", "rank")


@query(
    "regex_extracts",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '([0-9]+)', 1)                     AS first_number,
           len(regexp_extract_all(text, 'e'))                      AS n_e,
           length(trim(regexp_replace(text, '\s+', ' ', 'g')))     AS squeezed_len
    FROM documents
    """,
)
def q_regex_extracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family regex scalar functions: first-match extraction, match
    counting, and whitespace-squeeze via regexp_replace — the text-
    cleaning trio every corpus-prep pipeline applies before tokenizing.

    Pure projection (no shuffle, whole-stage codegen); regexes compile
    once per task, not per row.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
        F.regexp_count("text", F.lit("e")).alias("n_e"),
        F.length(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("squeezed_len"),
    )


@query(
    "fuzzy_source_pairs",
    oracle="""
    SELECT a.source AS source_a,
           b.source AS source_b,
           levenshtein(a.source, b.source) AS edit_dist
    FROM (SELECT DISTINCT source FROM documents) a
    JOIN (SELECT DISTINCT source FROM documents) b
      ON a.source < b.source
    WHERE levenshtein(a.source, b.source) <= 4
    """,
)
def q_fuzzy_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (edit distance ≤ k) over a DISTINCT
    attribute domain — the entity-resolution primitive for catalog
    cleanup (near-identical source/brand/vendor labels).

    Spark-first: the n² comparison runs on the DEDUPLICATED domain
    (|distinct| ≪ |rows| — here a handful of sources from millions of
    docs), broadcast self-joined; ``levenshtein`` is a JVM built-in.
    At 100 TB the distinct-value extraction is the only fact-table
    pass; blocking (first-char / length bands) bounds the pair count
    if the domain itself grows large.
    """
    d = load_table(spark, sf_dir, "documents")
    dom = d.select("source").distinct()
    a = dom.select(F.col("source").alias("source_a"))
    b = dom.select(F.col("source").alias("source_b"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .withColumn("edit_dist", F.levenshtein("source_a", "source_b"))
        .filter(F.col("edit_dist") <= 4)
    )


@query(
    "doc_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), 20)) AS start
      FROM t
    )
    SELECT doc_id,
           start // 20 AS chunk_idx,
           len(list_slice(toks, start + 1, start + 30)) AS n_chunk_tokens,
           array_to_string(list_slice(toks, start + 1, start + 30), ' ')
             AS chunk_text
    FROM s
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] context-window chunking: overlapping 30-token windows at
    stride 20 — shuffle-free generator expressions (see
    operators/textstats.chunk_documents)."""
    out = textstats.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=30, stride=20
    )
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


@query(
    "pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' user' || CAST(doc_id AS VARCHAR)
                       || '@mail.com call 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS n_phones,
           regexp_replace(
             regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted_text
    FROM aug
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PII scrubbing over documents. The synthetic corpus carries
    no organic PII, so a deterministic email+phone suffix is injected
    on 2/3 of the docs IN-QUERY (same expression on the oracle side) —
    the redaction/count operator itself (operators/textstats.redact_pii)
    is the thing under test, and zero-match docs stay exercised."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
            F.concat(
                F.col("text"),
                F.lit(" user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.com call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            )
        ),
    )
    out = textstats.redact_pii(aug)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "redacted_text",
    )


@query(
    "contamination_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i + 1, i + 5), ' ') AS ngram
      FROM (SELECT doc_id, t, unnest(range(0, len(t) - 4)) AS i FROM toks)
    )
    SELECT c.doc_id AS corpus_doc_id,
           b.doc_id AS benchmark_doc_id,
           count(*) AS n_shared_ngrams
    FROM (SELECT * FROM g WHERE doc_id % 10 != 0) c
    JOIN (SELECT * FROM g WHERE doc_id % 10 = 0) b USING (ngram)
    GROUP BY corpus_doc_id, benchmark_doc_id
    """,
)
def q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] benchmark decontamination: 5-gram overlap between the
    held-out tenth of documents (doc_id % 10 == 0) and the rest —
    per-doc DISTINCT n-grams, benchmark side broadcast (see
    operators/textstats.contamination_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    return textstats.contamination_pairs(corpus, bench, n=5)


@query(
    "repetition_score",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(0, len(t) - 1),
                            i -> t[i + 1] || ' ' || t[i + 2]) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 2)
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
             AS repetition
    FROM g
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] repetition/boilerplate scoring (Gopher-style rule): share
    of duplicated bigrams within each document — all per-row array
    math, shuffle-free. High scores mark template/boilerplate docs for
    the quality filter."""
    docs = load_table(spark, sf_dir, "documents")
    tc = F.col("__toks")
    staged = (
        docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(
            "doc_id",
            F.zip_with(
                F.slice(tc, 1, F.size(tc) - 1),
                F.slice(tc, 2, F.size(tc) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ).alias("grams"),
        )
    )
    return staged.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
        F.round(
            1.0 - F.size(F.array_distinct("grams")) / F.size("grams"), 6
        ).alias("repetition"),
    )


@query(
    "mixing_weights",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT sum(n_docs) AS total, count(*) AS n_sources FROM s)
    SELECT source, n_docs, n_tokens,
           round(n_docs::DOUBLE / total, 6) AS actual_frac,
           round((1.0 / n_sources) / (n_docs::DOUBLE / total), 6) AS weight
    FROM s, t
    """,
)
def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] corpus mixing weights: per-source doc/token counts and the
    sampling weight that equalizes source shares (uniform target) —
    the rebalancing pass before training-data sampling. One shuffle on
    the tiny source key; the totals row broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", r"\s+"))).alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("actual_frac"),
        F.round(
            (1.0 / F.col("n_sources")) / (F.col("n_docs") / F.col("total")), 6
        ).alias("weight"),
    )


@query(
    "token_budget_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM d
    )
    SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 20000
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] token-budget selection: greedy longest-first running total
    over doc-grain metadata, cut at a 20k-token budget.

    Scale shape (VERDICT r05 item 3 — the catalog plan IS the 100 TB
    plan): the longest-first order is replayed through
    skew.chunked_running_sum with ``order_col = -n_tokens`` and
    ``chunk_span=1``, i.e. value-grain chunks. Docs sharing a token
    count form one chunk: the intra-chunk doc_id-ordered window
    parallelizes across distinct counts, and the serial offset pass
    runs at length-histogram grain (≤ max doc length rows) — so no
    task ever sorts the full doc-grain projection, which at 100 TB is
    ~10⁹ rows, not the "~KB" a single-partition window assumes.
    Integer token counts + the long-typed chunk offset keep cum_tokens
    exact, so the oracle's plain global window is bit-identical."""
    from post_modern_stack_spark.operators.skew import chunked_running_sum

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens")
    ).withColumn("__negt", -F.col("n_tokens"))
    running = chunked_running_sum(
        d,
        key_cols=[],
        order_col="__negt",
        tie_cols=["doc_id"],
        value_col="n_tokens",
        out_col="cum_tokens",
        chunk_span=1,
    )
    return (
        running.filter(F.col("cum_tokens") <= 20000)
        .select("doc_id", "n_tokens", "cum_tokens")
    )


@query(
    "array_hof_profile",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           list_bool_or(list_transform(toks, x -> len(x) > 6)) AS has_long_token,
           list_bool_and(list_transform(toks, x -> len(x) < 20)) AS all_tokens_short,
           len(list_filter(toks, x -> left(x, 1) = 's')) AS n_s_tokens,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS total_chars
    FROM t
    """,
)
def q_array_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions end-to-end (exists / forall /
    filter / aggregate) — the lambda-expression surface Catalyst
    evaluates without any Python, one shuffle-free projection."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.exists(toks, lambda t: F.length(t) > 6).alias("has_long_token"),
        F.forall(toks, lambda t: F.length(t) < 20).alias("all_tokens_short"),
        F.size(F.filter(toks, lambda t: F.substring(t, 1, 1) == "s"))
        .cast("long")
        .alias("n_s_tokens"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        .cast("long")
        .alias("total_chars"),
    )


@query(
    "udtf_char_trigrams",
    oracle="""
    WITH grams AS (
        SELECT lang,
               unnest([substr(lower(substr(text, 1, 80)), CAST(i AS INT), 3)
                       FOR i IN generate_series(1, greatest(length(substr(text, 1, 80)) - 2, 0))]) AS gram
        FROM documents
    ),
    counted AS (
        SELECT lang, gram, count(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS rnk
        FROM grams GROUP BY lang, gram
    )
    SELECT lang, gram, n, rnk FROM counted WHERE rnk <= 5
    """,
)
def q_udtf_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface Python UDTF (Spark 4 table-valued function): the
    character-shingling step as a LATERAL table function —
    ``FROM documents, LATERAL char_ngrams(text, 3)`` — then a plain
    top-5-grams-per-language aggregation over its output.

    The UDTF is the API-surface demo (Arrow-batched Python boundary,
    one eval per document); the 80-char prefix bounds the Python-side
    work, and the identical shingling at corpus scale runs JVM-side in
    operators/dedup (explode over transform). Tie-break: gram ASC at
    equal counts, so the top-5 set is total-ordered on both engines.
    """
    from post_modern_stack_spark.sql_functions import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("pm_docs_udtf")
    return spark.sql(
        """
        WITH grams AS (
            SELECT d.lang, g.gram
            FROM pm_docs_udtf d,
                 LATERAL char_ngrams(lower(substr(d.text, 1, 80)), 3) g
        ),
        counted AS (
            SELECT lang, gram, count(*) AS n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, gram) AS rnk
            FROM grams GROUP BY lang, gram
        )
        SELECT lang, gram, n, rnk FROM counted WHERE rnk <= 5
        """
    )


@query(
    "substring_dup_share",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(t) - 8 + 2),
                   i -> array_to_string(t[i:i+7], ' '))) AS ngram
        FROM toks WHERE len(t) >= 8
    ),
    freq AS (
        SELECT doc_id, count(*) OVER (PARTITION BY ngram) AS npos
        FROM grams
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN npos > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
           round(sum(CASE WHEN npos > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS dup_share
    FROM freq
    GROUP BY doc_id
    """,
)
def q_substring_dup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 span-level dedup measure: share of each doc's token 8-gram
    POSITIONS whose gram occurs more than once corpus-wide (Lee et al.
    2022 substring dedup, doc-grain summary at the paper's positional
    grain — also the grain of `span_dedup_trim`'s removal). Oracle
    keys grams by string; engine keys the single gram-grain exchange
    by xxhash64 (collision-negligible)."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    # widen the single-row-group corpus scan: the positional gram
    # build (split+explode+hash) otherwise runs in ONE scan task
    # (no-op on wide scans; guide §2.5, r11)
    return textstats.substring_dup_share(
        widen_narrow_scan(load_table(spark, sf_dir, "documents")),
        n=8,
        hashed_keys=True,
    )


@query(
    "span_dedup_trim",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    pos AS (
      SELECT doc_id, unnest(range(len(toks) - 7)) AS p, toks
      FROM t WHERE len(toks) >= 8
    ),
    pg AS (
      SELECT doc_id, p,
             array_to_string(list_slice(toks, p + 1, p + 8), ' ') AS gram
      FROM pos
    ),
    dup AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) > 1),
    dp AS (SELECT doc_id, p FROM pg JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, p + r.k AS j FROM dp, range(8) r(k)),
    tok AS (
      SELECT doc_id, generate_subscripts(toks, 1) - 1 AS j,
             unnest(toks) AS w
      FROM t
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cov.j IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           coalesce(string_agg(CASE WHEN cov.j IS NULL THEN tok.w END,
                               ' ' ORDER BY tok.j), '') AS kept_text
    FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.j = tok.j
    GROUP BY tok.doc_id
    """,
)
def q_span_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the REMOVAL half of Lee et al. 2022 substring dedup
    (textstats.remove_duplicate_spans): every token covered by a
    corpus-duplicated 8-gram span is dropped and the surviving tokens
    re-join in original order — the operation the paper applies to
    training corpora, complementing the doc-grain `substring_dup_share`
    measurement. One positional gram explode, a count aggregate at
    gram-key grain, a duplicated-keys-only position join, and an
    Arrow-batched span-mask trim; the oracle replays positions,
    coverage, and the trimmed string byte-for-byte."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    # widened scan: the positional gram build is scan-stage work
    # (no-op on wide scans; guide §2.5, r11)
    return textstats.remove_duplicate_spans(
        widen_narrow_scan(load_table(spark, sf_dir, "documents")), n=8
    )


@query(
    "share_and_trim",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    pos AS (
      SELECT doc_id, unnest(range(len(toks) - 7)) AS p, toks
      FROM t WHERE len(toks) >= 8
    ),
    pg AS (
      SELECT doc_id, p,
             array_to_string(list_slice(toks, p + 1, p + 8), ' ') AS gram
      FROM pos
    ),
    dup AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) > 1),
    dp AS (SELECT doc_id, p FROM pg JOIN dup USING (gram)),
    nd AS (SELECT doc_id, count(*) AS n_dup FROM dp GROUP BY doc_id),
    cov AS (SELECT DISTINCT doc_id, p + r.k AS j FROM dp, range(8) r(k)),
    tok AS (
      SELECT doc_id, generate_subscripts(toks, 1) - 1 AS j,
             unnest(toks) AS w
      FROM t
    ),
    trimmed AS (
      SELECT tok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN cov.j IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN cov.j IS NULL THEN tok.w END,
                                 ' ' ORDER BY tok.j), '') AS kept_text
      FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.j = tok.j
      GROUP BY tok.doc_id
    )
    SELECT tr.doc_id, tr.n_tokens, tr.n_kept, tr.kept_text,
           CAST(CASE WHEN tr.n_tokens >= 8 THEN tr.n_tokens - 7
                     ELSE 0 END AS BIGINT) AS n_grams,
           CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN tr.n_tokens >= 8
                THEN round(coalesce(nd.n_dup, 0)::DOUBLE
                           / (tr.n_tokens - 7), 6)
           END AS dup_share
    FROM trimmed tr LEFT JOIN nd USING (doc_id)
    """,
)
def q_share_and_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] FUSED Lee et al. 2022 substring dedup — measurement AND
    removal from one positional resolution
    (textstats.substring_share_and_trim, r10): the trim's duplicated
    positions ARE the share's duplicated-gram count, so one gram-key
    aggregate + one positional join yield both the doc-grain
    `substring_dup_share` columns and the `span_dedup_trim` columns in
    a single action. This is the form `curate_documents(span_trim=
    True)` runs — the unfused stages measured 938.9 + 908.5 s at 30M
    docs (~79% of the spans funnel) with the gram aggregate paid once
    per stage across the checkpoint boundary. Oracle replays
    positions, coverage, the trimmed string byte-for-byte, and the
    share arithmetic (NULL share for docs too short to hold an
    8-gram)."""
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    # widened scan: the positional gram build is scan-stage work
    # (no-op on wide scans; guide §2.5, r11)
    return textstats.substring_share_and_trim(
        widen_narrow_scan(load_table(spark, sf_dir, "documents")), n=8
    )


@query(
    "unigram_logprob",
    oracle="""
    WITH occ AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tfc AS (
        SELECT doc_id, token, count(*) AS tf FROM occ GROUP BY doc_id, token
    ),
    vocab AS (
        SELECT token, sum(tf) AS cnt FROM tfc GROUP BY token
    ),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    probs AS (
        SELECT token, cnt::DOUBLE / total AS p FROM vocab, tot
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * ln(p)) / sum(tf), 6) AS avg_logprob
    FROM tfc JOIN probs USING (token)
    GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 unigram-LM quality scoring (CCNet-style perplexity proxy):
    corpus-trained token probabilities, per-doc mean log-prob. Vocab
    aggregate broadcasts; scoring join is shuffle-free on the fact
    side."""
    return textstats.unigram_logprob(load_table(spark, sf_dir, "documents"))


@query(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z]', '', 'g'),
                         1, 12) AS block_key,
               list_distinct(string_split(text, ' ')) AS tok
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY block_key ORDER BY doc_id)
                   AS rn
        FROM base
    )
    SELECT a.block_key,
           a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           round(len(list_intersect(a.tok, b.tok))::DOUBLE
                 / len(list_distinct(list_concat(a.tok, b.tok))), 6)
               AS jaccard
    FROM ranked a
    JOIN ranked b
      ON a.block_key = b.block_key
     AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
    """,
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking: sorted-neighborhood candidate pairs
    (w=3 successors inside each normalized block key), token-Jaccard
    scored. O(n*w) per block, never a quadratic self-join; the block
    key is the shuffle key so the walk is a local window."""
    return textstats.sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"), window=3, key_len=12
    )


def _funnel_row(corpus: DataFrame, benchmark: DataFrame, span_trim: bool) -> DataFrame:
    """Shared assembly for the two curation-funnel queries (r11): the
    intermediate stage counts ride the stage localCheckpoints as
    observe() metrics (curate_documents(observations=...)) instead of
    one count-aggregate action per stage — the old form re-scanned
    every checkpointed stage and RE-RAN the quality filter (the one
    un-checkpointed stage) just to count it. The observed counts are
    exact row counts of the same frames the old aggregates counted, so
    the funnel row is value-identical; they enter the result as long
    literals. n_input stays a real aggregate (the input frame appears
    on both sides of the quality join, so an observe there could fire
    twice per action), and the final stage keeps its count+token-sum
    aggregate — that action is what materializes the token-budget
    plan. One action total instead of seven. A count whose metric never
    arrives is taken from the stage frame (operators/obs.read_observed)."""
    from pyspark.sql import Observation

    stage_names = ["quality", "deduped", "near"] + (
        ["trimmed"] if span_trim else []
    ) + ["clean"]
    obs = {n: Observation() for n in stage_names}
    stages = textstats.curate_documents(
        corpus, benchmark, span_trim=span_trim, observations=obs
    )
    toks = F.size(F.split(F.col("text"), r"\s+"))
    counts = stages["input"].agg(F.count(F.lit(1)).alias("n_input"))
    for name in stage_names:
        n = read_observed(obs[name], "n", stages[name].count)
        counts = counts.withColumn(f"n_{name}", F.lit(int(n)).cast("long"))
    final_agg = stages["final"].agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum(toks).alias("final_tokens"),
    )
    return counts.crossJoin(final_agg)


@query(
    "curation_funnel",
    oracle="""
    WITH input AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 97 <> 0
    ),
    bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    stats AS (
        SELECT doc_id, text, source,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')) AS ldiv,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and','to','in')))::DOUBLE
                   / len(string_split(text, ' ')) AS stopr
        FROM input
    ),
    quality AS (
        SELECT doc_id, text, source, n_tokens FROM stats
        WHERE round(((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
                   + (CASE WHEN stopr > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN ldiv > 0.1 THEN 1 ELSE 0 END)) / 3.0, 6) >= 0.66
    ),
    deduped AS (
        SELECT doc_id, text, source, n_tokens FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ),
    grams AS (
        -- positional grain (r08, matches the engine's Lee'22 measure):
        -- every n-gram POSITION counts; no per-doc list_distinct
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' ')))
                   AS g
        FROM deduped WHERE len(string_split(text, ' ')) >= 8
    ),
    shares AS (
        SELECT doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM (SELECT doc_id, count(*) OVER (PARTITION BY g) AS cnt FROM grams)
        GROUP BY doc_id
    ),
    near AS (
        SELECT d.* FROM deduped d LEFT JOIN shares s USING (doc_id)
        WHERE s.doc_id IS NULL
           OR round(s.n_dup::DOUBLE / s.n_grams, 6) < 0.8
    ),
    bgrams AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' '))))
                   AS g
        FROM bench WHERE len(string_split(text, ' ')) >= 8
    ),
    cgrams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' '))))
                   AS g
        FROM near WHERE len(string_split(text, ' ')) >= 8
    ),
    contam AS (
        SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (g)
    ),
    clean AS (
        SELECT * FROM near
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    tot AS (SELECT sum(n_tokens) AS total FROM clean),
    run AS (
        SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS running
        FROM clean
    ),
    final AS (
        SELECT r.* FROM run r, tot WHERE r.running <= floor(tot.total * 0.5)
    )
    SELECT (SELECT count(*) FROM input)   AS n_input,
           (SELECT count(*) FROM quality) AS n_quality,
           (SELECT count(*) FROM deduped) AS n_deduped,
           (SELECT count(*) FROM near)    AS n_near,
           (SELECT count(*) FROM clean)   AS n_clean,
           (SELECT count(*) FROM final)   AS n_final,
           (SELECT CAST(sum(n_tokens) AS BIGINT) FROM final) AS final_tokens
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage LLM-corpus curation pipeline end-to-end
    (operators/textstats.curate_documents): quality filter → exact
    dedup → substring near-dup removal → benchmark decontamination →
    token budget, reporting every stage's survivor count in one row —
    each stage keeps its operator's documented scale shape, stages are
    localCheckpoint-ed so funnel counts never re-run upstream
    shuffles. Benchmark set = every 97th doc. The budget stage runs
    the chunked prefix-sum by default (skew.chunked_running_sum,
    VERDICT r05 item 3) — parallel per-chunk windows over contiguous
    doc_id spans, no single-task corpus sort; survivors are
    bit-identical to the plain cumsum (integer token counts), so the
    oracle is unchanged. Plan shape pinned in test_curation_round3."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return _funnel_row(corpus, benchmark, span_trim=False)


@query(
    "curation_funnel_spans",
    oracle="""
    WITH input AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 97 <> 0
    ),
    bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    stats AS (
        SELECT doc_id, text, source,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')) AS ldiv,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and','to','in')))::DOUBLE
                   / len(string_split(text, ' ')) AS stopr
        FROM input
    ),
    quality AS (
        SELECT doc_id, text, source, n_tokens FROM stats
        WHERE round(((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
                   + (CASE WHEN stopr > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN ldiv > 0.1 THEN 1 ELSE 0 END)) / 3.0, 6) >= 0.66
    ),
    deduped AS (
        SELECT doc_id, text, source, n_tokens FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ),
    grams AS (
        -- positional grain over the DEDUPED corpus (r08): the ONE
        -- gram-key aggregate both the share and the span trim read —
        -- the engine builds it once (gram_key_counts, checkpointed)
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' ')))
                   AS g
        FROM deduped WHERE len(string_split(text, ' ')) >= 8
    ),
    shares AS (
        SELECT doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM (SELECT doc_id, count(*) OVER (PARTITION BY g) AS cnt FROM grams)
        GROUP BY doc_id
    ),
    near AS (
        SELECT d.* FROM deduped d LEFT JOIN shares s USING (doc_id)
        WHERE s.doc_id IS NULL
           OR round(s.n_dup::DOUBLE / s.n_grams, 6) < 0.8
    ),
    ntoks AS (
        SELECT doc_id, text, source, string_split(text, ' ') AS toks
        FROM near
    ),
    spos AS (
        SELECT doc_id, unnest(range(len(toks) - 7)) AS p, toks
        FROM ntoks WHERE len(toks) >= 8
    ),
    spg AS (
        SELECT doc_id, p,
               array_to_string(list_slice(toks, p + 1, p + 8), ' ') AS gram
        FROM spos
    ),
    -- a span is duplicated iff its gram occupies >1 position in the
    -- DEDUPED corpus (the paper's grain: the full corpus, not the
    -- post-doc-drop survivors)
    sdup AS (SELECT g AS gram FROM grams GROUP BY g HAVING count(*) > 1),
    sdp AS (SELECT doc_id, p FROM spg JOIN sdup USING (gram)),
    scov AS (SELECT DISTINCT doc_id, p + r.k AS j FROM sdp, range(8) r(k)),
    stok AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS j,
               unnest(toks) AS w
        FROM ntoks
    ),
    strim AS (
        SELECT stok.doc_id,
               sum(CASE WHEN scov.j IS NULL THEN 1 ELSE 0 END) AS n_kept,
               string_agg(CASE WHEN scov.j IS NULL THEN stok.w END,
                          ' ' ORDER BY stok.j) AS kept_text
        FROM stok LEFT JOIN scov
          ON scov.doc_id = stok.doc_id AND scov.j = stok.j
        GROUP BY stok.doc_id
    ),
    trimmed AS (
        -- untouched docs keep their ORIGINAL text byte-identically;
        -- kept_text (single-space rejoin) swaps in only when the trim
        -- removed tokens
        SELECT n.doc_id,
               CASE WHEN s.n_kept < n.n_tokens THEN s.kept_text
                    ELSE n.text END AS text,
               n.source,
               s.n_kept AS n_tokens
        FROM near n JOIN strim s USING (doc_id)
        WHERE s.n_kept > 0
    ),
    bgrams AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' '))))
                   AS g
        FROM bench WHERE len(string_split(text, ' ')) >= 8
    ),
    cgrams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 6),
                   i -> array_to_string((string_split(text, ' '))[i:i+7], ' '))))
                   AS g
        FROM trimmed WHERE len(string_split(text, ' ')) >= 8
    ),
    contam AS (
        SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (g)
    ),
    clean AS (
        SELECT * FROM trimmed
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    tot AS (SELECT sum(n_tokens) AS total FROM clean),
    run AS (
        SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS running
        FROM clean
    ),
    final AS (
        SELECT r.* FROM run r, tot WHERE r.running <= floor(tot.total * 0.5)
    )
    SELECT (SELECT count(*) FROM input)   AS n_input,
           (SELECT count(*) FROM quality) AS n_quality,
           (SELECT count(*) FROM deduped) AS n_deduped,
           (SELECT count(*) FROM near)    AS n_near,
           (SELECT count(*) FROM trimmed) AS n_trimmed,
           (SELECT count(*) FROM clean)   AS n_clean,
           (SELECT count(*) FROM final)   AS n_final,
           (SELECT CAST(sum(n_tokens) AS BIGINT) FROM final) AS final_tokens
    """,
)
def q_curation_funnel_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the curation funnel with Lee et al. 2022's REMOVAL step
    composed in (curate_documents(span_trim=True), VERDICT r06 item 3):
    after the doc-grain near-dup drop, every token covered by a
    corpus-duplicated 8-gram span inside the survivors is trimmed out
    (operators/textstats.remove_duplicate_spans) and the document text
    replaced by the survivors; decontamination and the token budget
    then run on the TRIMMED text, as the paper's pipeline does. One
    funnel row reports every stage count including the new ``trimmed``
    stage, and final_tokens counts trimmed tokens — the oracle replays
    the span trim string-exactly (positions, coverage, rejoin) inside
    the full funnel."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return _funnel_row(corpus, benchmark, span_trim=True)


@query(
    "bm25_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'window', 'join')
        GROUP BY doc_id, term
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT t.doc_id,
               sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl)))
                   AS raw
        FROM tf t JOIN df d USING (term), stats s
        GROUP BY t.doc_id
    )
    SELECT doc_id, round(raw, 6) AS bm25
    FROM scored
    ORDER BY round(raw, 6) DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking (Robertson k1=1.2, b=0.75) for the fixed
    query {spark, window, join} — the IR scoring stage of a
    retrieval pipeline, expressed as pure aggregates: term postings
    collapse to (doc, term, tf) grain before any join; document
    frequencies and corpus stats are term-grain/1-row aggregates that
    broadcast; ranking rounds before ordering so the top-20 cut is
    engine-deterministic."""
    terms = ["spark", "window", "join"]
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    tf = (
        docs.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.first("dl").alias("dl"), F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # consumed by df-counts AND scoring
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("raw"))
    )
    return (
        scored.select("doc_id", F.round("raw", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "containment_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
    sizes AS (SELECT doc_id, len(toks) AS n FROM t),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common::DOUBLE / sa.n, 6) AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    WHERE round(n_common::DOUBLE / sa.n, 6) >= 0.9
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 asymmetric containment (|A∩B| / |A|): catches a short doc
    swallowed by a longer one, which symmetric Jaccard misses (the
    measure behind prefix/suffix-duplication pruning). Ordered pairs
    (a inside b ≠ b inside a); token-grain hash join keyed on
    xxhash64, same tractable-subset contract as the Jaccard pair
    queries."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    toks = F.array_distinct(F.split(F.col("text"), r"\s+"))
    base = d.select("doc_id", toks.alias("toks"))
    tok = base.select(
        "doc_id", F.explode("toks").alias("tk")
    ).select("doc_id", F.xxhash64("tk").alias("tk"))
    sizes = base.select("doc_id", F.size("toks").alias("n"))
    pairs = (
        tok.alias("a")
        .join(tok.alias("b"), (F.col("a.tk") == F.col("b.tk"))
              & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.round(F.col("n_common") / F.col("n"), 6)
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("doc_id", "id_a")), "id_a")
        .filter(cont >= 0.9)
        .select("id_a", "id_b", cont.alias("containment"))
    )


@query(
    "simhash_portable_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, r.i,
               sum(CASE WHEN (h >> r.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, range(60) r(i)
        GROUP BY doc_id, r.i
    ),
    sigs AS (
        SELECT doc_id,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
        FROM votes GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, sig, rb.b,
               (sig >> (rb.b * 15)) & 32767 AS bv
        FROM sigs, range(4) rb(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sa, b.sig AS sb
        FROM bands a
        JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa::UBIGINT, sb::UBIGINT)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa::UBIGINT, sb::UBIGINT)) <= 8
    """,
)
def q_simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2b SimHash with the engine-portable md5 token hash: the ENTIRE
    pipeline — 60-bit signatures (15 hex chars of md5), 4×15-bit band
    blocking, exact Hamming verify — is replayed by the oracle, so the
    banded candidate semantics themselves are hash-checked, not just
    row counts (the xxhash64 full-corpus variant stays the scale
    path). Same tractable-subset contract as the Jaccard pair
    queries."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    pairs = dedup.simhash_near_dups(
        d, max_hamming=8, band_bits=15, bits=60, hash_mode="md5"
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "minhash_portable_candidates",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
        WHERE i <= greatest(len(toks) - 2, 1)
    ),
    x AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
        FROM sh
    ),
    mins AS (
        SELECT doc_id, r.s,
               min(((1103515245 * (r.s + 1)) % 1000000007 * x
                    + (12345 * (r.s + 1) + 67890) % 1000000007)
                   % 1000000007) AS h
        FROM x, range(16) r(s)
        GROUP BY doc_id, r.s
    ),
    bands AS (
        SELECT doc_id, s // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS band_key
        FROM mins GROUP BY doc_id, s // 4
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS band_hits
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_minhash_portable_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 MinHash LSH with the engine-portable permutation family
    (affine maps of a 60-bit md5 base hash mod 1e9+7): signatures,
    16-hash/4-band banding, and candidate generation all replay in the
    oracle, so the LSH pipeline itself is hash-checked (the xxhash64
    variant stays the full-corpus scale path). Same tractable-subset
    contract as the other pair queries."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    return dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_mode="md5"
    )


@query(
    "source_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    counts AS (
        SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
    ),
    tot AS (
        SELECT source, c, sum(c) OVER (PARTITION BY source) AS n
        FROM counts
    )
    SELECT source,
           round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 6) AS entropy,
           CAST(any_value(n) AS BIGINT) AS n_tokens
    FROM tot
    GROUP BY source
    """,
)
def q_source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution — the
    corpus-diversity health metric (a collapsed/templated source shows
    low entropy and gets down-weighted in mixing). Token counts
    collapse at (source, token) grain map-side; the per-source total
    is a window over that aggregate, so the token stream shuffles
    once."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(W.partitionBy("source"))
    p = F.col("c") / F.col("n")
    return (
        counts.withColumn("n", n)
        .groupBy("source")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.first("n").alias("n_tokens"),
        )
    )


@query(
    "zipf_slope",
    oracle="""
    WITH counts AS (
        SELECT token, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, token) AS rank
        FROM counts
    )
    SELECT round(regr_slope(ln(freq), ln(rank)), 5)     AS slope,
           round(regr_intercept(ln(freq), ln(rank)), 5) AS intercept,
           count(*) AS n_types
    FROM ranked
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of log(frequency) vs log(rank) over
    the frequency-ranked vocabulary (natural corpora sit near -1;
    synthetic/templated text deviates — a one-number corpus-health
    probe). regr_slope is algebraic, so after the token agg everything
    is moment-sized; ranking reuses the deterministic (freq desc,
    token) vocab tie-break."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), F.asc("token")))
    )
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(freq), ln(rank))"), 5).alias("slope"),
        F.round(F.expr("regr_intercept(ln(freq), ln(rank))"), 5).alias(
            "intercept"
        ),
        F.count(F.lit(1)).alias("n_types"),
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH counts AS (
        SELECT token, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, token) AS rank,
               sum(freq) OVER (ORDER BY freq DESC, token
                               ROWS UNBOUNDED PRECEDING) AS cum,
               sum(freq) OVER () AS total
        FROM counts
    )
    SELECT CAST(min(CASE WHEN cum >= 0.50 * total THEN rank END) AS BIGINT)
               AS types_for_50pct,
           CAST(min(CASE WHEN cum >= 0.90 * total THEN rank END) AS BIGINT)
               AS types_for_90pct,
           CAST(min(CASE WHEN cum >= 0.99 * total THEN rank END) AS BIGINT)
               AS types_for_99pct,
           count(*) AS n_types
    FROM ranked
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve summary: how many frequency-ranked
    types cover 50/90/99% of all token occurrences — the number that
    sizes a tokenizer's vocab (and the OOV rate any cut implies).
    Cumulative share is a running window over the TYPE-grain aggregate
    (vocab-sized, not corpus-sized), so the single-partition stage is
    tiny by Heaps' law."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = W.orderBy(F.desc("freq"), F.asc("token"))
    ranked = counts.select(
        "freq",
        F.row_number().over(w).alias("rank"),
        F.sum("freq").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("freq").over(
            W.partitionBy()
        ).alias("total"),
    )
    def need(p: float, name: str):
        return F.min(
            F.when(F.col("cum") >= p * F.col("total"), F.col("rank"))
        ).alias(name)

    return ranked.agg(
        need(0.50, "types_for_50pct"),
        need(0.90, "types_for_90pct"),
        need(0.99, "types_for_99pct"),
        F.count(F.lit(1)).alias("n_types"),
    )


@query(
    "near_dup_clusters_portable",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
        WHERE i <= greatest(len(toks) - 2, 1)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    jacc AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
              >= 0.5
    ),
    x AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
        FROM sh
    ),
    mins AS (
        SELECT doc_id, r.s,
               min(((1103515245 * (r.s + 1)) % 1000000007 * x
                    + (12345 * (r.s + 1) + 67890) % 1000000007)
                   % 1000000007) AS h
        FROM x, range(16) r(s)
        GROUP BY doc_id, r.s
    ),
    bands AS (
        SELECT doc_id, s // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS band_key
        FROM mins GROUP BY doc_id, s // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT j.id_a, j.id_b FROM jacc j JOIN cand c
          ON j.id_a = c.id_a AND j.id_b = c.id_b
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, e.b FROM reach r JOIN und e ON r.b = e.a
    )
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
)
def q_near_dup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 END-TO-END dedup pipeline, fully hash-checked: portable-md5
    MinHash-LSH candidates → exact Jaccard verify (≥0.5) → min-label
    connected components — the oracle replays candidates and Jaccard
    in SQL and closes components with a recursive CTE, so even the
    CLUSTER ASSIGNMENTS are cross-engine verified (the xxhash64
    variant `near_dup_clusters` stays the scale path)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    candidates = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_mode="md5"
    )
    # candidate-bound verify (r09) — see near_dup_clusters
    verified = dedup.jaccard_verify_pairs(d, candidates, min_jaccard=0.5)
    return dedup.cluster_pairs(verified)


@query(
    "gopher_rules",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(w) AS n_words,
             list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w)
               AS mwl,
             (len(text) - len(replace(text, '#', ''))
              + (len(text) - len(replace(text, '...', ''))) / 3.0)
               / len(w) AS symbol_ratio,
             len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
               / len(lines) AS bullet_frac,
             len(list_filter(lines,
                 l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))::DOUBLE
               / len(lines) AS ellipsis_frac,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
               / len(w) AS alpha_frac,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                 s -> list_contains(list_transform(w, x -> lower(x)), s)))
               AS n_stop
      FROM d
    )
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           round(mwl, 6) AS mean_word_len,
           (n_words BETWEEN 5 AND 100000)::INT AS r_word_count,
           (mwl BETWEEN 2 AND 12)::INT AS r_mean_word_len,
           (symbol_ratio <= 0.1)::INT AS r_symbol,
           (bullet_frac < 0.9)::INT AS r_bullet,
           (ellipsis_frac < 0.3)::INT AS r_ellipsis,
           (alpha_frac >= 0.8)::INT AS r_alpha,
           (n_stop >= 2)::INT AS r_stopwords,
           ((n_words BETWEEN 5 AND 100000) AND (mwl BETWEEN 2 AND 12)
            AND symbol_ratio <= 0.1 AND bullet_frac < 0.9
            AND ellipsis_frac < 0.3 AND alpha_frac >= 0.8
            AND n_stop >= 2)::INT AS keep
    FROM m
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] full Gopher quality-rule battery with per-rule booleans
    (textstats.gopher_rules) — the tunable-diagnosis form of the
    curation quality gate. Shuffle-free per-row expressions."""
    return textstats.gopher_rules(load_table(spark, sf_dir, "documents"))


@query(
    "dsir_weights",
    oracle="""
    WITH b AS (
      SELECT doc_id, source = 'src0' AS is_t,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    raw AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS c_tgt FROM b WHERE is_t GROUP BY bucket),
    tot AS (SELECT (SELECT sum(c_raw) FROM raw) AS n_raw,
                   (SELECT sum(c_tgt) FROM tgt) AS n_tgt),
    dist AS (
      SELECT raw.bucket,
             ln((coalesce(c_tgt, 0) + 1)::DOUBLE / (n_tgt + 1024))
             - ln((c_raw + 1)::DOUBLE / (n_raw + 1024)) AS log_ratio
      FROM raw LEFT JOIN tgt USING (bucket), tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(sum(log_ratio), 4) AS dsir_logratio
    FROM b JOIN dist USING (bucket)
    GROUP BY doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR importance weights (hashed-unigram log-likelihood
    ratio, target = source 'src0') — the data-selection score for
    importance resampling toward a target domain. Portable md5 bucket
    map so the oracle replays the exact hash semantics
    (textstats.dsir_weights)."""
    return textstats.dsir_weights(
        load_table(spark, sf_dir, "documents"),
        target_filter=F.col("source") == "src0",
    )


@query(
    "pack_docs",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    p AS (
      SELECT source, doc_id, n_tokens, rn, 0::BIGINT AS bin_id,
             n_tokens AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.doc_id, d.n_tokens, d.rn,
             CASE WHEN p.fill + d.n_tokens <= 256
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + d.n_tokens <= 256
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id FROM p
    """,
)
def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sequence packing: greedy first-fit of docs into 256-token
    training bins per source shard (shaping.pack_greedy). Sequential
    state per group → applyInArrow over the doc-grain metadata
    projection; groups pack in parallel. Oracle replays the greedy
    recurrence with a recursive CTE."""
    from post_modern_stack_spark.operators.shaping import pack_greedy

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_greedy(
        docs, budget=256, group_col="source", id_col="doc_id",
        size_col="n_tokens",
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
        WHERE i <= greatest(len(toks) - 2, 1)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    jacc AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
              >= 0.5
    ),
    x AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
        FROM sh
    ),
    mins AS (
        SELECT doc_id, r.s,
               min(((1103515245 * (r.s + 1)) % 1000000007 * x
                    + (12345 * (r.s + 1) + 67890) % 1000000007)
                   % 1000000007) AS h
        FROM x, range(16) r(s)
        GROUP BY doc_id, r.s
    ),
    bands AS (
        SELECT doc_id, s // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS band_key
        FROM mins GROUP BY doc_id, s // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT j.id_a, j.id_b FROM jacc j JOIN cand c
          ON j.id_a = c.id_a AND j.id_b = c.id_b
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, e.b FROM reach r JOIN und e ON r.b = e.a
    ),
    cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
           FROM reach GROUP BY a),
    q AS (
        SELECT doc_id,
               round(((CASE WHEN len(string_split(text,' ')) BETWEEN 10 AND 1000
                            THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN len(list_filter(string_split(text,' '),
                                   w -> w IN ('the','a','of','and','to','in'))) > 0
                            THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN len(list_distinct(string_split(text,' ')))::DOUBLE
                                 / len(string_split(text,' ')) > 0.1
                            THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    j AS (
        SELECT q.doc_id, coalesce(cl.cluster_id, q.doc_id) AS cluster_id,
               q.quality
        FROM q LEFT JOIN cl USING (doc_id)
    ),
    best AS (
        SELECT cluster_id,
               arg_max(doc_id, quality * 1e9 - doc_id) AS best_id,
               count(*)::BIGINT AS cluster_size
        FROM j GROUP BY cluster_id
    )
    SELECT j.doc_id, j.cluster_id, best.cluster_size, j.quality,
           (j.doc_id = best.best_id)::INT AS kept
    FROM j JOIN best USING (cluster_id)
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] END-TO-END dedup with best-survivor selection: portable
    MinHash-LSH candidates → exact Jaccard verify → connected
    components → keep the highest-quality member per cluster
    (dedup.keep_best_per_cluster). The full production shape — "drop
    duplicates, keep the cleanest copy" — with every stage replayed by
    the oracle, including the survivor choice."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    candidates = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_mode="md5"
    )
    # candidate-bound verify (r09) — see near_dup_clusters
    verified = dedup.jaccard_verify_pairs(d, candidates, min_jaccard=0.5)
    clusters = dedup.cluster_pairs(verified)
    quality = textstats.quality_score(d)
    return dedup.keep_best_per_cluster(quality, clusters, score_col="quality")


@query(
    "bpe_pretokens",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             regexp_extract_all(text,
               '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\\s A-Za-z0-9]+|\\s+')
               AS pieces,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_words,
             len(list_filter(pieces, x -> NOT regexp_matches(x, '^\\s+$')))
               AS n_pre,
             len(list_filter(pieces, x -> regexp_matches(x, '^ ?[A-Za-z]+$')))
               AS n_alpha,
             len(list_filter(pieces, x -> regexp_matches(x, '^ ?[0-9]+$')))
               AS n_digit
      FROM p
    )
    SELECT doc_id,
           n_pre::BIGINT AS n_pretokens,
           n_alpha::BIGINT AS n_alpha,
           n_digit::BIGINT AS n_digit,
           (n_pre - n_alpha - n_digit)::BIGINT AS n_other,
           round(n_pre::DOUBLE / n_words, 6) AS fertility
    FROM c
    """,
)
def q_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BPE-ish pre-tokenizer counting (textstats.bpe_pretokens):
    GPT-2 regex pieces + class breakdown + fertility per doc — the
    token-budget denominator for training-data accounting."""
    return textstats.bpe_pretokens(load_table(spark, sf_dir, "documents"))


@query("quality_classifier")  # rows-only: float-iterative training
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] model-based quality filtering (GPT-3-style LR filter):
    train a hashed-bag-of-words logistic regression on a weak label
    (lang == 'en' as the 'target distribution' stand-in), score every
    doc, emit per-doc probability + decision. All training steps are
    DataFrame aggregations (inference.train_logreg) — model state on
    the driver is one 256-float vector; the corpus never leaves the
    executors. r11 shape: the corpus is featurized ONCE into the
    packed (id, y, fx) grain (inference.packed_text_features — fused
    featurize+pack, two keyed exchanges, no window pass), checkpointed
    once, and BOTH the GD loop and the final scoring read it — scoring
    is the in-array sparse dot product (score_logreg_packed), so it
    adds no shuffle and no labels re-join. Each GD iteration remains
    one job with one 257-key map-side-combined shuffle. The widened
    scan (guide §2.5) parallelizes the explode+md5 featurizer, which a
    single-row-group corpus file otherwise pins to one task."""
    from post_modern_stack_spark.operators import inference
    from post_modern_stack_spark.operators.skew import widen_narrow_scan

    docs = widen_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    packed = inference.packed_text_features(docs, labels).localCheckpoint()
    w, b = inference.train_logreg(packed, n_iter=8, lr=5.0)
    return inference.score_logreg_packed(packed, w, b).select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        F.round("p", 4).alias("p_en"),
        (F.col("p") >= 0.5).cast("int").alias("pred"),
    )


@query(
    "weighted_sample",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1.0)
               / 4503599627370496.0 AS u
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, n_tokens, ln(u) / n_tokens AS sk,
             row_number() OVER (PARTITION BY source
                                ORDER BY ln(u) / n_tokens DESC, doc_id) AS rn
      FROM d
    )
    SELECT source, doc_id, n_tokens, round(sk, 6) AS sample_key,
           rn::BIGINT AS rank_in_group
    FROM r WHERE rn <= 5
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] weighted reservoir sample (A-ES), 5 docs per source with
    probability ∝ token count — deterministic portable-hash randomness,
    so the oracle replays the exact sample (shaping.
    weighted_sample_per_group). One window per group key; no RNG
    state, no driver coordination."""
    from post_modern_stack_spark.operators.shaping import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
    )
    return weighted_sample_per_group(docs, k=5, weight_col="n_tokens")


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB replay of ``vocab.bpe_train``'s merge loop, iterations
    UNROLLED as chained CTEs (recursive CTEs cannot aggregate in the
    recursive term, and a driver loop is exactly what we are checking
    against).

    State encoding: each word's symbol list is stored as a string with
    every token individually wrapped in chr(31) separators —
    ``⟂tok⟂⟂tok⟂…`` — so a merge of (l, r) is ONE SQL
    ``replace(s, '⟂l⟂⟂r⟂', '⟂lr⟂')``. ``replace`` scans left-to-right
    over non-overlapping matches, which is exactly the greedy fold
    semantics of the Spark side (a run ``a a a`` under merge (a,a)
    becomes ``aa a``, because the second candidate's leading separator
    was consumed by the first replacement — same parity rule as the
    fold's acc-tail check). The doubled separator at token boundaries
    prevents false matches where one token merely ENDS with ``l``
    (``xa b`` must not match ``⟂a⟂⟂b⟂``). Assumes chr(31) never
    occurs inside a whitespace-delimited token of the corpus (holds
    for the synthetic documents; a real deployment would pick an
    unused codepoint after a one-pass scan).

    Best-pair tie-break replays Spark's ``max_by(struct(l,r,n),
    struct(n,l,r))``: ORDER BY n DESC, l DESC, r DESC — binary UTF-8
    string comparison in both engines."""
    sep = "chr(31)"
    ctes = [
        f"""s0 AS MATERIALIZED (
      SELECT w, count(*) AS cnt,
             {sep} || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, i, 1)),
               {sep} || {sep}) || {sep} AS s
      FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w
        FROM documents
      )
      WHERE length(w) > 0
      GROUP BY w
    )"""
    ]
    selects = []
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS MATERIALIZED (
      SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n
      FROM (
        SELECT cnt,
               unnest(syms[1:len(syms) - 1]) AS l,
               unnest(syms[2:len(syms)])     AS r
        FROM (
          SELECT cnt,
                 str_split(trim(s, {sep}), {sep} || {sep}) AS syms
          FROM s{i - 1}
        )
      )
      GROUP BY l, r
    ),
    best{i} AS (
      SELECT l, r, n FROM p{i} ORDER BY n DESC, l DESC, r DESC LIMIT 1
    ),
    s{i} AS MATERIALIZED (
      SELECT w, cnt,
             replace(
               s,
               (SELECT {sep} || l || {sep} || {sep} || r || {sep} FROM best{i}),
               (SELECT {sep} || l || r || {sep} FROM best{i})) AS s
      FROM s{i - 1}
    )""")
        selects.append(
            f'SELECT {i - 1} AS "rank", l AS "left", r AS "right",'
            f' n AS pair_count FROM best{i}'
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB replay of ``vocab.bpe_encode``: reuse the merge-training
    CTE chain above (``s{n_merges}`` holds each distinct word's FINAL
    separator-encoded symbol string after all merges), then join it
    back to the per-document word occurrences and count symbols — the
    same distinct-word-then-rejoin shape as the engine side."""
    sep = "chr(31)"
    train = _bpe_oracle_sql(n_merges)
    chain = train[: train.index("\nSELECT 0 AS")]
    return f"""{chain},
    docw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '\\s+')) AS w
        FROM documents
      ) WHERE length(w) > 0
    )
    SELECT d.doc_id,
           count(*)::BIGINT AS n_words,
           sum(len(str_split(trim(f.s, {sep}), {sep} || {sep})))::BIGINT
             AS n_bpe_tokens,
           round(sum(len(str_split(trim(f.s, {sep}), {sep} || {sep})))::DOUBLE
                 / count(*), 6) AS fertility
    FROM docw d JOIN s{n_merges} f USING (w)
    GROUP BY d.doc_id
    """


@query("bpe_train_merges", oracle=_bpe_oracle_sql())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] distributed BPE merge-table training (vocab.bpe_train, 8
    merges over the word-frequency table). Deterministic integer
    arithmetic with a (count, pair) tie-break — exact-parity-tested
    against a reference Python BPE, and since round 5 ALSO
    oracle-paired (VERDICT r04 item 4): the 8 iterations are unrolled
    into chained DuckDB CTEs with the greedy array rewrite replayed as
    boundary-safe string replaces (see _bpe_oracle_sql)."""
    from post_modern_stack_spark.operators.vocab import bpe_train

    merges, _ = bpe_train(
        load_table(spark, sf_dir, "documents"), n_merges=8
    )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


@query("bpe_encode_tokens", oracle=_bpe_encode_oracle_sql())
def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BPE encode (vocab.bpe_encode): train the 8-merge table
    (vocab.bpe_train — driver-checked as bpe_train_merges), then
    tokenize every document with it. Merges apply on the DISTINCT-WORD
    table (vocab-sized), then broadcast-join back to corpus word
    occurrences — one explode + one hash agg at corpus grain
    regardless of merge-table size. The expression-fold word path is
    used here (bit-identical to training's state rewrite); the pandas
    UDF rank-priority path for production 30k-merge tables is
    parity-tested in tests/test_operators.py. Oracle reuses the
    unrolled merge-CTE chain (s8 = each word's final symbols) joined
    back at doc grain (_bpe_encode_oracle_sql)."""
    from post_modern_stack_spark.operators.vocab import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, n_merges=8)
    return bpe_encode(docs, merges)


@query(
    "jsonl_docs_roundtrip",
    oracle="""
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars,
           sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
             AS text_csum
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    """,
)
def q_jsonl_docs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] H11 connector value check: documents -> jsonl_docs writer
    (committing _MANIFEST generation) -> jsonl_docs reader with a
    pushed EqualTo('lang','en') filter -> per-source checksum
    aggregate. The oracle aggregates the parquet truth directly, so a
    hash match certifies byte-exact text round-trip AND pushed-filter
    correctness end-to-end through the Python Data Source.

    The shard directory lives under a PER-USER parent
    ``pmss_jsonl_roundtrip-u{uid}`` created mode 0o700 and verified
    owned-by-us (ADVICE r07: a fully predictable child path under a
    SHARED parent regressed the r05 squatting concern — another user
    could pre-create the exact path in sticky /tmp and read or poison
    the corpus; owning the parent denies that while keeping at most
    ONE corpus copy per (user, corpus)). Inside it the child is keyed
    by a hash of the FULL corpus path (ADVICE r05: basename-keyed
    paths collide across checkouts) and written mode("overwrite")
    each call (ADVICE r06: a pid-keyed path defeated overwrite reuse
    and accumulated corpus-sized garbage). The committing writer
    makes a concurrent re-write invisible until its manifest swap, so
    overlapping invocations stay consistent. A fresh .load() per call
    sidesteps the Spark 4.1 bridge's cached-scan caveat
    (tests/test_docsource.py)."""
    import hashlib
    import os
    import stat as stat_mod
    import tempfile

    from post_modern_stack_spark.sources import docsource

    docsource.register(spark)
    docs = load_table(spark, sf_dir, "documents")
    corpus_key = hashlib.sha256(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:16]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    parent = os.path.join(
        tempfile.gettempdir(), f"pmss_jsonl_roundtrip-u{uid}"
    )
    os.makedirs(parent, mode=0o700, exist_ok=True)
    # lstat, not stat (ADVICE r08): stat follows symlinks, so a
    # pre-created symlink pointing at a directory we DO own would pass
    # the uid check and the chmod/write below would act through the
    # link on a directory the attacker chose. Require the path itself
    # to be a real directory owned by us.
    st = os.lstat(parent)
    if not stat_mod.S_ISDIR(st.st_mode):
        raise RuntimeError(
            f"{parent} exists but is not a real directory (symlink or "
            "file pre-created in sticky /tmp); refusing to use it"
        )
    if hasattr(os, "getuid") and st.st_uid != uid:
        # sticky /tmp lets any user pre-create the name; never write a
        # corpus into a directory someone else owns
        raise RuntimeError(
            f"{parent} exists but is owned by uid {st.st_uid}, not {uid}; "
            "refusing to write the round-trip corpus into it"
        )
    if stat_mod.S_IMODE(st.st_mode) & 0o077:
        os.chmod(parent, 0o700)  # we own it; close group/other access
    root = os.path.join(parent, corpus_key)
    docs.write.format("jsonl_docs").option("path", root).mode(
        "overwrite"
    ).save()
    back = (
        spark.read.format("jsonl_docs")
        .schema(docsource.DOCUMENTS_SCHEMA)
        .option("path", root)
        .load()
        .filter(F.col("lang") == "en")
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        ).alias("text_csum"),
    )


@query(
    "temperature_sample",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    t AS (
      SELECT sum(n_s) AS n, sum(pow(n_s::DOUBLE / (SELECT sum(n_s) FROM s),
                                    0.5)) AS z
      FROM s
    ),
    rates AS (
      SELECT source, n_s,
             least(1.0, (0.4 * n) * (pow(n_s::DOUBLE / n, 0.5) / z) / n_s)
               AS rate
      FROM s, t
    ),
    d AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1.0)
               / 4503599627370496.0 AS u
      FROM documents
    )
    SELECT d.doc_id, d.source, round(r.rate, 6) AS rate
    FROM d JOIN rates r USING (source)
    WHERE d.u < r.rate
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] temperature-scaled mixture sampling (T=2): per-source
    acceptance rates ∝ share^(1/T) renormalized to a 40% corpus
    budget, docs accepted by the portable md5 uniform draw — the
    materialization step after ``mixing_weights`` decides the target
    mix. Source-grain tables are tiny broadcasts; the corpus pass is
    one filter."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # two-step: total first, then z over shares of that total
    tot = s.agg(F.sum("n_s").alias("n"))
    z = (
        s.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.pow(F.col("n_s") / F.col("n"), F.lit(0.5))).alias("z"))
    )
    rates = (
        s.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(z))
        .select(
            "source",
            F.least(
                F.lit(1.0),
                (0.4 * F.col("n"))
                * (F.pow(F.col("n_s") / F.col("n"), F.lit(0.5)) / F.col("z"))
                / F.col("n_s"),
            ).alias("rate"),
        )
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / float(1 << 52)
    return (
        docs.select("doc_id", "source", u.alias("u"))
        .join(F.broadcast(rates), "source")
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "source", F.round("rate", 6).alias("rate"))
    )


@query(
    "rrf_hybrid_rank",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'window', 'join')
        GROUP BY doc_id, term
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bm AS (
        SELECT t.doc_id,
               round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))), 6)
                   AS bm25
        FROM tf t JOIN dfreq d USING (term), stats s
        GROUP BY t.doc_id
    ),
    bm_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
        FROM bm
    ),
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               round(list_sum(list_transform(range(1, len(e.v) + 1),
                                             i -> e.v[i] * q.qv[i]))
                     / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
                     6) AS c
        FROM e, q WHERE e.vec_id <> 0
    ),
    cos_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY c DESC, doc_id) AS r_cos
        FROM cos
    ),
    fused AS (
        SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
               b.r_bm, c.r_cos,
               round(coalesce(1.0 / (60 + b.r_bm), 0.0)
                     + coalesce(1.0 / (60 + c.r_cos), 0.0), 6) AS rrf
        FROM bm_rank b FULL OUTER JOIN cos_rank c USING (doc_id)
    )
    SELECT doc_id, r_bm, r_cos, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] hybrid retrieval fusion: BM25 lexical ranking (fixed query
    {spark, window, join}) + cosine ANN ranking (query = vec 0's
    embedding) fused by reciprocal-rank fusion 1/(60+r). Ranks are
    integers from rounded-score orderings with id tie-breaks, so the
    fused list is engine-deterministic end-to-end. Both rankings are
    window passes over score tables; the fusion is one full-outer join
    at doc grain."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "join"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split("text", r"\s+")).alias("term"),
        F.size(F.split("text", r"\s+")).alias("dl"),
    )
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.any_value("dl").alias("dl"), F.count(F.lit(1)).alias("tf"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", r"\s+"))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bm = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                        + 1.0
                    )
                    * F.col("tf")
                    * 2.2
                    / (
                        F.col("tf")
                        + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("bm25")
        )
    )
    bm_rank = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r_bm"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    qv = emb.filter(F.col("doc_id") == 0).select(F.col("v").alias("qv"))
    cos = (
        emb.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.round(
                F.aggregate(
                    F.zip_with("v", "qv", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (
                    F.sqrt(
                        F.aggregate(
                            "v", F.lit(0.0), lambda acc, x: acc + x * x
                        )
                    )
                    * F.sqrt(
                        F.aggregate(
                            "qv", F.lit(0.0), lambda acc, x: acc + x * x
                        )
                    )
                ),
                6,
            ).alias("c"),
        )
    )
    cos_rank = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("doc_id")))
        .alias("r_cos"),
    )
    fused = (
        bm_rank.join(cos_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_bm",
            "r_cos",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@query(
    "training_manifest",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 5 AND 100000
        AND (len(list_filter(string_split(text, ' '),
                             x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             / len(string_split(text, ' '))) >= 0.8
        AND (list_sum(list_transform(string_split(text, ' '),
                                     x -> len(x)))::DOUBLE
             / len(string_split(text, ' '))) BETWEEN 2 AND 12
    ),
    ded AS (
      SELECT * FROM (
        SELECT g.*, row_number() OVER (PARTITION BY sha256(text)
                                       ORDER BY doc_id) AS rn
        FROM g
      ) WHERE rn = 1
    ),
    b AS (
      SELECT doc_id, source = 'src0' AS is_t,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    raw AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS c_tgt FROM b WHERE is_t GROUP BY bucket),
    tot AS (SELECT (SELECT sum(c_raw) FROM raw) AS n_raw,
                   (SELECT sum(c_tgt) FROM tgt) AS n_tgt),
    dist AS (
      SELECT raw.bucket,
             ln((coalesce(c_tgt, 0) + 1)::DOUBLE / (n_tgt + 1024))
             - ln((c_raw + 1)::DOUBLE / (n_raw + 1024)) AS log_ratio
      FROM raw LEFT JOIN tgt USING (bucket), tot
    ),
    dsir AS (
      SELECT doc_id, round(sum(c * log_ratio), 4) AS lw, sum(c) AS ntok
      FROM (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2) bc
      JOIN dist USING (bucket) GROUP BY doc_id
    ),
    surv AS (
      SELECT d.doc_id, d.source, d.n_tokens
      FROM ded d JOIN dsir USING (doc_id)
      WHERE dsir.lw >= -0.5 * dsir.ntok
    ),
    keyed AS (
      SELECT *,
             ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1.0)
                / 4503599627370496.0) / n_tokens AS sk
      FROM surv
    ),
    sampled AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY sk DESC, doc_id) AS srn
        FROM keyed
      ) WHERE srn <= 10
    ),
    sq AS (
      SELECT source, doc_id, n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS prn
      FROM sampled
    ),
    packed AS (
      SELECT source, doc_id, n_tokens, prn, 0::BIGINT AS bin_id,
             n_tokens AS fill
      FROM sq WHERE prn = 1
      UNION ALL
      SELECT s.source, s.doc_id, s.n_tokens, s.prn,
             CASE WHEN p.fill + s.n_tokens <= 256
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + s.n_tokens <= 256
                  THEN p.fill + s.n_tokens ELSE s.n_tokens END
      FROM packed p JOIN sq s
        ON s.source = p.source AND s.prn = p.prn + 1
    )
    SELECT source, bin_id, doc_id, n_tokens::BIGINT AS n_tokens FROM packed
    """,
)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] END-TO-END training-data manifest, every stage this
    round's ops and every stage oracle-replayed: Gopher sub-rules
    (word-count, alpha-share, mean-word-length — the stopword rule is
    vacuous on the synthetic vocab) → exact dedup keep-min → DSIR
    importance gate → A-ES weighted sample
    (10 docs/source ∝ length) → greedy 256-token packing. The DSIR
    gate is PER-TOKEN (lw ≥ −0.5·n_tokens): the raw log-ratio sum
    scales with doc length and corpus size (−4.9..−49.5 at sf0.01), so
    the original absolute cut lw ≥ −1 selected 0 docs there and the
    whole manifest was empty — a vacuous pass. The per-token form is
    scale-free: 445/500, 354/500, 5000/5000 docs survive at
    sf0.001/0.01/0.1. The final
    manifest (source, bin, doc, tokens) is what a trainer's data
    loader consumes; the whole pipeline is deterministic, portable-
    hash-seeded, and hash-checked cross-engine."""
    from post_modern_stack_spark.operators.shaping import (
        pack_greedy,
        weighted_sample_per_group,
    )
    from post_modern_stack_spark.operators.textstats import _gopher_metrics

    docs = load_table(spark, sf_dir, "documents")
    m = _gopher_metrics("text")
    filtered = docs.filter(
        m["r_word_count"] & m["r_alpha"] & m["r_mean_word_len"]
    )
    deduped = textstats.exact_keep_min(filtered)
    lw = textstats.dsir_weights(
        docs, target_filter=F.col("source") == "src0"
    ).select("doc_id", "dsir_logratio", F.col("n_tokens").alias("__ntok"))
    surv = (
        deduped.join(lw, "doc_id")
        .filter(F.col("dsir_logratio") >= -0.5 * F.col("__ntok"))
        .select(
            "source",
            "doc_id",
            F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        )
    )
    sampled = weighted_sample_per_group(
        surv, k=10, weight_col="n_tokens"
    ).select("source", "doc_id", "n_tokens")
    return pack_greedy(sampled, budget=256).select(
        "source", "bin_id", "doc_id", "n_tokens"
    )


@query(
    "incremental_dedup_candidates",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
        WHERE i <= greatest(len(toks) - 2, 1)
    ),
    x AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
        FROM sh
    ),
    mins AS (
        SELECT doc_id, r.s,
               min(((1103515245 * (r.s + 1)) % 1000000007 * x
                    + (12345 * (r.s + 1) + 67890) % 1000000007)
                   % 1000000007) AS h
        FROM x, range(16) r(s)
        GROUP BY doc_id, r.s
    ),
    bands AS (
        SELECT doc_id, s // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS band_key
        FROM mins GROUP BY doc_id, s // 4
    )
    SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
           count(*)::BIGINT AS band_hits
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.band_key = c.band_key
    WHERE n.doc_id >= 150 AND c.doc_id < 150
    GROUP BY 1, 2
    """,
)
def q_incremental_dedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] incremental-ingest dedup: the NEW batch (doc_id ∈
    [150, 200)) LSH-banded against the EXISTING corpus (doc_id < 150)
    — cost follows the new batch's bucket collisions, never
    corpus², and the corpus-side banded signatures are exactly what a
    production table persists at ingest
    (dedup.minhash_lsh_candidates_cross, portable md5 family so the
    oracle replays the banding)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    new = d.filter(F.col("doc_id") >= 150)
    corpus = d.filter(F.col("doc_id") < 150)
    return dedup.minhash_lsh_candidates_cross(
        new, corpus, num_hashes=16, bands=4, hash_mode="md5"
    ).select("id_new", "id_corpus", F.col("band_hits").cast("long").alias("band_hits"))


@query(
    "bigram_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id,
             list_transform(range(0, len(w) - 1),
                            i -> w[i + 1] || ' ' || w[i + 2]) AS bigs
      FROM t
    ),
    tf AS (
      SELECT doc_id, unnest(bigs) AS big FROM bg
    ),
    dtf AS (
      SELECT doc_id, big, count(*) AS tf FROM tf GROUP BY doc_id, big
    ),
    cab AS (SELECT big, sum(tf) AS c_ab FROM dtf GROUP BY big),
    ca AS (
      SELECT string_split(big, ' ')[1] AS a, sum(c_ab) AS c_a
      FROM cab GROUP BY 1
    ),
    v AS (
      SELECT count(DISTINCT tok) AS vsz
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    p AS (
      SELECT cab.big,
             ln((cab.c_ab + 0.5) / (ca.c_a + 0.5 * v.vsz)) AS lp
      FROM cab JOIN ca ON string_split(cab.big, ' ')[1] = ca.a, v
    )
    SELECT d.doc_id,
           sum(d.tf)::BIGINT AS n_bigrams,
           round(sum(d.tf * p.lp) / sum(d.tf), 6) AS avg_logprob,
           round(exp(-sum(d.tf * p.lp) / sum(d.tf)), 4) AS perplexity
    FROM dtf d JOIN p USING (big)
    GROUP BY d.doc_id
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] bigram-LM perplexity scoring (the CCNet filter one order
    up from `unigram_logprob`): train add-0.5-smoothed p(b|a) on the
    corpus, score each doc's mean bigram log-prob + perplexity.
    Bigram facts collapse to (doc, bigram, tf) before any join; the
    conditional table c(a,·) derives from the BIGRAM counts (never a
    second corpus pass) and broadcasts with the vocab size. ``dtf``
    is consumed twice but NOT checkpointed — it is corpus-sized
    (one row per distinct (doc, bigram)), the grain class whose
    localCheckpoint OOM'd dsir_weights at 10M docs; two codegen'd
    bigram passes measured FASTER than checkpoint materialization
    (dsir 1M: 16.4 s two-pass vs 30 s checkpointed). Logic in
    textstats.bigram_perplexity (house style: catalog queries are
    thin wrappers over operators, so scale probes can measure them
    on synthetic corpora)."""
    return textstats.bigram_perplexity(load_table(spark, sf_dir, "documents"))


@query(
    "rowwise_scorer_check",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             list_sum(list_transform(string_split(text, ' '),
               t -> ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) % 7)
                    * 0.01 - 0.02))
             / len(string_split(text, ' ')) AS margin
      FROM documents
    )
    SELECT doc_id, round(1.0 / (1.0 + exp(-(margin + 0.1))), 6) AS p
    FROM m
    """,
)
def q_rowwise_scorer_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] cross-engine check of the row-wise scorer expression
    itself (inference.logreg_prob_expr): weights fixed to the
    arithmetic family w(b) = (b mod 7)·0.01 − 0.02 so the oracle
    replays hash → bucket → lookup → mean → sigmoid exactly. Trained
    weights ride the same expression (quality_classifier covers that
    path rows-only)."""
    from post_modern_stack_spark.operators.inference import logreg_prob_expr

    weights = [(b % 7) * 0.01 - 0.02 for b in range(256)]
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(logreg_prob_expr("text", weights, bias=0.1), 6).alias("p"),
    )


@query(
    "lsh_recall_report",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t) z
        WHERE i <= greatest(len(toks) - 2, 1)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    truth AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
              >= 0.5
    ),
    x AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
        FROM sh
    ),
    mins AS (
        SELECT doc_id, r.s,
               min(((1103515245 * (r.s + 1)) % 1000000007 * x
                    + (12345 * (r.s + 1) + 67890) % 1000000007)
                   % 1000000007) AS h
        FROM x, range(16) r(s)
        GROUP BY doc_id, r.s
    ),
    bands AS (
        SELECT doc_id, s // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS band_key
        FROM mins GROUP BY doc_id, s // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT
      (SELECT count(*) FROM truth)::BIGINT AS n_truth,
      (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
      (SELECT count(*) FROM truth JOIN cand USING (id_a, id_b))::BIGINT
        AS n_hit,
      round((SELECT count(*) FROM truth JOIN cand USING (id_a, id_b))::DOUBLE
            / nullif((SELECT count(*) FROM truth), 0), 6) AS recall,
      round((SELECT count(*) FROM truth JOIN cand USING (id_a, id_b))::DOUBLE
            / nullif((SELECT count(*) FROM cand), 0), 6) AS precision
    """,
)
def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] dedup-quality self-measurement: the portable MinHash-LSH
    candidate set scored against exact-Jaccard ground truth —
    TP/recall/precision in one row. Both sides are deterministic md5
    arithmetic, so even the QUALITY REPORT is oracle-replayable; this
    is the tuning dial (bands × rows/band) read before committing an
    LSH config at corpus scale."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PAIR_LIMIT)
    truth = dedup.jaccard_pairs(d, min_jaccard=0.5).select("id_a", "id_b")
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_mode="md5"
    ).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 6
            ).alias("precision"),
        )
    )


@query(
    "sql_lateral_explode",
    oracle="""
    SELECT doc_id, tok, count(*)::BIGINT AS n
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE tok LIKE 'a%'
    GROUP BY doc_id, tok
    """,
)
def q_sql_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode through the pure-SQL surface (the HiveQL
    construct dbt models use for array flattening) — the DataFrame
    catalog everywhere else uses F.explode; this registers the SQL
    spelling against the same semantics. Generate + filter pushed
    below the aggregate."""
    from post_modern_stack_spark.registry import register_views

    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT doc_id, tok, count(*) AS n
        FROM documents
        LATERAL VIEW explode(split(text, '\\\\s+')) t AS tok
        WHERE tok LIKE 'a%'
        GROUP BY doc_id, tok
        """
    )
