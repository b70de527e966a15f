"""Vocabulary build / encode / decode — Keras Tokenizer semantics as
dataflow (SURVEY.md §2 F1-F3; reference src/my_dbt_flow.py:323-340).

Keras ``Tokenizer(filters='', lower=False, oov_token='<UNK>')``:
- ``fit_on_texts``: word_index ordered by frequency desc, ids from 1,
  with the OOV token at id 1 and real tokens from 2 (Keras inserts the
  oov_token first). The reference then uses ``label = token_id - 1``
  (my_dbt_flow.py:339-340) — preserved by callers, not here.
- tie-break: Keras uses insertion order on equal counts, which is
  nondeterministic under distribution; we define (freq desc, token asc)
  as the canonical deterministic tie-break (SURVEY.md §7 watch-list 5)
  and use it on both engine and oracle sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.operators.obs import checkpoint_observed

UNK = "<UNK>"
UNK_ID = 1


def build_vocab(
    df: DataFrame, arr_col: str = "interactions", start_id: int = 2
) -> DataFrame:
    """F1: frequency-ranked token index → (token, freq, token_id).

    Single explode + hash-agg; ranking window runs over the (small)
    distinct-token set, not the corpus. At 100 TB the token set is the
    SKU/word catalog — several orders smaller than the data; if even
    that skews, rank via repartition-by-range instead.
    """
    counts = (
        df.select(F.explode(arr_col).alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return counts.withColumn("token_id", F.row_number().over(w) + (start_id - 1))


def map_literal(pairs) -> F.Column:
    """(token, token_id) rows → ONE parsed ``map<string,int>`` literal.

    ``create_map`` over per-entry ``F.lit`` columns costs two py4j
    round trips per vocab entry — ~0.5 s of pure driver build time at a
    1k-token vocab (the r11 §7 driver-build class). Emitting the whole
    map as a single SQL string parses in one call and yields the same
    literal map. Tokens are escaped as SQL string literals (backslash
    escaping, pinned by test against the create_map route)."""
    if not pairs:
        return F.expr("map()")
    items = ",".join(
        "'%s',%d"
        % (
            str(r["token"]).replace("\\", "\\\\").replace("'", "\\'"),
            int(r["token_id"]),
        )
        for r in pairs
    )
    return F.expr(f"map({items})")


def encode(
    df: DataFrame,
    vocab: DataFrame,
    arr_col: str = "interactions",
    out_col: str = "encoded",
    pairs=None,
) -> DataFrame:
    """F2: token arrays → id arrays, OOV → UNK_ID — for SMALL vocabs.

    Map-literal lookup: the vocab is collected to the driver (one job)
    into a ``map<string,int>`` literal applied with ``transform`` —
    zero shuffles on the session side. Both halves grow with the vocab:
    ``element_at`` scans the map linearly for every token, and the
    literal (two children per entry) is parsed and analysed on the
    driver for every plan that uses it. Over 750k tokens on 4 cores
    (warm session) this takes 0.8 s at a 100-token vocab, where
    :func:`encode_via_join` takes 1.9 s, but 61 s (4.0 s of it driver
    build) at 20k tokens, where the join takes 1.7 s. Large vocabs (a
    SKU catalog) use :func:`encode_via_join`, as
    ``nep_flow.run_nep_flow`` does.

    The lookup is row-local, so it needs no row keys: duplicate rows,
    empty and NULL arrays pass through as they are. (The join path
    re-collects arrays and must join them back, which is why it takes
    unique ``keys`` or assigns a synthetic id once.)

    ``pairs`` (r11): a caller that already collected the vocab rows
    (e.g. to size the model's class count) passes them here and skips
    this function's own collect — one vocab-plan execution instead of
    two (the vocab plan re-runs its explode+agg+window per action).
    """
    if pairs is None:
        pairs = vocab.select("token", "token_id").collect()
    mapping = map_literal(pairs)
    return df.withColumn(
        out_col,
        F.transform(
            F.col(arr_col),
            lambda t: F.coalesce(
                F.element_at(mapping, t), F.lit(UNK_ID)
            ).cast("int"),
        ),
    )


def encode_via_join(
    df: DataFrame,
    vocab: DataFrame,
    arr_col: str = "interactions",
    out_col: str = "encoded",
    keys: list[str] | None = None,
) -> DataFrame:
    """F2 scale path for vocabularies too large to collect into a map
    literal: posexplode tokens (keeping positions), broadcast-join the
    vocab, re-assemble arrays ordered by position, and join them back to
    ``df``'s rows. Each token maps as :func:`encode` maps it (the parity
    tests pin this); ``out_col`` is appended after ``df``'s columns.

    Costs one shuffle on the row keys (the re-collect), but no driver
    collect and a plan whose size does not depend on the vocab; use
    :func:`encode` (zero-shuffle map lookup) only for small vocabs.

    ``keys``: columns that are unique and non-NULL over ``df`` (a
    primary key). The arrays are re-collected on them and joined back
    lazily; rows sharing a key would merge their token arrays, and a
    NULL-key row would be dropped. Without ``keys``, a synthetic row id
    carries the rows, and it is assigned ONCE, on a materialized copy of
    ``df`` (one eager job): ``monotonically_increasing_id`` depends on
    the partitioning of the plan it sits in, and Catalyst prunes
    different operators (an upstream Window, say) from the explode side
    and the join-back side, so ids assigned lazily in both branches stop
    agreeing once ``df`` spans more than one partition. Empty and NULL
    arrays survive either way (``posexplode_outer`` keeps them as a
    NULL-position row).
    """
    if keys:
        rows = df
    else:
        keys = ["_row_id"]
        rows = df.withColumn(
            "_row_id", F.monotonically_increasing_id()
        ).localCheckpoint()
    exploded = rows.select(*keys, F.posexplode_outer(arr_col).alias("_pos", "token"))
    joined = exploded.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    )
    encoded = joined.withColumn(
        "_id",
        F.when(
            F.col("_pos").isNotNull(),
            F.coalesce(F.col("token_id"), F.lit(UNK_ID)),
        ).cast("int"),
    )
    from post_modern_stack_spark.functions import ordered_collect

    collected = encoded.groupBy(*keys).agg(
        F.filter(
            ordered_collect(
                F.struct(F.col("_pos").alias("p"), F.col("_id").alias("i")), "_pos"
            ),
            lambda s: s.getField("p").isNotNull(),
        ).alias("_enc_structs")
    )
    return rows.join(collected, keys).select(
        *[c for c in df.columns if c != out_col],
        F.transform("_enc_structs", lambda s: s.getField("i")).alias(out_col),
    )


def decode(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    out_col: str = "token",
) -> DataFrame:
    """F3: id → token via broadcast join (reference lstm_model.py:40)."""
    inv = vocab.select(
        F.col("token_id").alias(id_col), F.col("token").alias(out_col)
    )
    return df.join(F.broadcast(inv), id_col, "left")


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    checkpoint_interval: int = 4,
    driver_merge_threshold: int = 200_000,
):
    """[EXT] distributed BPE merge training (Sennrich'16): learn the
    merge table a subword tokenizer is built from.

    The classic algorithm trains on the WORD-FREQUENCY table, not the
    corpus — so the distributed state is (word, count, symbols[]), one
    row per distinct word (the explode+agg happens once; at 100 TB the
    word table is millions of rows, not trillions). Each merge
    iteration is: explode adjacent symbol pairs weighted by word count
    → one hash agg → collect the single best pair (deterministic
    (count, pair) tie-break) → rewrite symbol arrays with a greedy
    left-to-right fold. Iteration cost is one shuffle over the word
    table regardless of corpus size; only the 1-row winner crosses to
    the driver (the logreg/Lloyd iterative pattern). Lineage is
    truncated every ``checkpoint_interval`` merges, not every merge
    (the pagerank discipline): each checkpoint is a real
    materialization job on the word table, and between checkpoints
    the state plan only deepens by one aggregate-fold projection per
    merge — 8 merges at interval 4 run 10 jobs instead of 16,
    measured ~25% off the catalog query at sf0.1.

    When the distinct-word table is small (``driver_merge_threshold``
    rows, known for free from the checkpoint), the merge loop runs
    DRIVER-SIDE on the collected (word, count) table instead — the
    shape every published BPE trainer uses: word counting is the only
    corpus-scale stage; the merge loop's state is vocabulary-sized and
    a per-merge cluster roundtrip (job scheduling + 1-row collect,
    ~0.4 s each on this host) dwarfs the actual work. Both paths pick
    the winner by the identical (count, left, right) max ordering —
    Python str and Spark UTF8String compare identically because UTF-8
    byte order preserves code-point order — and apply the identical
    greedy no-remerge fold, pinned by the reference-parity test. The
    distributed loop remains the fallback for open-web vocabularies
    that outgrow the driver.

    Returns (merges, vocab_df): merges = [(rank, left, right, count)],
    vocab_df = (word, count, symbols) after all merges.
    """
    # word-table row count rides the checkpoint materialization as an
    # observe metric (r12, the §7 pattern): the driver-vs-distributed
    # routing needs only this scalar, and a separate count() job was
    # one of this query's 7 jobs — pure scheduler-overhead surface on
    # a 2-job query.
    words, m = checkpoint_observed(
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", F.split("w", "").alias("syms"))
        # the word table is vocabulary-sized (tiny next to the corpus);
        # collapse to a few partitions so the 8 iteration jobs pay task
        # overhead on 4 tasks, not the corpus partitioning
        .coalesce(4),
        n=F.count(F.lit(1)),
    )
    if m["n"] <= driver_merge_threshold:
        return _bpe_train_driver(words, n_merges)
    merges = []
    state = words
    for rank in range(n_merges):
        pairs = state.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best_rows = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .agg(
                F.max_by(
                    F.struct(F.col("p.l"), F.col("p.r"), F.col("n")),
                    F.struct(F.col("n"), F.col("p.l"), F.col("p.r")),
                ).alias("best")
            )
            .collect()
        )
        if not best_rows or best_rows[0]["best"] is None:
            break
        left, right, n = (
            best_rows[0]["best"]["l"],
            best_rows[0]["best"]["r"],
            best_rows[0]["best"]["n"],
        )
        merges.append((rank, left, right, int(n)))
        state = state.select(
            "w", "cnt", _apply_merge("syms", left, right).alias("syms")
        )
        if (rank + 1) % checkpoint_interval == 0:
            state = state.localCheckpoint()
    return merges, state


def _bpe_train_driver(words: DataFrame, n_merges: int):
    """Driver-side merge loop over the collected vocabulary-sized word
    table — semantics identical to the distributed loop in
    ``bpe_train`` (same (count, l, r) winner ordering, same greedy
    no-remerge fold as ``_apply_merge``); only the execution site
    differs. n_merges is small here, so each round recounts pairs in
    one pass rather than maintaining the incremental pair-index a
    10k-merge production trainer would."""
    vocab = [
        (r["w"], int(r["cnt"]), list(r["syms"])) for r in words.collect()
    ]
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for _, cnt, syms in vocab:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (left, right), n = max(
            counts.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, int(n)))
        merged = left + right
        for i, (w, cnt, syms) in enumerate(vocab):
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            vocab[i] = (w, cnt, out)
    state = words.sparkSession.createDataFrame(
        vocab, "w string, cnt long, syms array<string>"
    )
    return merges, state


def _apply_merge(syms_col, left: str, right: str):
    """Greedy left-to-right application of ONE merge to a symbol
    array: fold symbols, replacing each (left, right) adjacency with
    the joined symbol; a just-merged symbol is NOT re-merged with the
    next one (the acc tail check sees the merged token, matching the
    reference algorithm — ``a a a`` under merge (a,a) → ``aa a``)."""
    la, lb = F.lit(left), F.lit(right)
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, lb)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] apply a trained BPE merge table to the corpus — the
    token-budget denominator computed with the ACTUAL tokenizer
    instead of the whitespace proxy (Sennrich'16 encode half; pairs
    with ``bpe_train``).

    Scale shape: merges are applied on the DISTINCT-WORD table (vocab-
    sized — millions of rows at 100 TB, not trillions), then the
    word → token-count map broadcast-joins back to the corpus word
    occurrences; the corpus-grain pass is one explode + one hash agg.
    Each merge is one chained ``F.aggregate`` fold — the exact
    expression ``bpe_train`` rewrites state with, so train→encode
    round-trips bit-identically. Right for the small merge tables the
    catalog trains: expression depth grows with the merge count, so a
    real 30k-merge tokenizer would need a per-word loop instead.

    Returns (id, n_words, n_bpe_tokens, fertility) per document.
    """
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    words = toks.select("w").distinct().coalesce(4)

    syms = F.split("w", "")
    for rank, left, right, *_ in merges:
        syms = _apply_merge(syms, left, right)
    encoded = words.select("w", F.size(syms).cast("int").alias("w_tokens"))

    return (
        toks.join(F.broadcast(encoded), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias(
                "fertility"
            ),
        )
    )
