"""The ML hand-off boundary (SURVEY.md §2 E2 + non-goals note: "the
engine stops at the padded-int-arrays boundary, where toPandas()/
predict_batch_udf hands off to any ML library").

``batched_top_k_predict`` reproduces the reference's inference dataflow
(reference src/model/lstm_model.py:28-41: batched ``model.predict`` over
128-session chunks, then ``np.argsort(probs)[:, -k:][:, ::-1]``) as an
Arrow-batched pandas UDF. The model itself is pluggable — any callable
``(np.ndarray[batch, maxlen]) -> np.ndarray[batch, n_classes]``; tests
use a deterministic fake. A real Keras/Torch model drops in unchanged
(load it lazily inside the UDF so each executor materializes it once).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batched_top_k_predict(
    dataset: DataFrame,
    model_fn: Callable,
    x_col: str = "x_padded",
    k: int = 10,
    out_col: str = "preds",
) -> DataFrame:
    """Top-K class predictions per row, Arrow-batched.

    Output ids follow the reference's decode convention (token space =
    class index + 1, the −1 label offset inverse; reference
    lstm_model.py:40 ``index_word[i + 1]``).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def predict(x: pd.Series) -> pd.Series:
        mat = np.vstack(x.to_numpy())  # (batch, maxlen)
        probs = model_fn(mat)  # (batch, n_classes)
        # argsort[:, -k:][:, ::-1] — exactly the reference idiom
        top = np.argsort(probs, axis=1)[:, -k:][:, ::-1]
        return pd.Series([(row + 1).astype("int32").tolist() for row in top])

    return dataset.withColumn(out_col, predict(F.col(x_col)))


def rank_popularity_model(n_classes: int) -> Callable:
    """TRUE-popularity baseline: class score = negative frequency rank.

    Vocab ids are frequency-ranked (F1: id 2 = most frequent token),
    and model class c ↔ token id c+1 (the −1 label offset), so scoring
    class c as ``n_classes − c`` makes the top-K prediction exactly
    the K most popular real tokens — ids [2..K+1] in token space.
    Class 0 (↔ UNK) scores below everything: a popularity baseline
    never predicts OOV. No RNG anywhere, so the whole inference loop
    is engine-replayable: the oracle twin reduces HitRate@K to
    ``y_enc BETWEEN 2 AND K+1``."""
    import numpy as np

    scores = np.arange(n_classes, 0.0, -1.0)
    scores[0] = -1.0

    def fn(batch):
        return np.tile(scores, (batch.shape[0], 1))

    return fn


def hashed_text_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
) -> DataFrame:
    """Sparse hashed bag-of-words features: (id, bucket, x) with x =
    the token count L1-normalized per doc (fasttext-style averaging).
    The md5 bucket map keeps the featurizer engine-portable; storage
    is sparse triples, never a dense vector column."""
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % F.lit(n_features),
    )
    from pyspark.sql import Window

    # normalize over a window on the AGGREGATED counts — a totals agg
    # straight off `toks` would recompute the explode+md5 pass a
    # second time (measured 2× featurizer cost), and a join would add
    # a third exchange
    counts = toks.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").over(Window.partitionBy(id_col))
    return counts.select(id_col, "bucket", (F.col("c") / n).alias("x"))


def packed_text_features(
    df: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
) -> DataFrame:
    """Fused featurize+pack (r11 optimization round): the
    ``(id, y, fx: array<struct<bucket,x>>)`` grain ``train_logreg``
    iterates over, built in TWO keyed exchanges instead of the four the
    ``hashed_text_features``→checkpoint→pack route paid:

      explode(tokens) → groupBy(id, bucket) count          (exchange 1)
      → groupBy(id) collect_list + sum(c)                  (exchange 2)
      → x = c / Σc folded INSIDE the packed array (transform), so the
        per-doc L1 normalization needs no window pass at all
      → right-join labels (broadcast-eligible).

    Values are identical to the unfused route: Σc is an exact long sum,
    x = c/Σc the same float division, and the array order is
    collect_list order in both forms. The caller localCheckpoints (the
    trainer re-reads this per iteration) and scores with
    ``score_logreg_packed`` — the corpus is featurized exactly once.
    """
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % F.lit(n_features),
    )
    counts = toks.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("c"))
    packed = (
        counts.groupBy(id_col)
        .agg(
            F.collect_list(F.struct("bucket", "c")).alias("fc"),
            F.sum("c").alias("n"),
        )
        .select(
            id_col,
            F.transform(
                "fc",
                lambda s: F.struct(
                    s["bucket"].alias("bucket"),
                    (s["c"] / F.col("n")).alias("x"),
                ),
            ).alias("fx"),
        )
        .join(labels, id_col, "right")
        .select(
            id_col,
            "y",
            F.coalesce(
                "fx", F.array().cast("array<struct<bucket:long,x:double>>")
            ).alias("fx"),
        )
    )
    return packed


def _weights_array_sql(weights) -> str:
    """SQL literal array for a weight vector — one catalyst parse
    instead of ``n_features`` py4j ``F.lit`` round trips per GD
    iteration. ``repr(float)`` emits the shortest round-tripping
    decimal and Java's ``Double.parseDouble`` is correctly rounded, so
    the parsed literals are bit-identical to the ``F.lit`` route.

    Non-finite weights (a diverged GD run overflowing exp) must emit
    the STRING cast forms — ``repr`` yields ``inf``/``nan``, which the
    SQL parser rejects as identifiers, where ``F.lit`` used to produce
    the double quietly (ADVICE r11); ``CAST('NaN' AS DOUBLE)`` parses
    to the identical IEEE values."""
    import math

    import numpy as np

    def lit(v: float) -> str:
        if math.isfinite(v):
            return f"CAST({v!r} AS DOUBLE)"
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"

    vals = ",".join(lit(float(v)) for v in np.asarray(weights))
    return f"array({vals})"


def margin_expr_packed(weights) -> F.Column:
    """Sparse-dot-product margin over the packed ``fx`` column as ONE
    parsed expression: aggregate(fx, 0.0, (acc, s) -> acc + s.x *
    element_at(warr, s.bucket + 1))."""
    return F.expr(
        "aggregate(fx, CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.x * "
        f"element_at({_weights_array_sql(weights)}, "
        "CAST(s.bucket AS INT) + 1))"
    )


def score_logreg_packed(
    packed: DataFrame, weights, bias: float, id_col: str = "doc_id"
) -> DataFrame:
    """Scoring over the packed grain: sigmoid of the in-array sparse
    dot product — NO shuffle at all (contrast ``score_logreg``, which
    re-aggregates the (id, bucket, x) triples per doc). Emits
    (id, y, p) so the caller needs no labels re-join."""
    return packed.select(
        id_col,
        "y",
        (
            1.0 / (1.0 + F.exp(-(margin_expr_packed(weights) + float(bias))))
        ).alias("p"),
    )


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    n_features: int = 256,
    n_iter: int = 30,
    lr: float = 2.0,
    id_col: str = "doc_id",
    packed: DataFrame | None = None,
):
    """[EXT] model-based quality filtering, training half: logistic
    regression by full-batch gradient descent where EVERY data-touching
    step is a DataFrame aggregation — the GPT-3/fasttext-style quality
    classifier trained without any ML library.

    Features are PACKED once — one groupBy(id) + labels join up front,
    localCheckpoint-ed as (id, y, fx: array<struct<bucket,x>>) — so
    each iteration is a SINGLE job with a SINGLE shuffle: weights
    enter the plan as a literal ``n_features`` array, the margin is an
    ``F.aggregate`` over the packed sparse pairs (no shuffle — the
    doc-grain agg happened once at pack time), and the gradient is an
    explode → hash agg over ``n_features + 1`` bucket keys (map-side
    combine makes the exchange ~nothing; bucket −1 carries the bias
    gradient so grad + bias land in one collect). This is the
    PageRank/Lloyd iterative pattern — model state driver-side and
    tiny (one 256-float vector), data distributed and untouched. The
    earlier unpacked form paid 3 shuffles + two 512-literal map plans
    per iteration; packing measured ~2.3× faster end-to-end on the
    sf0.1 catalog query.

    Corpus-scale contract: quality classifiers are TRAINED on a
    bounded labeled sample (GPT-3's filter: ~10⁵–10⁶ docs) and only
    SCORED over the full corpus — pass sampled feats here (measured
    ~25 s/iteration over 1 M-doc feats on local[32]; sample before
    featurizing), then ``score_logreg`` streams the whole corpus in
    one shuffle-light pass.

    Returns (weights ndarray [n_features], bias float).
    """
    import numpy as np

    # Pack ONCE: (id, y, fx) — the doc-grain shuffle and the labels
    # join leave the loop entirely. Docs with no surviving features
    # get an empty array (margin 0, bias-only gradient), matching a
    # left-join + na.fill(0) on the unpacked form. A caller that
    # already holds the packed grain (``packed_text_features`` +
    # its own checkpoint) passes it via ``packed`` and skips this
    # pack + checkpoint entirely (r11).
    if packed is None:
        packed = (
            feats.groupBy(id_col)
            .agg(F.collect_list(F.struct("bucket", "x")).alias("fx"))
            .join(labels, id_col, "right")
            .select(
                id_col,
                "y",
                F.coalesce(
                    "fx", F.array().cast("array<struct<bucket:long,x:double>>")
                ).alias("fx"),
            )
            .localCheckpoint()
        )
    n_docs = packed.count()  # also materializes the checkpoint

    w = np.zeros(n_features)
    b = 0.0
    for _ in range(n_iter):
        # one parsed expression per iteration (r11): the n_features
        # F.lit calls + lambda chain cost ~0.3 s of py4j driver time
        # per iteration at ANY data size; the parsed literal array is
        # bit-identical (see _weights_array_sql)
        margin = margin_expr_packed(w)
        resid = packed.select(
            "fx",
            (1.0 / (1.0 + F.exp(-(margin + b))) - F.col("y")).alias("r"),
        )
        # bucket −1 carries the bias gradient so grad + bias land in
        # one collect → one job, one (n_features+1)-key shuffle
        contrib = resid.select(
            F.explode(
                F.concat(
                    F.transform(
                        "fx",
                        lambda s: F.struct(
                            s["bucket"].alias("bucket"),
                            (s["x"] * F.col("r")).alias("gx"),
                        ),
                    ),
                    F.array(
                        F.struct(
                            F.lit(-1).cast("long").alias("bucket"),
                            F.col("r").alias("gx"),
                        )
                    ),
                )
            ).alias("e")
        ).select("e.bucket", "e.gx")
        g = np.zeros(n_features)
        g_b = 0.0
        for row in contrib.groupBy("bucket").agg(F.sum("gx").alias("g")).collect():
            if row["bucket"] == -1:
                g_b = row["g"]
            else:
                g[row["bucket"]] = row["g"]
        w -= lr * g / n_docs
        b -= lr * g_b / n_docs
    return w, b


def score_logreg(
    feats: DataFrame,
    weights,
    bias: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Scoring half over SPARSE FEATURES: weights as a literal map
    expression + one doc-grain agg → sigmoid probability per doc.
    For streams use ``logreg_prob_expr`` (no agg, no shuffle)."""
    from itertools import chain

    import numpy as np

    wmap = F.create_map(
        *chain.from_iterable(
            (F.lit(int(i)), F.lit(float(v)))
            for i, v in enumerate(np.asarray(weights))
        )
    )
    return (
        feats.withColumn("w", F.element_at(wmap, F.col("bucket").cast("int")))
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("m"))
        .select(
            id_col,
            (1.0 / (1.0 + F.exp(-(F.col("m") + float(bias))))).alias("p"),
        )
    )


def logreg_prob_expr(
    text_col: str,
    weights,
    bias: float,
    n_features: int = 256,
) -> F.Column:
    """The sigmoid probability as one Column expression — the form a
    streaming gate composes into its projection
    (streaming/curation_stream.quality_gate)."""
    from itertools import chain

    import numpy as np

    wmap = F.create_map(
        *chain.from_iterable(
            (F.lit(int(i)), F.lit(float(v)))
            for i, v in enumerate(np.asarray(weights))
        )
    )
    toks = F.split(F.col(text_col), r"\s+")
    lookups = F.transform(
        toks,
        lambda t: F.element_at(
            wmap,
            (
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                % F.lit(n_features)
            ).cast("int"),
        ),
    )
    margin = (
        F.aggregate(lookups, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(toks)
    )
    return 1.0 / (1.0 + F.exp(-(margin + float(bias))))
