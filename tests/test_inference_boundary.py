"""ML-boundary tests: encode_via_join parity with the map-literal
encode, and the batched top-K predict UDF evaluated through HitRate@K.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from post_modern_stack_spark.operators import inference, metrics, vocab


@pytest.fixture(scope="module")
def sessions(spark):
    rows = [
        Row(sid=1, interactions=["a", "b", "a", "c"]),
        Row(sid=2, interactions=["b", "c"]),
        Row(sid=3, interactions=["a", "zzz"]),  # OOV in encode stage
    ]
    return spark.createDataFrame(rows)


def test_encode_via_join_matches_map_encode(spark, sessions):
    vb = vocab.build_vocab(sessions, "interactions")
    via_map = {
        r["sid"]: r["encoded"]
        for r in vocab.encode(sessions, vb, "interactions").collect()
    }
    via_join = {
        r["sid"]: r["encoded"]
        for r in vocab.encode_via_join(
            sessions, vb, "interactions", keys=["sid"]
        ).collect()
    }
    assert via_join == via_map


def test_batched_topk_predict_and_hitrate(spark, sessions):
    n_classes = 10
    model = inference.rank_popularity_model(n_classes)
    ds = sessions.select(
        "sid",
        F.transform(
            "interactions", lambda t: F.ascii(t) % n_classes
        ).alias("x_padded"),
        (F.ascii(F.element_at("interactions", -1)) % n_classes + 1).alias("y"),
    )
    pred = inference.batched_top_k_predict(ds, model, k=3)
    rows = pred.collect()
    assert all(len(r["preds"]) == 3 for r in rows)
    # deterministic model → identical preds on every row, ids in 1..n
    assert len({tuple(r["preds"]) for r in rows}) == 1
    assert all(1 <= p <= n_classes for r in rows for p in r["preds"])
    # the 3 most popular real tokens, never UNK (id 1)
    assert rows[0]["preds"] == [2, 3, 4]
    # the metric plumbing consumes the prediction frame directly
    hr = metrics.hit_rate_at_k(pred, "y", "preds").collect()[0]["hit_rate"]
    assert 0.0 <= hr <= 1.0
