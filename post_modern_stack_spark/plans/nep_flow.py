"""The NEP (next-event-prediction) pipeline — full reference-flow parity
(reference src/my_dbt_flow.py: start → run_transformation → get_dataset
→ [train/test/deploy are out of engine scope, SURVEY.md §2 non-goals]).

One SparkSession, five parquet-checkpointed stages, each computed once:
- ``session_events``: ingest → transform (model registry:
  events_exploded → session_events); the dbt tests run once over the
  artifact and are stored in its sidecar;
- ``extracted``: extract(start, end, api_key);
- ``vocab``: split (90/10 by time) → the train-x vocabulary (the
  reference's tokenizer artifact);
- ``dataset``: one keyed encode of each session → x/y ids → pad; the
  metrics are observed during its write;
- ``metrics``: the observed values as (name, value) rows.

A resume reads complete stages back and replays the row counts,
observed metrics and dbt-test result from their sidecars.

The engine stops at the padded-int-array boundary where
``toPandas()``/Arrow hands off to any ML library (the reference's
train_model equivalent consumes exactly this shape,
my_dbt_flow.py:318-340).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import (
    last_element,
    pad_sequence,
    slice_drop_last,
)
from post_modern_stack_spark.operators import metrics as M
from post_modern_stack_spark.operators import shaping, vocab
from post_modern_stack_spark.operators.sessionize import (
    events_exploded,
    session_events,
)
from post_modern_stack_spark.plans.pipeline import (
    ModelRegistry,
    PipelineRunner,
    validate_start,
)

MAX_LEN = 20  # reference my_dbt_flow.py:308


def build_registry() -> ModelRegistry:
    """The two-model dbt DAG (reference src/dbt/models/metaflow/)."""
    reg = ModelRegistry()

    @reg.register("events_exploded")
    def _m1(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
        return events_exploded(t["raw_events"])

    @reg.register("session_events", deps=["events_exploded"])
    def _m2(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
        return session_events(t["events_exploded"])

    return reg


def extract_training_set(
    sessions: DataFrame,
    api_key: str,
    start_date: str,
    end_date: str,
    min_len: int = 3,
) -> DataFrame:
    """Parameterized training-set extraction (reference
    my_dbt_flow.py:234-252): tenant filter, half-open date window,
    ARRAY_SIZE > 2. Unordered: the reference sorts by session_date
    ("sessions are ordered!") for its index-based split, and
    ``shaping.split_by_time`` orders by (session_date, session_id)
    itself.
    """
    return (
        sessions.filter(F.col("api_key") == F.lit(api_key))
        .filter(
            (F.col("session_date") > F.lit(start_date).cast("date"))
            & (F.col("session_date") <= F.lit(end_date).cast("date"))
        )
        .filter(F.size("interactions") >= min_len)
    )


def run_nep_flow(
    spark: SparkSession,
    raw_events: DataFrame,
    run_dir: str,
    run_id: str,
    api_key: str,
    start_date: str,
    end_date: str,
    resume: bool = False,
) -> dict:
    """Execute the full flow; returns stage artifacts + metric rows.

    ``resume=True`` (Metaflow ``resume`` parity): stages whose
    checkpoint is already complete under this run_id are read back
    instead of recomputed — see ``PipelineRunner``."""
    # start (I2): fail-fast validation + engine probe
    info = validate_start(spark, [], start_date, end_date)

    runner = PipelineRunner(spark, run_dir, run_id, resume=resume)
    reg = build_registry()
    runner.write_manifest(reg.manifest())

    # run_transformation (dbt-run parity): build models as views
    built = reg.run(spark, {"raw_events": raw_events})
    sessions = runner.checkpoint("session_events", built["session_events"])

    # dbt test parity: unique + not_null on the session key must hold;
    # run once over the artifact and replayed from its sidecar on resume
    quality = runner.check(
        "session_events",
        lambda: M.data_quality_checks(sessions, "session_id").first().asDict(),
    )
    assert quality["session_id_duplicates"] == 0, "dbt test: unique SESSION_ID"
    assert quality["session_id_nulls"] == 0, "dbt test: not_null SESSION_ID"

    # get_dataset: extract → split → x/y → vocab → encode → pad
    extracted = runner.checkpoint(
        "extracted", extract_training_set(sessions, api_key, start_date, end_date)
    )
    # row count observed by the checkpoint write (or replayed on resume)
    assert runner.results[-1].rows > 0, "empty dataset (reference my_dbt_flow.py:255)"

    split = shaping.split_by_time(extracted, ["session_date", "session_id"])
    shaped = shaping.xy_pairs(split, "interactions")

    # the tokenizer artifact: fit on train inputs only (reference fits
    # the tokenizer on x_train); its row count is the vocab size
    vb = runner.checkpoint(
        "vocab", vocab.build_vocab(shaped.filter(F.col("split") == "train"), "x")
    )
    vocab_size = runner.results[-1].rows

    # ONE encode of the whole session, joined back on the unique
    # session_id (the dbt test above), then sliced: x_enc is all but the
    # last id and y_enc the last (UNK for an empty session). The vocab
    # never reaches the driver (a SKU-catalog map literal costs seconds,
    # vocab.encode).
    enc = vocab.encode_via_join(
        shaped, vb, "interactions", "_enc", keys=["session_id"]
    )
    encoded = (
        enc.select(
            "y",
            "session_id",
            "api_key",
            "session_date",
            "interactions",
            "split",
            "x",
            slice_drop_last("_enc").alias("x_enc"),
            F.coalesce(last_element("_enc"), F.lit(vocab.UNK_ID)).alias("y_enc"),
        )
        # label = token_id - 1 (the reference's off-by-one trap,
        # my_dbt_flow.py:339-340 — SURVEY.md §7 watch-list 5)
        .withColumn("y_label", F.col("y_enc") - 1)
        .withColumn("x_padded", pad_sequence("x_enc", MAX_LEN, 0))
    )
    # test_model analog: the metrics ride the dataset write as observed
    # aggregates (no re-scan of the dataset)
    runner.checkpoint(
        "dataset",
        encoded,
        avg_session_len=F.round(F.avg(F.size("interactions")), 4),
        n_train=F.count(F.when(F.col("split") == "train", 1)),
        n_test=F.count(F.when(F.col("split") == "test", 1)),
    )
    ds = runner.results[-1]
    metrics = {
        "n_sessions": float(ds.rows),
        **{k: float(ds.observed[k]) for k in ("avg_session_len", "n_train", "n_test")},
        "vocab_size": float(vocab_size),
    }
    # (name, value) rows from literals: writing a createDataFrame of
    # Python rows costs ~1 s more on a cold JVM
    row = spark.range(0, 1, 1, 1).select(
        *[F.lit(v).alias(k) for k, v in metrics.items()]
    )
    stored = runner.checkpoint(
        "metrics", row.unpivot([], list(metrics), "name", "value")
    )
    if runner.results[-1].resumed:
        # a resume returns the persisted artifact (Metaflow artifact parity)
        metrics = {r["name"]: r["value"] for r in stored.collect()}

    return {
        "info": info,
        "run_dir": runner.base,
        "stages": [r.name for r in runner.results],
        "stage_rows": {r.name: r.rows for r in runner.results},
        "resumed_stages": [r.name for r in runner.results if r.resumed],
        "manifest": reg.manifest(),
        "metrics": metrics,
    }
