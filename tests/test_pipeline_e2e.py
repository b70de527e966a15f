"""End-to-end pipeline test on a reference-shaped fixture
(SURVEY.md §5 strategies 3-4): ingest → explode → sessionize → extract
→ split → encode, asserting the A7 ordering contract exactly plus the
sessionization invariants.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from post_modern_stack_spark.functions import json_get, normalize_sku, pad_sequence
from post_modern_stack_spark.operators import vocab
from post_modern_stack_spark.operators.sessionize import (
    events_exploded,
    latest_etl,
    session_events,
)
from post_modern_stack_spark.plans.nep_flow import MAX_LEN, run_nep_flow
from post_modern_stack_spark.sources import ingest

API_A = "aaaaaaaa-0000-0000-0000-000000000000"
API_B = "bbbbbbbb-0000-0000-0000-000000000000"

BASE_MS = 1_547_528_000_000  # 2019-01-15ish, matching reference date era
DAY_MS = 86_400_000
FLOW_KW = dict(api_key=API_A, start_date="2019-01-01", end_date="2019-03-14")
# Spark jobs a fully resumed run_nep_flow launches: only the read of the
# metrics artifact it returns. Checkpoints read back with the schema in
# their sidecar (no parquet schema-inference job) and the dbt-test result
# is replayed from the session_events sidecar (8 jobs while each read-back
# inferred its schema and the dbt test re-ran, 20 while the flow also
# collected the vocab into a map literal and ran one action per metric).
RESUME_JOBS = 1
# Spark jobs of a cold flow, the read of the raw log included (which
# names its schema instead of inferring it from a parquet footer).
COLD_JOBS = 16


def _event(sku, ms, action="detail", etype="event_product", session="s1"):
    return Row(
        event_type=etype,
        hashed_url=f"url-{sku}",
        product_action=action,
        product_sku=sku,
        server_timestamp_epoch_ms=str(ms),  # STRING holding an int (A2)
        session_id=session,
    )


@pytest.fixture(scope="module")
def raw_log(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rawlog") / "raw_events")
    # session s1: deliberate duplicate timestamp (tie-break by sku),
    # uppercase + space sku (C1/C2), >3 events
    s1 = [
        _event("SKU A", BASE_MS + 1000),
        _event("beta", BASE_MS + 2000),
        _event("alpha", BASE_MS + 3000),
        _event("zeta", BASE_MS + 3000),  # tie with alpha at +3000
        _event("last", BASE_MS + 9000, action="purchase"),
    ]
    # session s2: includes filtered-out actions/types + a null sku event
    s2 = [
        _event("x1", BASE_MS + 1000, session="s2"),
        _event(None, BASE_MS + 1500, etype="pageview", session="s2"),
        _event("x2", BASE_MS + 2000, action="remove", session="s2"),  # filtered
        _event("x3", BASE_MS + 3000, action="add", session="s2"),
        _event("x4", BASE_MS + 4000, action="purchase", session="s2"),
    ]
    # session s3: long session (>20 events) for pad-truncation
    s3 = [
        _event(f"t{i:02d}", BASE_MS + 1000 * i, session="s3") for i in range(25)
    ]
    # tenant B session, must be excluded by the api_key filter
    sb = [_event(f"b{i}", BASE_MS + 1000 * i, session="sb") for i in range(4)]

    sessions_a = spark.createDataFrame(
        [Row(events=s1), Row(events=s2), Row(events=s3)]
    )
    sessions_b = spark.createDataFrame([Row(events=sb)])

    # two loads for tenant A: the first must lose to the second
    # ("latest ETL wins", shopping_events_exploded.sql:7-13)
    ingest.ingest_events(
        sessions_a, out, API_A, etl_id="etl-old", etl_timestamp_ms=BASE_MS - 10
    )
    ingest.ingest_events(
        sessions_a, out, API_A, etl_id="etl-new", etl_timestamp_ms=BASE_MS + 10
    )
    ingest.ingest_events(
        sessions_b, out, API_B, etl_id="etl-new", etl_timestamp_ms=BASE_MS + 10
    )
    return out


@pytest.fixture(scope="module")
def oov_log(spark, tmp_path_factory):
    """Ten tenant-A sessions on ten consecutive days. The time split puts
    the last one in test, and its inputs mix tokens seen in train with
    two never-seen ones."""
    out = str(tmp_path_factory.mktemp("oovlog") / "raw_events")
    seen = ["p1", "p2", "p3", "p4", "p5"]
    days = [[seen[(d + j) % 5] for j in range(3 + d % 3)] for d in range(9)]
    days.append(["p1", "new1", "p3", "new2", "p2"])
    sessions = spark.createDataFrame(
        [
            Row(
                events=[
                    _event(sku, BASE_MS + d * DAY_MS + 1000 * j, session=f"d{d}")
                    for j, sku in enumerate(skus)
                ]
            )
            for d, skus in enumerate(days)
        ]
    )
    ingest.ingest_events(sessions, out, API_A, etl_id="etl-1", etl_timestamp_ms=BASE_MS)
    return out


@pytest.fixture(scope="module")
def many_log(spark, tmp_path_factory):
    """Fifty-five tenant-A sessions on consecutive days inside the
    extraction window, 3-8 events each, drawing from 17 SKUs: enough
    sessions that ``extracted`` spans several files when shuffle
    partitions are not coalesced."""
    out = str(tmp_path_factory.mktemp("manylog") / "raw_events")
    sessions = spark.createDataFrame(
        [
            Row(
                events=[
                    _event(
                        f"k{(d * 7 + j * 5) % 17}",
                        BASE_MS + d * DAY_MS + 1000 * j,
                        session=f"m{d:02d}",
                    )
                    for j in range(3 + d % 6)
                ]
            )
            for d in range(55)
        ]
    )
    ingest.ingest_events(sessions, out, API_A, etl_id="etl-1", etl_timestamp_ms=BASE_MS)
    return out


def test_ingest_schema_and_append(spark, raw_log):
    raw = ingest.read_raw_events(spark, raw_log)
    assert set(raw.columns) == {
        "etl_timestamp",
        "etl_id",
        "event_type",
        "api_key",
        "event_date",
        "raw_data",
    }
    # append-only: both loads present (35 events * 2 loads + 4)
    assert raw.count() == 35 * 2 + 4
    payload = json.loads(raw.select("raw_data").first()["raw_data"])
    assert "session_id" in payload and "server_timestamp_epoch_ms" in payload


def test_latest_etl_selection(spark, raw_log):
    raw = ingest.read_raw_events(spark, raw_log)
    assert latest_etl(raw).collect()[0]["etl_id"] == "etl-new"
    flat = events_exploded(raw)
    assert flat.select("etl_id").distinct().collect()[0]["etl_id"] == "etl-new"
    assert flat.count() == 35 + 4  # one load's worth


def test_events_exploded_single_parse_matches_json_get(spark):
    """Model 1 parses each payload once; every field equals its own
    ``json_get`` extraction on awkward payloads: missing keys, JSON
    null, numbers and objects as values, escapes, a non-numeric or
    fractional timestamp, malformed and NULL documents."""
    payloads = [
        '{"hashed_url":"u1","product_action":"add","product_sku":"SKU A",'
        '"server_timestamp_epoch_ms":"1547528000000","session_id":"s1"}',
        '{"product_sku":"b","server_timestamp_epoch_ms":1547528000001}',
        '{"hashed_url":null,"product_action":"detail","product_sku":7,'
        '"server_timestamp_epoch_ms":"soon","session_id":{"id":1}}',
        '{"product_sku":"q\\"uote \\u00e9","server_timestamp_epoch_ms":"12.5",'
        '"session_id":"s2","product_action":true}',
        '[1, 2]',
        "not json",
        None,
    ]
    raw = spark.createDataFrame(
        [(0, "etl", f"e{i}", API_A, None, p) for i, p in enumerate(payloads)],
        "etl_timestamp long, etl_id string, event_type string, api_key string, "
        "event_date date, raw_data string",
    )
    got = events_exploded(raw).select(
        "event_type", "url", "product_action", "sku", "event_epoch_timestamp",
        "session_id",
    )
    want = raw.select(
        "event_type",
        json_get("raw_data", "hashed_url", "string").alias("url"),
        json_get("raw_data", "product_action", "string").alias("product_action"),
        normalize_sku(json_get("raw_data", "product_sku", "string")).alias("sku"),
        json_get("raw_data", "server_timestamp_epoch_ms", "long").alias(
            "event_epoch_timestamp"
        ),
        json_get("raw_data", "session_id", "string").alias("session_id"),
    )
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("event_type") == "e0").first()["sku"] == "sku_a"


def test_session_arrays_ordered_exactly(spark, raw_log):
    """The A7 contract: time-ordered, (ts, sku) tie-break, normalized
    SKUs, filtered actions only."""
    sess = session_events(events_exploded(ingest.read_raw_events(spark, raw_log)))
    rows = {r["session_id"]: r for r in sess.collect()}
    # s1: 'SKU A'→'sku_a'; tie at +3000 breaks alpha<zeta; remove/pageview absent
    assert rows["s1"]["interactions"] == ["sku_a", "beta", "alpha", "zeta", "last"]
    # s2: 'remove' action and 'pageview' type filtered out
    assert rows["s2"]["interactions"] == ["x1", "x3", "x4"]
    # s3: full 25 in time order
    assert rows["s3"]["interactions"] == [f"t{i:02d}" for i in range(25)]
    # session_date stamped from first event of the session
    assert str(rows["s1"]["session_date"]) == "2019-01-15"


def test_sessionization_invariants(spark, raw_log):
    """Property: Σ size(interactions) == count(kept events); every
    array is time-sorted (verified against the exploded source)."""
    flat = events_exploded(ingest.read_raw_events(spark, raw_log))
    kept = flat.filter(
        (F.col("event_type") == "event_product")
        & F.col("product_action").isin("detail", "add", "purchase")
    )
    sess = session_events(flat)
    total = sess.agg(F.sum(F.size("interactions"))).collect()[0][0]
    assert total == kept.count()


def test_full_nep_flow(spark, raw_log, tmp_path):
    raw = ingest.read_raw_events(spark, raw_log)
    out = run_nep_flow(
        spark,
        raw,
        str(tmp_path),
        "run-1",
        api_key=API_A,
        start_date="2019-01-01",
        end_date="2019-03-14",
    )
    assert out["manifest"]["order"] == ["events_exploded", "session_events"]
    assert out["metrics"]["n_sessions"] == 3.0
    assert out["metrics"]["n_train"] + out["metrics"]["n_test"] == 3.0

    ds = spark.read.parquet(out["run_dir"] + "/dataset")
    row = {r["session_id"]: r for r in ds.collect()}
    # D2/D3: x = prefix, y = last
    assert row["s1"]["x"] == ["sku_a", "beta", "alpha", "zeta"]
    assert row["s1"]["y"] == "last"
    # D4: padded to exactly MAX_LEN, left-padded with 0
    assert all(len(r["x_padded"]) == 20 for r in row.values())
    assert row["s1"]["x_padded"][:16] == [0] * 16
    # s3: 24-long x keeps LAST 20 encoded ids (pre-truncation)
    assert row["s3"]["x_padded"] == row["s3"]["x_enc"][-20:]
    # F2: encoded ids ≥ 1; y_label = y_enc - 1 (the off-by-one trap)
    assert all(r["y_label"] == r["y_enc"] - 1 for r in row.values())


def test_resume_skips_completed_stages(spark, raw_log, tmp_path):
    """Metaflow ``resume`` parity (I1): a second run under the same
    run_id with resume=True reads every complete checkpoint back
    instead of recomputing — artifacts untouched on disk, recorded row
    counts replayed from the stage metadata sidecars, and the final
    outputs identical. A fresh run_id still computes everything."""
    raw = ingest.read_raw_events(spark, raw_log)
    kw = dict(api_key=API_A, start_date="2019-01-01", end_date="2019-03-14")
    out1 = run_nep_flow(spark, raw, str(tmp_path), "run-res", **kw)
    assert out1["resumed_stages"] == []

    def artifact_mtimes():
        seen = {}
        for stage in out1["stages"]:
            d = os.path.join(out1["run_dir"], stage)
            seen[stage] = {
                f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)
            }
        return seen

    before = artifact_mtimes()
    out2 = run_nep_flow(spark, raw, str(tmp_path), "run-res", resume=True, **kw)
    assert out2["resumed_stages"] == out1["stages"]
    assert out2["stage_rows"] == out1["stage_rows"]
    assert out2["metrics"] == out1["metrics"]
    assert artifact_mtimes() == before, "resume must not rewrite artifacts"

    # a stage with no complete checkpoint recomputes: delete the
    # _SUCCESS marker of one stage and resume again
    victim = out1["stages"][1]
    os.remove(os.path.join(out1["run_dir"], victim, "_SUCCESS"))
    out3 = run_nep_flow(spark, raw, str(tmp_path), "run-res", resume=True, **kw)
    assert victim not in out3["resumed_stages"]
    assert out3["stage_rows"] == out1["stage_rows"]

    # a present-but-truncated metadata sidecar (process killed
    # mid-write under a pre-atomic-rename layout) must RECOMPUTE the
    # stage, not crash the resumed run (ADVICE r04)
    victim2 = out1["stages"][0]
    with open(os.path.join(out1["run_dir"], f"{victim2}.meta.json"), "w") as f:
        f.write('{"stage": "' + victim2 + '", "ro')  # truncated JSON
    out4 = run_nep_flow(spark, raw, str(tmp_path), "run-res", resume=True, **kw)
    assert victim2 not in out4["resumed_stages"]
    assert out4["stage_rows"] == out1["stage_rows"]


def test_stage_rows_observed_without_extra_jobs(spark, raw_log, tmp_path):
    """I-family observability: every checkpoint records its row count
    via df.observe (accumulated during the write, no second count job)
    and the counts match the artifacts on disk."""
    raw = ingest.read_raw_events(spark, raw_log)
    out = run_nep_flow(
        spark,
        raw,
        str(tmp_path),
        "run-obs",
        api_key=API_A,
        start_date="2019-01-01",
        end_date="2019-03-14",
    )
    for name, rows in out["stage_rows"].items():
        assert rows is not None
        on_disk = spark.read.parquet(out["run_dir"] + "/" + name).count()
        assert rows == on_disk, name


def test_dataset_encoding_matches_map_literal_encode(spark, oov_log, tmp_path):
    """The flow's join encode gives the dataset exactly what the
    map-literal ``vocab.encode`` gives over the same train-x vocabulary:
    x_enc, y_enc and x_padded, with unseen test tokens mapped to UNK."""
    raw = ingest.read_raw_events(spark, oov_log)
    out = run_nep_flow(spark, raw, str(tmp_path), "run-enc", **FLOW_KW)
    ds = spark.read.parquet(out["run_dir"] + "/dataset")
    vb = vocab.build_vocab(ds.filter(F.col("split") == "train"), "x")
    pairs = vb.select("token", "token_id").collect()
    ref = vocab.encode(
        vocab.encode(ds.withColumn("y_arr", F.array("y")), vb, "y_arr", "y_ref", pairs),
        vb,
        "x",
        "x_ref",
        pairs,
    ).withColumn("padded_ref", pad_sequence("x_ref", MAX_LEN, 0))
    rows = {r["session_id"]: r for r in ref.collect()}
    assert len(rows) == 10
    for sid, r in rows.items():
        assert r["x_enc"] == r["x_ref"], sid
        assert r["y_enc"] == r["y_ref"][0], sid
        assert r["x_padded"] == r["padded_ref"], sid

    test = rows["d9"]
    assert [sid for sid, r in rows.items() if r["split"] == "test"] == ["d9"]
    # x = [p1, new1, p3, new2]: seen tokens keep their ids, unseen → UNK
    unk = [i == vocab.UNK_ID for i in test["x_enc"]]
    assert unk == [False, True, False, True]
    assert test["y_enc"] != vocab.UNK_ID


def test_flow_keeps_and_encodes_every_session_across_partitions(
    spark, many_log, tmp_path
):
    """With shuffle partitions left uncoalesced, ``extracted`` spans
    several files. Every extracted session still reaches the dataset,
    and each row's x_enc / y_enc is a plain Python encode of its own
    x / y under the train vocabulary (freq desc, token asc, ids from 2,
    OOV → UNK)."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        raw = ingest.read_raw_events(spark, many_log)
        out = run_nep_flow(spark, raw, str(tmp_path), "run-parts", **FLOW_KW)
        ds = spark.read.parquet(out["run_dir"] + "/dataset").collect()
    finally:
        spark.conf.set(key, prev)
    extracted_dir = out["run_dir"] + "/extracted"
    assert sum(f.endswith(".parquet") for f in os.listdir(extracted_dir)) > 1
    n_extracted = spark.read.parquet(extracted_dir).count()
    assert n_extracted == 55
    assert out["metrics"]["n_sessions"] == n_extracted == len(ds)
    assert out["metrics"]["n_test"] > 0

    freq = Counter(t for r in ds if r["split"] == "train" for t in r["x"])
    ranked = sorted(freq, key=lambda t: (-freq[t], t))
    ids = {t: i + 2 for i, t in enumerate(ranked)}
    assert out["metrics"]["vocab_size"] == len(ids)
    for r in ds:
        assert r["x"] + [r["y"]] == r["interactions"], r["session_id"]
        assert r["x_enc"] == [ids.get(t, vocab.UNK_ID) for t in r["x"]], r["session_id"]
        assert r["y_enc"] == ids.get(r["y"], vocab.UNK_ID), r["session_id"]


def test_metrics_artifact_persisted_and_resumed(spark, raw_log, tmp_path):
    """The ``metrics`` checkpoint on disk is what the flow returns, and a
    fully resumed run returns that persisted artifact (Metaflow resume
    parity) rather than recomputing it."""
    raw = ingest.read_raw_events(spark, raw_log)
    out = run_nep_flow(spark, raw, str(tmp_path), "run-met", **FLOW_KW)
    path = out["run_dir"] + "/metrics"
    on_disk = {r["name"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert on_disk == out["metrics"]
    # s1 (5) and s2 (3) train, s3 (25) test; vocab = the 6 train-x tokens
    assert out["metrics"] == {
        "n_sessions": 3.0,
        "avg_session_len": 11.0,
        "n_train": 2.0,
        "n_test": 1.0,
        "vocab_size": 6.0,
    }

    # resume reads the artifact: a doctored value comes back as written
    # (test_resume_skips_completed_stages checks the untouched round trip)
    doctored = [(k, 99.0 if k == "n_test" else v) for k, v in on_disk.items()]
    spark.createDataFrame(doctored, "name string, value double").write.mode(
        "overwrite"
    ).parquet(path)
    out2 = run_nep_flow(spark, raw, str(tmp_path), "run-met", resume=True, **FLOW_KW)
    assert out2["resumed_stages"] == out["stages"]
    assert out2["metrics"] == dict(doctored)


def test_flow_fallback_aggregates_match_observed_metrics(
    spark, raw_log, tmp_path, monkeypatch
):
    """With observed metrics missed, every checkpoint computes its row
    count and the dataset's metric aggregates over the written artifact;
    the flow returns the same metrics and stage rows as the observed
    route."""
    from post_modern_stack_spark.operators import obs

    raw = ingest.read_raw_events(spark, raw_log)
    monkeypatch.setattr(obs, "_missed", False)
    monkeypatch.setattr(obs, "fallbacks", 0)
    observed = run_nep_flow(spark, raw, str(tmp_path), "run-observed", **FLOW_KW)
    assert obs.fallbacks == 0
    monkeypatch.setattr(obs, "_missed", True)
    forced = run_nep_flow(spark, raw, str(tmp_path), "run-forced", **FLOW_KW)
    assert obs.fallbacks == len(forced["stages"])
    assert forced["metrics"] == observed["metrics"]
    assert forced["stage_rows"] == observed["stage_rows"]


def test_dbt_test_result_stored_and_replayed(spark, raw_log, tmp_path):
    """The dbt unique/not_null result is stored in the session_events
    sidecar with the stage's rows, schema and observed aggregates, and a
    resume replays the stored result instead of re-running the test: a
    doctored duplicate count fails the resumed flow."""
    raw = ingest.read_raw_events(spark, raw_log)
    out = run_nep_flow(spark, raw, str(tmp_path), "run-dbt", **FLOW_KW)
    meta_path = os.path.join(out["run_dir"], "session_events.meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["check"] == {"session_id_duplicates": 0, "session_id_nulls": 0}
    assert meta["rows"] == out["stage_rows"]["session_events"]
    assert [f["name"] for f in meta["schema"]["fields"]] == [
        "session_id", "api_key", "session_date", "interactions"
    ]
    with open(os.path.join(out["run_dir"], "dataset.meta.json")) as f:
        assert set(json.load(f)["observed"]) == {"avg_session_len", "n_train", "n_test"}

    meta["check"]["session_id_duplicates"] = 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(AssertionError, match="dbt test: unique"):
        run_nep_flow(spark, raw, str(tmp_path), "run-dbt", resume=True, **FLOW_KW)


def test_empty_extraction_window_fails_fast(spark, raw_log, tmp_path):
    """An extraction window with no sessions stops the flow at the
    reference's empty-dataset assertion, read from the observed row
    count of the ``extracted`` checkpoint."""
    raw = ingest.read_raw_events(spark, raw_log)
    with pytest.raises(AssertionError, match="empty dataset"):
        run_nep_flow(
            spark,
            raw,
            str(tmp_path),
            "run-empty",
            api_key=API_A,
            start_date="2018-01-01",
            end_date="2018-12-31",
        )


def test_resumed_flow_job_budget(spark, raw_log, tmp_path):
    """A fully resumed flow launches a pinned number of Spark jobs, so a
    regression to an eager vocabulary collect or to per-metric actions
    fails here, not only in the benchmark. The jobs are tagged with the
    thread's SparkContext job tag: a session ``spark.addTag`` tag does
    not reach the schema-inference job of ``spark.read.parquet``."""
    raw = ingest.read_raw_events(spark, raw_log)
    run_nep_flow(spark, raw, str(tmp_path), "run-jobs", **FLOW_KW)
    sc = spark.sparkContext
    tag = "nep-resume-job-budget"
    sc.addJobTag(tag)
    try:
        out = run_nep_flow(spark, raw, str(tmp_path), "run-jobs", resume=True, **FLOW_KW)
    finally:
        sc.removeJobTag(tag)
    assert out["resumed_stages"] == out["stages"]
    jobs = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert len(jobs) == RESUME_JOBS


def test_cold_flow_job_budget(spark, raw_log, tmp_path):
    """A cold flow launches a pinned number of Spark jobs, so a new
    eager action, or a raw-log read that infers its schema again, fails
    here, not only in the benchmark."""
    sc = spark.sparkContext
    tag = "nep-cold-job-budget"
    sc.addJobTag(tag)
    try:
        raw = ingest.read_raw_events(spark, raw_log)
        run_nep_flow(spark, raw, str(tmp_path), "run-cold", **FLOW_KW)
    finally:
        sc.removeJobTag(tag)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert len(jobs) == COLD_JOBS


def test_flow_on_plain_session_maps_case_on_the_jvm(spark, raw_log, tmp_path):
    """A plain session (no builder or runtime confs of ours) starts on
    ICU case mapping; the flow's start step moves it to the JVM's."""
    icu = "spark.sql.icu.caseMappings.enabled"
    plain = spark.newSession()
    assert plain.conf.get(icu) == "true"
    raw = ingest.read_raw_events(plain, raw_log)
    out = run_nep_flow(plain, raw, str(tmp_path), "run-plain", **FLOW_KW)
    assert out["stage_rows"]["extracted"] > 0
    assert plain.conf.get(icu) == "false"


def test_checkpoint_counts_artifact_when_metric_never_fires(
    spark, tmp_path, monkeypatch
):
    """The observed row count is a bounded read: when the metric never
    arrives, the checkpoint counts its written artifact instead of
    blocking on ``Observation.get``."""
    from post_modern_stack_spark.operators import obs
    from post_modern_stack_spark.plans.pipeline import PipelineRunner

    monkeypatch.setattr(obs, "_observed_value", lambda o, timeout_s: None)
    monkeypatch.setattr(obs, "_missed", False)
    runner = PipelineRunner(spark, str(tmp_path), "run-fallback")
    assert runner.checkpoint("ids", spark.range(7)).count() == 7
    assert runner.results[-1].rows == 7
