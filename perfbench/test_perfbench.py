"""Tests of the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import parse_metric_value  # noqa: E402
from workloads import frames_equal, nep_mismatches  # noqa: E402


@pytest.mark.parametrize(
    "n, pct",
    [(39, None), (40, 75.0), (49, 75.0), (50, 80.0), (99, 80.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 9) >= stats.TAIL_MIN_BEYOND


def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(0).exponential(1.0, 57))
    for p in (0, 10, 50, 75, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_summarize_reports_tail_only_with_enough_samples():
    assert "tail" not in stats.summarize([1.0] * 20)
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(89.1)


def test_self_time_subtracts_union_of_children():
    # children [1,3] and [2,4] overlap (cover 3), [6,7] covers 1,
    # [9,12] is clipped to [9,10]
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (6, 7), (9, 12)]) == 5
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(-5, 20)]) == 0


def test_self_times_by_span_id():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 6.0, "end": 8.0},
    ]
    assert stats.self_times(spans) == {0: 4.0, 1: 3.0, 2: 1.0, 3: 2.0}


def test_aggregate_by_tag_counts_nested_tags_and_shared_stages_once():
    jobs = [
        {"jobId": 0, "jobTags": ["op", "build"], "stageIds": [0, 1],
         "numCompletedStages": 2, "numCompletedTasks": 5, "wall_ms": 100},
        {"jobId": 1, "jobTags": ["op"], "stageIds": [1, 2],
         "numCompletedStages": 1, "numCompletedTasks": 4, "wall_ms": 50},
        {"jobId": 2, "jobTags": [], "stageIds": [3],
         "numCompletedStages": 1, "numCompletedTasks": 1, "wall_ms": 7},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "executorRunTime": 10,
         "executorCpuTime": 2_000_000, "shuffleWriteBytes": 64},
        {"stageId": 1, "status": "COMPLETE", "executorRunTime": 20, "inputRecords": 9},
        {"stageId": 2, "status": "SKIPPED", "executorRunTime": 999},
        {"stageId": 3, "status": "COMPLETE", "executorRunTime": 5},
    ]
    acc = stats.aggregate_by_tag(jobs, stages)
    assert set(acc) == {"op", "build"}
    assert acc["op"]["jobs"] == 2 and acc["op"]["stages"] == 3 and acc["op"]["tasks"] == 9
    assert acc["op"]["job_ms"] == 150
    # stage 1 is shared by both jobs of "op" but counted once; 2 was skipped
    assert acc["op"]["run_ms"] == 30 and acc["op"]["input_rows"] == 9
    assert acc["op"]["cpu_ms"] == pytest.approx(2.0)
    assert acc["build"]["jobs"] == 1 and acc["build"]["run_ms"] == 30
    assert acc["build"]["shuffle_write_bytes"] == 64


def test_diff_counters_marks_exact_repeats():
    rows = stats.diff_counters(
        {"query:a": {"jobs": 3, "tasks": 8}},
        {"query:a": {"jobs": 3, "tasks": 9}, "query:b": {"jobs": 1}},
    )
    same = {(r["key"], r["counter"]): r["same"] for r in rows}
    assert same == {
        ("query:a", "jobs"): True,
        ("query:a", "tasks"): False,
        ("query:b", "jobs"): False,
    }


def test_parse_metric_value_units():
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.2 s)") == 1500
    assert parse_metric_value("12.0 MiB") == 12 * 1024**2
    assert parse_metric_value("1,234") == 1234
    assert parse_metric_value("") is None


def test_frames_equal_ignores_row_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, None]})
    b = pd.DataFrame({"v": [None, 0.3], "k": [2, 1]})
    assert frames_equal(a, b)
    assert not frames_equal(a, b.assign(k=[2, 3]))


def test_train_count_matches_percent_rank_split():
    for n in (0, 1, 2, 10, 11, 4309):
        expect = sum(1 for r in range(n) if (r / (n - 1) if n > 1 else 0.0) < 0.9)
        assert gen._train_count(n) == expect
    assert gen._train_count(10) == 9


def _digests(fn, tmp_path, seed):
    out = tmp_path / f"s{seed}-{len(os.listdir(tmp_path))}"
    fn(str(out), seed)
    return gen.dir_digest(str(out))


@pytest.mark.parametrize(
    "fn",
    [
        lambda out, seed: gen.catalog_tables(out, seed, 0.001),
        lambda out, seed: (os.makedirs(out), gen.nep_sessions(f"{out}/s.parquet", seed, 60, 500, 8)),
        lambda out, seed: gen.stream_backlog(out, seed, 2, 500, 50),
    ],
    ids=["catalog", "nep", "stream"],
)
def test_generators_are_deterministic_per_seed(fn, tmp_path):
    first = _digests(fn, tmp_path, 7)
    assert _digests(fn, tmp_path, 7) == first
    assert _digests(fn, tmp_path, 8) != first


def test_nep_truth_agrees_with_the_written_log(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "s.parquet")
    truth = gen.nep_sessions(path, 3, 200, 300, 10)
    events = pq.read_table(path).column("events").to_pylist()
    assert sum(len(s) for s in events) == truth.raw_events
    kept = [
        s for s in events
        if any(e["product_action"] in ("detail", "add", "purchase") for e in s)
    ]
    assert len(kept) == truth.session_events
    assert truth.n_train + truth.n_test == truth.extracted <= truth.session_events
    assert 0 < truth.vocab_size <= truth.skus


def test_stream_backlog_plants_duplicates_inside_each_file(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.stream_backlog(str(tmp_path), 5, 3, 1000, 40)
    ids = [pq.read_table(str(tmp_path / f)).column("event_id").to_pylist()
           for f in sorted(os.listdir(tmp_path))]
    assert sum(len(set(x)) for x in ids) == truth.distinct_event_ids
    assert 0.85 * truth.rows < truth.distinct_event_ids < 0.95 * truth.rows
    # no id crosses a file boundary, so every duplicate is within one batch
    assert len(set().union(*map(set, ids))) == truth.distinct_event_ids


def test_nep_mismatches_reports_each_difference():
    truth = gen.NepTruth(100, 10, 8, 7, 1, 50, 300)
    res = {
        "stage_rows": {"session_events": 10, "extracted": 8, "dataset": 8, "metrics": 5},
        "metrics": {"n_sessions": 8.0, "n_train": 7.0, "n_test": 1.0, "vocab_size": 50.0},
    }
    assert nep_mismatches(res, truth) == []
    res["metrics"]["vocab_size"] = 49.0
    assert nep_mismatches(res, truth) == ["metric vocab_size: 49.0, expected 50"]


def test_catalog_sample_is_oracle_paired():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__
    from workloads import CatalogSweep

    sample = set(CatalogSweep.SAMPLE)
    assert len(sample) == len(CatalogSweep.SAMPLE) == 10
    assert sample <= set(__spark_entry__.queries())
    assert sample <= set(__spark_entry__.oracle_sql())
