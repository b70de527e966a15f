"""Unit tests for bench.py's sampling/estimation policy (VERDICT r08
item 2: the min-of-2 estimator wrote a one-sided artifact for a
bimodal query — [1.739, 15.644] reported as 1.74 — and the driver then
recorded the slow mode twice). bench.py is import-safe (main() is
__main__-guarded), so the policy helpers are tested directly."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_synthetic_spike_is_flagged_bimodal():
    # the exact r08 media_jpeg_pipeline samples
    assert bench.is_bimodal([1.739, 15.644])
    assert bench.is_bimodal([15.644, 1.739])  # order-insensitive
    # ordinary host jitter is NOT bimodal
    assert not bench.is_bimodal([1.0, 1.4])
    assert not bench.is_bimodal([2.0, 5.9])  # 2.95x, under the 3x line
    assert bench.is_bimodal([2.0, 6.1])
    # a single sample can never be flagged
    assert not bench.is_bimodal([7.0])
    assert not bench.is_bimodal([])
    # 3-sample spikes stay flagged so the artifact keeps the marker
    # even after the tiebreak resolved the estimate
    assert bench.is_bimodal([1.0, 1.1, 15.0])


def test_bimodal_spread_ignores_compile_paying_samples():
    """Sweep 1 pays the query's codegen compiles, so its sample can sit
    3x above the warm ones with no host noise at all; the spread is
    judged over the samples that compiled nothing, once there are two."""
    assert bench.warm_samples([0.734, 0.194, 0.176], [8, 0, 0]) == [0.194, 0.176]
    assert not bench.run_is_bimodal([0.734, 0.194, 0.176], [8, 0, 0])
    assert bench.is_bimodal([0.734, 0.194, 0.176])  # what it used to judge
    assert bench.run_is_bimodal([1.74, 15.64], [0, 0])
    # a two-sample query whose sweep-1 run compiled has one warm
    # sample: judge both, so the pair still earns its tiebreak
    assert bench.run_is_bimodal([1.74, 15.64], [8, 0])
    assert bench.run_is_bimodal([0.9, 3.1], [4, 0])
    # the tiebreak sample is warm; the spread then reads 3.1 vs 1.1
    assert not bench.run_is_bimodal([0.9, 3.1, 1.1], [4, 0, 0])


def test_estimator_policy_min2_median3():
    assert bench.estimate([]) == -1.0
    assert bench.estimate([4.2]) == 4.2
    # 2 samples: min (median of 2 is a mean — worse under one-sided noise)
    assert bench.estimate([3.0, 5.0]) == 3.0
    # 3 samples: median — a forced tiebreak turns a bimodal 2-sample
    # min into a median-of-3 that lands on the majority mode
    assert bench.estimate([1.739, 15.644, 1.8]) == 1.8
    assert bench.estimate([1.739, 15.644, 14.9]) == 14.9
    assert bench.estimate([5.0, 1.0, 3.0]) == 3.0


def test_bimodal_threshold_constant_guards_policy():
    """The 3x line is what the r08 verdict calibrated against this
    host's noise band (plan-identical queries flip 1.4-1.6x between
    windows; 9x was the pathology) — moving it silently would
    re-open the masking hole, so pin it."""
    assert bench.BIMODAL_SPREAD == 3.0


def test_parse_sf_strict_and_fallback():
    """ADVICE r09: the old rsplit-token was used to build both a
    filename and a float — a path without an sf leaf produced a
    slash-containing filename (post-sweep FileNotFoundError) and a
    token like '0.0.1' passed isdigit but crashed float()."""
    assert bench.parse_sf("/root/testdata/sf0.1") == ("0.1", 0.1)
    assert bench.parse_sf("/root/testdata/sf0.1/") == ("0.1", 0.1)
    assert bench.parse_sf("/data/sf10") == ("10", 10.0)
    # no sf leaf: sanitized slug, string sf — never a slash, never float()
    tok, val = bench.parse_sf("/tmp/my data dir")
    assert "/" not in tok and val == tok
    # the exact ADVICE crash case: '0.0.1' must not reach float()
    tok, val = bench.parse_sf("/data/sf0.0.1")
    assert isinstance(val, str) and "/" not in tok


def test_median_diff_skips_baseline_at_other_cores(capsys):
    """Medians timed at other cores are not comparable: a local[4]
    sweep against a 32-core baseline printed 92 false movers."""
    prev = {"cores": 32, "queries": {"q1": 1.0, "q2": 1.0}}
    timings = {"q1": 3.0, "q2": 0.2}
    bench._print_median_regressions(prev, "base", timings, cores=4)
    err = capsys.readouterr().err
    assert "median diff skipped" in err and "median-diff" not in err
    bench._print_median_regressions(prev, "base", timings, cores=32)
    err = capsys.readouterr().err
    assert "median-diff REGRESSED q1" in err and "median-diff improved q2" in err
    # a baseline without recorded cores is compared, not skipped
    del prev["cores"]
    bench._print_median_regressions(prev, "base", timings, cores=4)
    err = capsys.readouterr().err
    assert "median diff skipped" not in err and "median-diff REGRESSED q1" in err


def test_load_baseline_matches_tables_not_just_sf(tmp_path):
    """A baseline is compared only with a run over the tables it timed;
    one that records no ``sf_dir`` timed the default test data."""
    path = tmp_path / "BENCH_DETAIL.json"
    path.write_text(json.dumps({"sf": 0.1, "sf_dir": "/data/a/sf0.1"}))
    assert bench.load_baseline(str(path), "/data/a/sf0.1/")[0] is not None
    assert bench.load_baseline(str(path), "/data/b/sf0.1")[0] is None
    path.write_text(json.dumps({"sf": 0.1}))
    assert bench.load_baseline(str(path), "/root/testdata/sf0.1")[0] is not None
    assert bench.load_baseline(str(path), "/data/b/sf0.1")[0] is None
    assert bench.load_baseline(str(path), "/root/testdata/sf0.01")[0] is None
    # the same tables under another spelling: a symlink, a doubled
    # slash, a relative path
    real = tmp_path / "a" / "sf0.1"
    real.mkdir(parents=True)
    (tmp_path / "link").mkdir()
    os.symlink(real, tmp_path / "link" / "sf0.1")
    path.write_text(json.dumps({"sf": 0.1, "sf_dir": str(real)}))
    for spelling in (
        str(tmp_path / "link" / "sf0.1"),
        str(tmp_path) + "//a/sf0.1",
        os.path.relpath(real),
    ):
        assert bench.load_baseline(str(path), spelling)[0] is not None, spelling


def test_load_py_band_queries_parses_plans_md(tmp_path):
    plans = tmp_path / "PLANS.md"
    plans.write_text(
        "# PLANS\n"
        "| query | check | shuffles | bcasts | joins | aggs | windows "
        "| top-K prune | pushdown | py-ops |\n"
        "|---|---|---|---|---|---|---|---|---|---|\n"
        "| `sessionize` | [O] | 2 | — | — | 4 | 0 | — | yes | — |\n"
        "| `media_png_pipeline` | [R] | 0 | — | — | 0 | 0 | — | — | 2 |\n"
        "| `embedding_whiten` | [R] | 0 | — | — | 0 | 0 | — | — | 1 |\n"
    )
    band = bench.load_py_band_queries(str(plans))
    assert band == {"media_png_pipeline", "embedding_whiten"}
    # missing file degrades to empty set, never raises
    assert bench.load_py_band_queries(str(tmp_path / "nope.md")) == set()


def test_load_py_band_real_plans_md_includes_codecs():
    """The committed PLANS.md must yield the codec family — the class
    the r09 verdict named as band-exposed."""
    band = bench.load_py_band_queries()
    for q in ("media_jpeg_pipeline", "media_video_frames", "media_png_pipeline"):
        assert q in band, q
    assert "sessionize" not in band


def test_named_queries_print_counters_and_write_no_file(tmp_path, sf_dir):
    """``bench.py q1 q2``: one line per query with its sweep-1 Spark
    counters, then the summary line; no BENCH_DETAIL file is written.
    The tables sit in another directory whose leaf is ``sf0.1``, so the
    committed sf0.1 baseline, which records no ``sf_dir``, timed other
    tables and no median is diffed against it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "bench.py"), tmp_path)
    other = tmp_path / "other" / "sf0.1"
    other.mkdir(parents=True)
    for name in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, name), other / name)
    names = ["pricing_summary", "sessionize"]
    baseline = {"sf": 0.1, "queries": {n: 100.0 for n in names}}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(baseline))
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    subprocess.run(git + ["add", "BENCH_DETAIL.json"], check=True)
    subprocess.run(git + ["commit", "-qm", "baseline"], check=True)
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_SF_DIR=str(other),
               SPARK_GRAFT_BENCH_REPS="1", SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run([sys.executable, "bench.py", *names], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "median-diff" not in out.stderr
    *per_query, summary = out.stdout.strip().splitlines()
    per_query = [json.loads(line) for line in per_query]
    assert [d["query"] for d in per_query] == names
    assert all(isinstance(v, int) for d in per_query for v in d["counters"].values())
    assert all(d["counters"]["jobs"] >= 1 for d in per_query)
    assert len(summary) < 1800
    assert json.loads(summary)["cutoff_sec"] == min(json.loads(summary)["queries"].values())
    assert [p.name for p in tmp_path.glob("BENCH_DETAIL*.json")] == ["BENCH_DETAIL.json"]
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text()) == baseline


def _rungs(*per_rung):
    """Counters per rung from (jobs, stages, shuffle_write_bytes, input_rows)."""
    keys = ("jobs", "stages", "shuffle_write_bytes", "input_rows")
    return [dict(zip(keys, c)) for c in per_rung]


def test_scale_ladder_flags():
    sys.path.insert(0, os.path.join(os.path.dirname(bench.__file__), "scripts"))
    import scale_ladder

    mb = scale_ladder.SHUFFLE_FLOOR
    # clean: plan repeats, shuffle grows with the input rows
    assert scale_ladder.flags(
        _rungs((4, 6, 2 * mb, 10**5), (4, 6, 6 * mb, 3 * 10**5), (4, 6, 20 * mb, 10**6))
    ) == []
    # jobs move with the data (an adaptive route)
    assert scale_ladder.flags(
        _rungs((6, 8, 0, 10**5), (6, 8, 0, 3 * 10**5), (4, 8, 0, 10**6))
    ) == ["plan_moves"]
    # stages move too
    assert scale_ladder.flags(_rungs((4, 4, 0, 10), (4, 5, 0, 30))) == ["plan_moves"]
    # shuffle grows 8x for 3x rows, above the floor
    assert scale_ladder.flags(
        _rungs((2, 3, mb, 10**5), (2, 3, 8 * mb, 3 * 10**5), (2, 3, 27 * mb, 10**6))
    ) == ["shuffle_superlinear"]
    # a shuffle that appears from nothing above the floor (broadcast -> shuffle join)
    assert scale_ladder.flags(_rungs((2, 3, 0, 100), (2, 3, 5 * mb, 300))) == [
        "shuffle_superlinear"
    ]
    # the same 8x growth below the floor says nothing
    assert scale_ladder.flags(
        _rungs((2, 3, 1_000, 10**5), (2, 3, 8_000, 3 * 10**5), (2, 3, 64_000, 10**6))
    ) == []
    # a rung without counters (the query failed there)
    assert scale_ladder.flags([_rungs((1, 1, 0, 1))[0], None]) == ["unread"]
