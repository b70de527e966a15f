"""The materialize-and-observe primitive (operators/obs.py).

Every site that reads an observe() metric gives the same result when
the metric never arrives; the first miss logs one warning and is
counted, and no later read in the process waits again. A guard keeps
obs.py the only module that reads Observation metrics.
"""

from __future__ import annotations

import logging
import pathlib
import re

import pytest

from post_modern_stack_spark.operators import obs


def _pagerank(spark, base, sf_dir):
    from post_modern_stack_spark.operators.graph import pagerank

    # nodes 12 and 13 have no out-edges, so the dangling mass matters
    edges = [(i, (i * 5 + 3) % 14) for i in range(12)] + [(0, 12), (4, 13)]
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}


def _cluster_pairs(spark, base, sf_dir):
    from post_modern_stack_spark.operators.dedup import cluster_pairs

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (12, 11)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return sorted(tuple(r) for r in cluster_pairs(df).collect())


def _bpe_train(spark, base, sf_dir):
    from post_modern_stack_spark.operators.vocab import bpe_train

    texts = ["low lower lowest", "new newer newest", "low low new"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges, state = bpe_train(df, n_merges=4)
    return merges, sorted((r["w"], r["cnt"], tuple(r["syms"])) for r in state.collect())


def _checkpoint(spark, base, sf_dir):
    from post_modern_stack_spark.plans.pipeline import PipelineRunner

    runner = PipelineRunner(spark, str(base), "run")
    out = runner.checkpoint("ids", spark.range(7))
    return runner.results[-1].rows, sorted(r["id"] for r in out.collect())


def _funnel(spark, base, sf_dir):
    from post_modern_stack_spark.plans.catalog_text import q_curation_funnel

    return [r.asDict() for r in q_curation_funnel(spark, sf_dir).collect()]


SITES = {
    "pagerank": _pagerank,
    "cluster_pairs": _cluster_pairs,
    "bpe_train": _bpe_train,
    "checkpoint": _checkpoint,
    "curation_funnel": _funnel,
}


@pytest.mark.parametrize("name", list(SITES))
def test_forced_fallback_matches_observed_route(
    spark, sf_dir, tmp_path, monkeypatch, caplog, name
):
    monkeypatch.setattr(obs, "_missed", False)
    monkeypatch.setattr(obs, "fallbacks", 0)
    second = "bpe_train" if name == "checkpoint" else "checkpoint"
    observed = SITES[name](spark, tmp_path / "observed", sf_dir)
    observed_second = SITES[second](spark, tmp_path / "observed-second", sf_dir)
    assert obs.fallbacks == 0

    polls = []
    poll = obs._observed_value
    monkeypatch.setattr(
        obs, "_observed_value", lambda o, t: polls.append(t) or poll(o, t)
    )
    monkeypatch.setattr(obs, "TIMEOUT_S", 0.0)  # the metric never arrives in time
    with caplog.at_level(logging.WARNING, logger=obs.__name__):
        forced = SITES[name](spark, tmp_path / "forced", sf_dir)
        after_first = obs.fallbacks
        forced_second = SITES[second](spark, tmp_path / "forced-second", sf_dir)

    # float sums may associate differently in the fallback aggregate
    want = pytest.approx(observed, rel=1e-12) if name == "pagerank" else observed
    assert forced == want
    assert forced_second == observed_second
    warnings = [r for r in caplog.records if r.name == obs.__name__]
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING
    assert 0 < after_first < obs.fallbacks
    # one bounded wait for the whole process: the second site never polls
    assert polls == [0.0]


def test_only_obs_module_reads_observation_metrics():
    """``Observation.get`` blocks with no timeout; every read goes
    through operators/obs.py, which bounds it and owns the fallback."""
    pkg = pathlib.Path(obs.__file__).resolve().parents[1]
    reads = re.compile(r"Observation\.get|\.get\[|observed_value")
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != pathlib.Path(obs.__file__).resolve() and reads.search(p.read_text())
    ]
    assert offenders == []
