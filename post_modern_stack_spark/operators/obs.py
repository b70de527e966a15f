"""Materialize-and-observe: the one module that reads observe() metrics.

A stage's scalars (row counts, convergence counts, a dangling-mass sum)
ride the action that materializes it instead of costing a second job.
``Observation.get`` blocks with NO timeout, so reads here poll the
JVM-side ``getOrEmpty`` (≤100 ms per call) for up to ``TIMEOUT_S``. A
metric that never arrives is a property of the Spark build, not of one
query: the first miss logs one warning, and from then on every read
runs its fallback aggregate at once and ``checkpoint_observed`` stops
attaching ``observe``. ``fallbacks`` counts every fallback taken.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation

log = logging.getLogger(__name__)

TIMEOUT_S = 30.0
fallbacks = 0
_missed = False


def _observed_value(obs, timeout_s: float) -> dict | None:
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            if not jo.getOrEmpty().isEmpty():
                return obs.get
        except Exception:
            return None
    return None


def _read(obs, fallback: Callable[[], dict]) -> dict:
    global fallbacks, _missed
    metrics = None if _missed else _observed_value(obs, TIMEOUT_S)
    if metrics is not None:
        return metrics
    if not _missed:
        _missed = True
        log.warning(
            "observe() metric not delivered within %.0f s; using fallback "
            "aggregates for the rest of this process",
            TIMEOUT_S,
        )
    fallbacks += 1
    return fallback()


def read_observed(obs: Observation, key: str, fallback: Callable[[], object]):
    """Metric ``key`` of ``obs``, or ``fallback()`` on a miss."""
    return _read(obs, lambda: {key: fallback()})[key]


def checkpoint_observed(
    df: DataFrame,
    materialize: Callable[[DataFrame], DataFrame] = lambda d: d.localCheckpoint(),
    **aggs: Column,
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` and return it with the named aggregates over
    its rows, observed during the materialization or, on a miss,
    computed over the materialized frame. (The default is a lambda: on
    Spark 4 ``DataFrame.localCheckpoint`` is the abstract base method.)"""
    cols = [c.alias(name) for name, c in aggs.items()]
    obs = None
    if _missed:
        out = materialize(df)
    else:
        obs = Observation()
        out = materialize(df.observe(obs, *cols))
    return out, _read(obs, lambda: out.agg(*cols).first().asDict())
