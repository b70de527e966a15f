"""Pure helpers of the benchmark: percentiles, span self time, Spark
counter aggregation per tag, and counter diffs. No Spark imports, so
the unit tests run without a session."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from collections.abc import Iterable

# the guide's rule: report the highest percentile that still has at
# least this many samples beyond it
TAIL_MIN_BEYOND = 10
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def percentile(values: Iterable[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of
    ``n`` samples above it, or None when even p75 lacks them."""
    for pct in _TAIL_CANDIDATES:
        if round(n * (100.0 - pct) / 100.0, 9) >= min_beyond:
            return pct
    return None


def summarize(values: list[float]) -> dict:
    """Median, quartiles and the supported tail of a sample list."""
    out = {"n": len(values), "p50": statistics.median(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q1, q3
    pct = tail_percentile(len(values))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail"] = percentile(values, pct)
    return out


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] its children
    cover (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def self_times(spans: list[dict]) -> dict[int, float]:
    """{span id: self time} for spans given as dicts with id, parent,
    start and end."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: self_time(s["start"], s["end"], kids[s["id"]]) for s in spans}


# stage fields summed into counters, keyed by the counter name
STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": ("executorCpuTime", 1e-6),  # ns -> ms
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "output_rows": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}
COUNTERS = ("jobs", "stages", "tasks", "job_ms") + tuple(STAGE_FIELDS)


def aggregate_by_tag(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Sum Spark counters per job tag.

    ``jobs`` are REST ``JobData`` dicts (jobId, jobTags, stageIds,
    numCompletedStages, numCompletedTasks, submissionTime,
    completionTime as epoch ms or ISO strings already converted to ms
    under ``wall_ms``); ``stages`` are REST ``StageData`` dicts. A job
    carrying several tags counts once under each; a stage counts once
    per tag even when several jobs of that tag share it; only COMPLETE
    stage attempts contribute metrics."""
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for st in stages:
        if st.get("status") == "COMPLETE":
            by_stage[st["stageId"]].append(st)
    out: dict[str, dict] = {}
    seen_stages: dict[str, set] = defaultdict(set)
    for job in jobs:
        for tag in job.get("jobTags") or ():
            acc = out.setdefault(tag, dict.fromkeys(COUNTERS, 0))
            acc["jobs"] += 1
            acc["stages"] += job.get("numCompletedStages", 0)
            acc["tasks"] += job.get("numCompletedTasks", 0)
            acc["job_ms"] += job.get("wall_ms", 0)
            for sid in job.get("stageIds", ()):
                if sid in seen_stages[tag]:
                    continue
                seen_stages[tag].add(sid)
                for st in by_stage.get(sid, ()):
                    for name, field in STAGE_FIELDS.items():
                        scale = 1
                        if isinstance(field, tuple):
                            field, scale = field
                        acc[name] += st.get(field, 0) * scale
    return out


def diff_counters(prev: dict[str, dict], cur: dict[str, dict]) -> list[dict]:
    """Row per (key, counter): previous value, current value, and
    whether the count repeated exactly."""
    rows = []
    for key in sorted(set(prev) | set(cur)):
        a, b = prev.get(key, {}), cur.get(key, {})
        for name in sorted(set(a) | set(b)):
            va, vb = a.get(name), b.get(name)
            rows.append(
                {"key": key, "counter": name, "prev": va, "cur": vb, "same": va == vb}
            )
    return rows
