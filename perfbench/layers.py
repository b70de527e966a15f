"""Per-layer metrics of a traced run, one value per traced op (sums over
the traced ops divided by their number). Every workload reports every
metric; a layer the workload does not exercise reads 0."""

from __future__ import annotations

import json
import sys

from stats import COUNTERS, diff_counters, self_times

STAGES = ("session_events", "extracted", "dataset", "metrics")

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.load_table.calls": "count",
    "registry.load_table.ms": "ms",
    "catalog.build.ms": "ms",
    "catalog.build.driver_ms": "ms",
    "catalog.build.eager_jobs": "count",
    "catalog.build.eager_ms": "ms",
    "spark.plan.ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec.run_ms": "ms",
    "spark.exec.cpu_ms": "ms",
    "spark.exec.gc_ms": "ms",
    "spark.shuffle.read_bytes": "bytes",
    "spark.shuffle.write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.total_ms": "ms",
    "python.bytes_sent": "bytes",
    "ingest.append.ms": "ms",
    "ingest.append.rows": "count",
    "ingest.append.bytes": "bytes",
    **{f"pipeline.stage.{s}.ms": "ms" for s in STAGES},
    **{f"pipeline.stage.{s}.rows": "count" for s in STAGES},
    "pipeline.resumed_stages": "count",
    "vocab.build.ms": "ms",
    "vocab.encode.build_ms": "ms",
    "vocab.size": "count",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state.rows": "count",
    "stream.state.memory_mb": "MB",
    "stream.state.commit_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

# Spark 4.1 SQL metrics of the Python runners (ArrowEvalPython,
# FlatMapGroupsInPandasWithState, ...), by the UI's display name
PYTHON_SQL_METRICS = {
    "python.boot_ms": "time to start Python workers",
    "python.init_ms": "time to initialize Python workers",
    "python.total_ms": "time to run Python workers",
    "python.bytes_sent": "data sent to Python workers",
}

# counters of the per-query / per-stage table
TABLE_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_rows", "output_rows",
)


def _named(spans, name, **attrs):
    return [
        s for s in spans
        if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items())
    ]


def per_layer(spark, tracer, traced, whole_run: dict):
    """(metrics, detail) of a traced run."""
    from tracing import SparkCounters

    spans = tracer.span_dicts()
    roots = [s for s in spans if s["parent"] is None]
    sc = SparkCounters(spark)
    _attach_stream_jobs(sc, spans)
    by_span = sc.by_span()
    n = len(traced)

    def ms(name, **attrs):
        return sum((s["end"] - s["start"]) * 1000.0 for s in _named(spans, name, **attrs))

    def counters(selected):
        acc = dict.fromkeys(COUNTERS, 0.0)
        for s in selected:
            for k, v in by_span.get(s["id"], {}).items():
                acc[k] += v
        return acc

    # the stream drain that nep_pipeline appends to its traced op is
    # reported under stream.* and python.*, not in the op's Spark totals
    total = counters([s for s in roots if s["name"] != "stream.drain"])
    build = counters(_named(spans, "catalog.build"))
    ingest = counters(_named(spans, "ingest.ingest_events"))
    encode = counters(_named(spans, "vocab.encode"))
    job_ids = sc.jobs_of_spans({s["id"] for s in roots})
    sql = sc.sql_metrics(job_ids)

    m = dict(whole_run)
    m["registry.load_table.calls"] = len(_named(spans, "registry.load_table"))
    m["registry.load_table.ms"] = ms("registry.load_table")
    m["catalog.build.ms"] = ms("catalog.build")
    m["catalog.build.eager_jobs"] = build["jobs"]
    m["catalog.build.eager_ms"] = build["job_ms"]
    m["catalog.build.driver_ms"] = max(0.0, m["catalog.build.ms"] - build["job_ms"])
    m["spark.plan.ms"] = ms("spark.plan")
    m["spark.jobs"] = total["jobs"]
    m["spark.stages"] = total["stages"]
    m["spark.tasks"] = total["tasks"]
    m["spark.exec.run_ms"] = total["run_ms"]
    m["spark.exec.cpu_ms"] = total["cpu_ms"]
    m["spark.exec.gc_ms"] = total["gc_ms"]
    m["spark.shuffle.read_bytes"] = total["shuffle_read_bytes"]
    m["spark.shuffle.write_bytes"] = total["shuffle_write_bytes"]
    m["spark.input_bytes"] = total["input_bytes"]
    m["spark.output_bytes"] = total["output_bytes"]
    for key, name in PYTHON_SQL_METRICS.items():
        m[key] = sql.get(name, 0.0)
    m["ingest.append.ms"] = ms("ingest.ingest_events")
    m["ingest.append.rows"] = ingest["output_rows"]
    m["ingest.append.bytes"] = ingest["output_bytes"]
    pipeline_roots = {s["id"] for s in _named(spans, "nep.pipeline")}
    stage_spans = [s for s in _named(spans, "pipeline.checkpoint") if _root(spans, s) in pipeline_roots]
    for st in STAGES:
        m[f"pipeline.stage.{st}.ms"] = sum(
            (s["end"] - s["start"]) * 1000.0 for s in stage_spans if s["attrs"]["stage"] == st
        )
        m[f"pipeline.stage.{st}.rows"] = sum(
            r.detail.get("stage_rows", {}).get(st, 0) for r in traced
        )
    m["pipeline.resumed_stages"] = sum(len(r.detail.get("resumed_stages", ())) for r in traced)
    m["vocab.build.ms"] = ms("vocab.build_vocab")
    m["vocab.encode.build_ms"] = max(0.0, ms("vocab.encode") - encode["job_ms"])
    m["vocab.size"] = sum(r.detail.get("metrics", {}).get("vocab_size", 0) for r in traced)
    m.update(_stream_metrics(traced))

    out = {}
    for k, unit in UNITS.items():
        if k.startswith(("session.", "mem.")):
            v = m[k]  # once per run, not per op
        elif k == "trace.overhead_pct":
            # the tracer's own time plus the forced plans, which an
            # untraced op never computes, over the traced time (the root
            # spans: passes, flows, resumes and drains)
            extra_ms = tracer.overhead_s * 1000.0 + m["spark.plan.ms"]
            v = 100.0 * extra_ms / sum((s["end"] - s["start"]) * 1000.0 for s in roots)
        elif k == "stream.state.rows" or k == "stream.state.memory_mb":
            v = m[k]  # a high-water mark, not a per-op sum
        else:
            v = m[k] / n
        out[k] = {"value": float(v), "unit": unit}

    selfs = self_times(spans)
    self_by_name: dict[str, float] = {}
    for s in spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + selfs[s["id"]] * 1000.0 / n
    detail = {
        "traced_ops": n,
        "tracer_overhead_ms": tracer.overhead_s * 1000.0,
        "self_ms_per_op": self_by_name,
        "counters": counter_table(spans, by_span),
        "sql_metric_names": sorted(sql),
        "per_layer": out,
    }
    log_self_times(self_by_name)
    return out, detail


def _root(spans, s):
    while s["parent"] is not None:
        s = spans[s["parent"]]
    return s["id"]


def _attach_stream_jobs(sc, spans) -> None:
    """Micro-batch jobs run under the streaming query's own job group
    (its run id); give them the tag of the span that drained the query."""
    from tracing import TAG_PREFIX

    by_run = {s["attrs"]["run_id"]: s["id"] for s in spans if "run_id" in s["attrs"]}
    for j in sc.jobs:
        sid = by_run.get(j.get("jobGroup"))
        tag = f"{TAG_PREFIX}{sid}"
        if sid is not None and tag not in (j.get("jobTags") or ()):
            j["jobTags"] = list(j.get("jobTags") or ()) + [tag]


def _stream_metrics(traced) -> dict:
    m = {k: 0.0 for k in UNITS if k.startswith("stream.")}
    for r in traced:
        for prog in r.detail.get("progress", {}).values():
            for p in prog:
                if p.get("numInputRows", 0) > 0:
                    m["stream.batches"] += 1
                d = p.get("durationMs", {})
                m["stream.add_batch_ms"] += d.get("addBatch", 0)
                m["stream.planning_ms"] += d.get("queryPlanning", 0)
                m["stream.commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
                for so in p.get("stateOperators") or ():
                    m["stream.state.rows"] = max(m["stream.state.rows"], so.get("numRowsTotal", 0))
                    m["stream.state.memory_mb"] = max(
                        m["stream.state.memory_mb"], (so.get("memoryUsedBytes", 0) or 0) / 1e6
                    )
                    m["stream.state.commit_ms"] += so.get("commitTimeMs", 0)
    return m


def counter_table(spans, by_span) -> dict:
    """{"query:<name>" | "stage:<name>": counters} of the first traced
    op, plus whether each count repeated exactly in the second op."""
    keyed: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"] == "catalog.query":
            key = f"query:{s['attrs']['query']}"
        elif s["name"] == "pipeline.checkpoint" and spans[s["parent"]]["name"] == "nep.run_nep_flow":
            root = spans[_root(spans, s)]["name"]
            key = f"stage:{s['attrs']['stage']}" + ("" if root == "nep.pipeline" else ":resume")
        elif s["name"] in ("stream.dedup", "stream.sessionize", "ingest.ingest_events"):
            key = s["name"]
        else:
            continue
        c = by_span.get(s["id"], {})
        keyed.setdefault(key, []).append({k: c.get(k, 0) for k in TABLE_COUNTERS})
    table = {}
    for key, runs in keyed.items():
        row = dict(runs[0])
        if len(runs) > 1:
            row["repeats"] = sorted(k for k in TABLE_COUNTERS if runs[0][k] == runs[1][k])
        table[key] = row
    return table


def log_self_times(self_by_name: dict) -> None:
    print("self time per op (ms):", file=sys.stderr)
    for name, v in sorted(self_by_name.items(), key=lambda kv: -kv[1]):
        print(f"  {name:28s} {v:10.1f}", file=sys.stderr)


def print_counter_diff(prev_path: str, cur: dict) -> None:
    """Print the counter table beside an earlier trace file's, marking
    each count '=' when it repeated exactly."""
    with open(prev_path) as f:
        prev = json.load(f)["counters"]
    strip = lambda t: {k: {c: v for c, v in r.items() if c != "repeats"} for k, r in t.items()}  # noqa: E731
    rows = diff_counters(strip(prev), strip(cur))
    same = sum(r["same"] for r in rows)
    print(f"counter diff vs {prev_path}: {same}/{len(rows)} counts repeat exactly",
          file=sys.stderr)
    for r in rows:
        mark = "=" if r["same"] else "!"
        print(f"  {mark} {r['key']:40s} {r['counter']:20s} {r['prev']!s:>14} -> {r['cur']!s:>14}",
              file=sys.stderr)
