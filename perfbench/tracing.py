"""Tracing from the benchmark's own files.

Spans are recorded around calls into the package's public functions by
replacing the names the callers look up (module globals, class
attributes) for the duration of the traced run; the package itself is
never edited. Each span adds a Spark job tag while it is open, so every
job a call launches carries the tags of all spans enclosing it. After
the run the Spark counters are read from the UI's REST API and summed
per tag. Spans stay in memory until the benchmark writes them at exit.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import aggregate_by_tag, self_times

TAG_PREFIX = "pbspan-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = -1
        # seconds spent inside the tracer itself (span bookkeeping, job
        # tags, wrapper attributes) while the traced ops ran
        self.overhead_s = 0.0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.op, t0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        tag = f"{TAG_PREFIX}{s.id}"
        self.sc.addJobTag(tag)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            self.sc.removeJobTag(tag)
            self._stack.pop()
            s.end = time.perf_counter()
            self.overhead_s += s.end - t1

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until
        :meth:`restore`. ``attrs_of(args, kwargs)`` names span attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            extra = attrs_of(args, kwargs) if attrs_of else {}
            self.overhead_s += time.perf_counter() - t0
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def span_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

    def write(self, path: str, extra: dict) -> None:
        spans = self.span_dicts()
        selfs = self_times(spans)
        for s in spans:
            s["self_ms"] = selfs[s["id"]] * 1000.0
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# Spark counters from the UI REST API
# ---------------------------------------------------------------------------


def _iso_ms(s: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' -> epoch ms."""
    if not s:
        return None
    from datetime import datetime, timezone

    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


class SparkCounters:
    """Jobs, stages and SQL executions of this application, read once
    after the run from the REST API on the driver's UI port."""

    def __init__(self, spark):
        sc = spark.sparkContext
        # events reach the UI store through the listener bus; let it drain
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 - best effort, the REST read retries below
            time.sleep(2.0)
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._get("/jobs")
        for j in self.jobs:
            lo, hi = _iso_ms(j.get("submissionTime")), _iso_ms(j.get("completionTime"))
            j["wall_ms"] = (hi - lo) if lo is not None and hi is not None else 0.0
        self.stages = self._get("/stages")
        self.sql = self._get("/sql?details=true&planDescription=false&length=1000000")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def by_span(self) -> dict[int, dict]:
        """Inclusive counters per span id."""
        out = {}
        for tag, acc in aggregate_by_tag(self.jobs, self.stages).items():
            if tag.startswith(TAG_PREFIX):
                out[int(tag[len(TAG_PREFIX):])] = acc
        return out

    def jobs_of_spans(self, span_ids: set[int]) -> set[int]:
        tags = {f"{TAG_PREFIX}{i}" for i in span_ids}
        return {j["jobId"] for j in self.jobs if tags & set(j.get("jobTags") or ())}

    def sql_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Sum every SQL plan-node metric (by name) over the executions
        that ran any of ``job_ids``. Values are the UI's display strings;
        the leading total is parsed, with its unit normalised to ms or
        bytes."""
        out: dict[str, float] = {}
        for ex in self.sql:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    v = parse_metric_value(m.get("value", ""))
                    if v is not None:
                        out[m["name"]] = out.get(m["name"], 0.0) + v
        return out


_UNITS = {
    "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0, "ns": 1e-6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric_value(text: str) -> float | None:
    """'total (min, med, max (stageId: taskId))\\n12.3 MiB (...)' -> bytes;
    '1.2 s' -> ms; '42' -> 42. Returns None when unparseable."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    if not lines:
        return None
    first = lines[-1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    first = first.split("(")[0].strip().replace(",", "")
    parts = first.split()
    try:
        num = float(parts[0])
    except (IndexError, ValueError):
        return None
    if len(parts) > 1:
        return num * _UNITS.get(parts[1], 1.0)
    return num
