"""The three benchmark workloads.

Each workload generates its inputs from the seed (``generate``), warms
the session (``warmup``), runs one closed-loop op at a time (``op``,
untraced, or ``traced_op`` under a :class:`tracing.Tracer`), and checks
outputs outside the timed runs (``check``). An op returns its wall
time, its step latencies and its input rows:

- catalog_sweep: op = one pass over the sampled catalog, step = a query;
- nep_pipeline: op = two ingests + ``run_nep_flow``, step = a
  ``resume=True`` rerun of the same run id;
- stream_sessionize: op = drain the backlog through the dedup query and
  then through the bucketed sessionizer, step = a sessionizer
  micro-batch carrying data (its ``triggerExecution``).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen


@dataclass
class OpResult:
    wall_s: float
    steps_s: list[float]
    rows: int  # input rows consumed (catalog_sweep: queries run)
    detail: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


# ---------------------------------------------------------------------------
# catalog_sweep
# ---------------------------------------------------------------------------


class CatalogSweep:
    """A seeded-order pass over a fixed sample of ``queries()`` on a
    generated catalog at ``SF``.

    A full pass over every entry takes about three minutes on four
    cores, longer than one run may last, so the op covers a fixed sample
    drawn to match the catalog's mix. Ranked by their per-query medians
    in ``BENCH_DETAIL.json``, the 196 queries that launch no Spark job
    while building give 9 (the midpoints of 9 equal-count bins) and the
    23 iterative ones that do give 1 (their median, predict_hit_rate
    with 7 build jobs), near the catalog's 23 in 219. Each pick is the
    nearest query that is oracle-paired, has a DuckDB twin under 1 s and
    is not listed as bimodal there. The sample does not depend on the
    seed; the seed fixes the generated tables and the visiting order.

    The warm-up pass is also the output check: every query of the sample
    is collected and compared with its DuckDB oracle on the generated
    tables."""

    name = "catalog_sweep"
    SF = 0.01
    SAMPLE = (
        # no job while building, fastest to slowest
        "lang_distribution", "semantic_dedup", "monthly_revenue_growth",
        "latest_event_per_user", "benford_check", "purchase_last_view",
        "cuped_adjusted_lift", "embedding_near_dups", "brand_supplier_counts",
        # Spark jobs inside the build
        "predict_hit_rate",
    )

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)
        self.failures: list[str] = []

    def generate(self, out: str) -> dict:
        return gen.catalog_tables(out, self.seed, self.SF)

    def use_inputs(self, path: str) -> None:
        self.data = path

    def _load(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        self.queries = {n: qs[n] for n in self.SAMPLE}
        oracles = __spark_entry__.oracle_sql()
        self.oracles = {n: oracles[n] for n in self.SAMPLE}

    def warmup(self, spark) -> None:
        self._load()
        self.failures = self._check(spark)

    def _order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def op(self, spark) -> OpResult:
        steps = []
        t0 = time.perf_counter()
        for n in self._order():
            q0 = time.perf_counter()
            _noop(self.queries[n](spark, self.data))
            steps.append(time.perf_counter() - q0)
        return OpResult(time.perf_counter() - t0, steps, len(steps))

    def traced_op(self, spark, tracer) -> OpResult:
        steps = []
        t0 = time.perf_counter()
        for n in self._order():
            q0 = time.perf_counter()
            with tracer.span("catalog.query", query=n):
                with tracer.span("catalog.build", query=n):
                    df = self.queries[n](spark, self.data)
                with tracer.span("spark.plan", query=n):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.action", query=n):
                    _noop(df)
            steps.append(time.perf_counter() - q0)
        return OpResult(time.perf_counter() - t0, steps, len(steps))

    def install_wrappers(self, tracer) -> None:
        from post_modern_stack_spark import registry

        orig = registry.load_table
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("post_modern_stack_spark") and (
                getattr(mod, "load_table", None) is orig
            ):
                tracer.wrap(
                    mod, "load_table", "registry.load_table",
                    lambda a, k: {"table": a[2] if len(a) > 2 else k.get("name")},
                )

    def _check(self, spark) -> list[str]:
        """Run each sampled query once; each must equal its DuckDB
        oracle (order-insensitive, columns sorted by name, doubles
        compared at 6 decimals)."""
        import duckdb

        con = duckdb.connect()
        failed = []
        try:
            for t in os.listdir(self.data):
                con.execute(
                    f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data, t)}')"
                )
            for n, q in self.queries.items():
                t0 = time.perf_counter()
                try:
                    if not frames_equal(
                        q(spark, self.data).toPandas(), con.execute(self.oracles[n]).df()
                    ):
                        failed.append(f"{n}: differs from its DuckDB oracle")
                except Exception as e:  # noqa: BLE001 - a crash is a failed check
                    failed.append(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                print(f"check {n} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        finally:
            con.close()
        return failed

    def check(self, spark) -> list[str]:
        return self.failures


def frames_equal(a, b) -> bool:
    """Order-insensitive frame equality with columns sorted by name."""
    import pandas as pd

    cols = sorted(a.columns)
    if cols != sorted(b.columns) or a.shape != b.shape:
        return False

    def canon(df):
        out = pd.DataFrame(index=range(len(df)))
        for c in cols:
            s = df[c].reset_index(drop=True)
            if pd.api.types.is_float_dtype(s):
                s = s.round(6)
            out[c] = s.map(lambda v: "<null>" if _is_null(v) else str(v))
        return out.sort_values(cols).reset_index(drop=True)

    return canon(a).equals(canon(b))


def _is_null(v) -> bool:
    try:
        return v is None or bool(v != v)
    except (TypeError, ValueError):
        return False


# ---------------------------------------------------------------------------
# nep_pipeline
# ---------------------------------------------------------------------------


class NepPipeline:
    """The reference NEP flow on a generated raw log: two ETL loads of
    the same nested sessions appended into a fresh directory, the full
    ``run_nep_flow``, then its ``resume=True`` rerun.

    The traced op then drains a small event backlog through the
    streaming layer (:class:`StreamSessionize`), so the stream.*
    per-layer metrics are measured by a workload of the benchmark."""

    name = "nep_pipeline"
    # resume_s is reported, not gated (see README.md); one keeps runs short
    RESUMES = 1
    SESSIONS = 2_000
    SKUS = 20_000
    MEAN_LEN = 20
    STREAM_FILES = 2
    STREAM_ROWS_PER_FILE = 10_000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.n_ops = 0
        self.failures: list[str] = []
        self.stream = StreamSessionize(work, seed)

    def generate(self, out: str) -> dict:
        os.makedirs(out, exist_ok=True)
        self.truth = gen.nep_sessions(
            os.path.join(out, "sessions.parquet"),
            self.seed, self.SESSIONS, self.SKUS, self.MEAN_LEN,
        )
        self.stream_truth = gen.stream_backlog(
            os.path.join(out, "stream"), self.seed,
            self.STREAM_FILES, self.STREAM_ROWS_PER_FILE, StreamSessionize.USERS,
        )
        return dict(self.truth.as_dict(), stream=self.stream_truth.as_dict())

    def use_inputs(self, path: str) -> None:
        self.inputs = path
        self.stream.use_inputs(path)

    def warmup(self, spark) -> None:
        """None: the op is the first flow of the session, as a scheduled
        run of the flow starts a fresh process; its resumes run warm."""

    def _run(self, spark, tracer=None) -> OpResult:
        from post_modern_stack_spark.plans.nep_flow import run_nep_flow
        from post_modern_stack_spark.sources import ingest

        self.n_ops += 1
        out = os.path.join(self.work, f"nep_op{self.n_ops}")
        raw_path = os.path.join(out, "raw_events")
        kw = dict(api_key=gen.NEP_API_KEY, start_date=gen.NEP_START, end_date=gen.NEP_END)

        t0 = time.perf_counter()
        with _span(tracer, "nep.pipeline"):
            sessions = spark.read.parquet(os.path.join(self.inputs, "sessions.parquet"))
            for i, etl_id in enumerate(("etl-1", "etl-2")):
                ingest.ingest_events(
                    sessions, raw_path, gen.NEP_API_KEY,
                    etl_id=etl_id, etl_timestamp_ms=1_552_700_000_000 + i,
                )
            raw = ingest.read_raw_events(spark, raw_path)
            res = run_nep_flow(spark, raw, out, "run", **kw)
        wall = time.perf_counter() - t0
        self.failures += nep_mismatches(res, self.truth)
        resume_s = []
        for _ in range(self.RESUMES):
            t1 = time.perf_counter()
            with _span(tracer, "nep.resume"):
                res2 = run_nep_flow(spark, raw, out, "run", resume=True, **kw)
            resume_s.append(time.perf_counter() - t1)
            self.failures += nep_mismatches(res2, self.truth)
            if res2["resumed_stages"] != res["stages"]:
                self.failures.append(f"resume recomputed {res2['resumed_stages']}")
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(
            wall, resume_s, self.truth.raw_events * 2,
            {"stage_rows": res["stage_rows"], "resumed_stages": res2["resumed_stages"],
             "metrics": res["metrics"]},
        )

    def op(self, spark) -> OpResult:
        return self._run(spark)

    def traced_op(self, spark, tracer) -> OpResult:
        r = self._run(spark, tracer)
        # a separate root span: the Spark totals of the traced run leave it out
        with tracer.span("stream.drain"):
            s = self.stream.drain(spark, "stream", self.stream_truth, tracer)
        r.detail.update(progress=s.detail["progress"], stream_walls=s.detail["walls"])
        return r

    def install_wrappers(self, tracer) -> None:
        from post_modern_stack_spark.operators import shaping, vocab
        from post_modern_stack_spark.plans import nep_flow
        from post_modern_stack_spark.plans.pipeline import PipelineRunner
        from post_modern_stack_spark.sources import ingest

        tracer.wrap(ingest, "ingest_events", "ingest.ingest_events")
        tracer.wrap(nep_flow, "run_nep_flow", "nep.run_nep_flow")
        tracer.wrap(
            PipelineRunner, "checkpoint", "pipeline.checkpoint",
            lambda a, k: {"stage": a[1]},
        )
        tracer.wrap(vocab, "build_vocab", "vocab.build_vocab")
        tracer.wrap(vocab, "encode", "vocab.encode")
        tracer.wrap(shaping, "split_by_time", "shaping.split_by_time")

    def check(self, spark) -> list[str]:
        return self.failures + self.stream.failures


def nep_mismatches(res: dict, truth: gen.NepTruth) -> list[str]:
    """Stage rows and flow metrics against what the generator implies."""
    want_rows = {
        "session_events": truth.session_events,
        "extracted": truth.extracted,
        "dataset": truth.extracted,
        "metrics": 5,
    }
    want_metrics = {
        "n_sessions": truth.extracted,
        "n_train": truth.n_train,
        "n_test": truth.n_test,
        "vocab_size": truth.vocab_size,
    }
    bad = [
        f"stage {k}: {res['stage_rows'].get(k)} rows, expected {v}"
        for k, v in want_rows.items()
        if res["stage_rows"].get(k) != v
    ]
    bad += [
        f"metric {k}: {res['metrics'].get(k)}, expected {v}"
        for k, v in want_metrics.items()
        if res["metrics"].get(k) != v
    ]
    return bad


# ---------------------------------------------------------------------------
# stream_sessionize
# ---------------------------------------------------------------------------


class StreamSessionize:
    """An ordered file backlog drained one file per micro-batch, first
    through ``dedup_events`` (10-minute watermark, availableNow, parquet
    sink), then through ``stateful_session_arrays_bucketed``."""

    name = "stream_sessionize"
    FILES = 3
    ROWS_PER_FILE = 20_000
    USERS = 20_000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.n_ops = 0
        self.failures: list[str] = []
        self.checked = False

    def generate(self, out: str) -> dict:
        self.truth = gen.stream_backlog(
            os.path.join(out, "backlog"), self.seed,
            self.FILES, self.ROWS_PER_FILE, self.USERS,
        )
        self.warm_truth = gen.stream_backlog(
            os.path.join(out, "warmup"), self.seed + 1, 1, 1_000, self.USERS
        )
        return self.truth.as_dict()

    def use_inputs(self, path: str) -> None:
        self.inputs = path

    def warmup(self, spark) -> None:
        self.drain(spark, "warmup", self.warm_truth)

    @staticmethod
    def _wait_drained(query, rows: int, sp) -> tuple[float, list[dict]]:
        """Wait until ``query`` has consumed ``rows`` input rows, then
        stop it. Returns (seconds from start to drained, progress).

        The sessionizer's processing-time timeouts keep an availableNow
        run from ending, so both queries are drained by polling."""
        if sp is not None:
            sp.attrs["run_id"] = str(query.runId)
        t0 = time.perf_counter()
        while True:
            prog = query.recentProgress
            if sum(p.get("numInputRows", 0) for p in prog) >= rows:
                break
            if not query.isActive:
                query.awaitTermination()  # raises the query's error, if any
                break
            time.sleep(0.02)
        wall = time.perf_counter() - t0
        query.stop()
        return wall, list(query.recentProgress)

    def drain(self, spark, backlog: str, truth: gen.StreamTruth, tracer=None) -> OpResult:
        """Drain ``<inputs>/<backlog>`` through both queries; the first
        drain that is not the warm-up also checks the dedup sink."""
        from post_modern_stack_spark.streaming.dedup_stream import dedup_events
        from post_modern_stack_spark.streaming.sessionize_stream import (
            stateful_session_arrays_bucketed,
            stream_events,
        )

        self.n_ops += 1
        src = os.path.join(self.inputs, backlog)
        base = os.path.join(self.work, f"stream_op{self.n_ops}")

        walls, progress = {}, {}
        with _span(tracer, "stream.dedup") as sp:
            q = (
                dedup_events(stream_events(spark, src, max_files_per_trigger=1),
                             watermark="10 minutes")
                .writeStream.format("parquet")
                .option("path", os.path.join(base, "dedup_out"))
                .option("checkpointLocation", os.path.join(base, "dedup_ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            walls["dedup"], progress["dedup"] = self._wait_drained(q, truth.rows, sp)
        with _span(tracer, "stream.sessionize") as sp:
            q = (
                stateful_session_arrays_bucketed(
                    stream_events(spark, src, max_files_per_trigger=1)
                )
                .writeStream.format("memory")
                .queryName(f"sessions_{self.n_ops}")
                .option("checkpointLocation", os.path.join(base, "sess_ckpt"))
                .outputMode("append")
                .start()
            )
            walls["sessionize"], progress["sessionize"] = self._wait_drained(
                q, truth.rows, sp
            )

        for name, prog in progress.items():
            consumed = sum(p.get("numInputRows", 0) for p in prog)
            if consumed != truth.rows:
                self.failures.append(f"{name} consumed {consumed} of {truth.rows} rows")
        # the step is a sessionizer micro-batch: the stateful Python
        # protocol dominates it; dedup batch times stay in the detail
        steps = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress["sessionize"]
            if p.get("numInputRows", 0) > 0
        ]
        if not self.checked and backlog != "warmup":
            self.checked = True
            self.failures += self._check_dedup(spark, src, os.path.join(base, "dedup_out"), truth)
        spark.catalog.dropTempView(f"sessions_{self.n_ops}")
        shutil.rmtree(base, ignore_errors=True)
        return OpResult(
            sum(walls.values()), steps, 2 * truth.rows, {"progress": progress, "walls": walls}
        )

    def _check_dedup(self, spark, src: str, sink: str, truth: gen.StreamTruth) -> list[str]:
        from post_modern_stack_spark.streaming.dedup_stream import dedup_events
        from post_modern_stack_spark.streaming.sessionize_stream import EVENTS_STREAM_SCHEMA

        streamed = spark.read.parquet(sink).count()
        batch = dedup_events(
            spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        ).count()
        bad = []
        if streamed != batch:
            bad.append(f"stream dedup kept {streamed} rows, batch dedup_events {batch}")
        if batch != truth.distinct_event_ids:
            bad.append(f"batch dedup kept {batch}, generator planted {truth.distinct_event_ids}")
        return bad

    def op(self, spark) -> OpResult:
        return self.drain(spark, "backlog", self.truth)

    def traced_op(self, spark, tracer) -> OpResult:
        return self.drain(spark, "backlog", self.truth, tracer)

    def install_wrappers(self, tracer) -> None:
        pass

    def check(self, spark) -> list[str]:
        return self.failures


WORKLOADS = {w.name: w for w in (CatalogSweep, NepPipeline, StreamSessionize)}
