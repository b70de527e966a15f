"""Pipeline runner — Metaflow's linear DAG + dbt's model DAG, in-process
(SURVEY.md §2 I1-I5, §3 entry points 1-2).

- Each *stage* is a named function over DataFrames; its output is
  checkpointed to ``runs/<run_id>/<stage>/`` parquet, mirroring
  Metaflow's per-step artifact snapshots (reference
  src/my_dbt_flow.py:79-510) so any stage can resume from disk.
- The *model registry* is the dbt manifest analog (reference
  dbt/target/manifest.json parsed at my_dbt_flow.py:134-137): models
  declare dependencies, run in topo order, and materialize as temp
  views (dbt ``materialized: view`` parity, dbt_project.yml:27).
- ``validate`` is the fail-fast start step (my_dbt_flow.py:79-120).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from post_modern_stack_spark.operators.obs import checkpoint_observed


@dataclass
class Model:
    """One dbt-model analog: name + builder + upstream deps."""

    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: list[str] = field(default_factory=list)


class ModelRegistry:
    """Topo-ordered model DAG; replaces dbt ref()/manifest (I3)."""

    def __init__(self) -> None:
        self.models: dict[str, Model] = {}

    def register(self, name: str, deps: list[str] | None = None):
        def deco(fn):
            self.models[name] = Model(name, fn, deps or [])
            return fn

        return deco

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str, path: tuple[str, ...]) -> None:
            if n in seen:
                return
            if n in path:
                raise ValueError(f"model cycle: {' -> '.join(path)} -> {n}")
            for d in self.models[n].deps:
                visit(d, path + (n,))
            seen.add(n)
            order.append(n)

        for n in self.models:
            visit(n, ())
        return order

    def manifest(self) -> dict:
        """Observability dict, shaped like the reference's parsed dbt
        manifest graph (my_dbt_flow.py:134-170)."""
        return {
            "nodes": {
                n: {"depends_on": m.deps, "materialized": "view"}
                for n, m in self.models.items()
            },
            "order": self.topo_order(),
        }

    def run(
        self, spark: SparkSession, inputs: dict[str, DataFrame]
    ) -> dict[str, DataFrame]:
        """dbt-run parity: build each model in dependency order and
        register it as a temp view (recompute-on-read semantics)."""
        built = dict(inputs)
        for name in self.topo_order():
            df = self.models[name].build(spark, built)
            df.createOrReplaceTempView(name)
            built[name] = df
        return built


@dataclass
class StageResult:
    name: str
    path: str
    rows: int | None = None
    resumed: bool = False
    # the checkpoint's extra observed aggregates, replayed on resume
    observed: dict = field(default_factory=dict)


class PipelineRunner:
    """Linear DAG with parquet checkpoints (I1; Metaflow step parity).

    ``resume=True`` is Metaflow's ``resume`` semantics (reference
    README.md run instructions): a stage whose artifact already exists
    COMPLETE under this run_id is read back instead of recomputed —
    the write is skipped, upstream lineage stays lazy and unexecuted,
    and what the write recorded is replayed from the stage's metadata
    sidecar: the row count, the schema (so the read-back runs no
    parquet schema-inference job), the observed aggregates and any
    :meth:`check` result. Completeness = Hadoop ``_SUCCESS`` marker +
    the sidecar; a partially-written artifact (killed mid-write) has
    neither and recomputes. At 100 TB this is the difference between
    re-running a 6-hour ingest and skipping straight to the failed
    stage."""

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        run_id: str,
        resume: bool = False,
    ) -> None:
        self.spark = spark
        self.run_id = run_id
        self.base = os.path.join(run_dir, run_id)
        self.resume = resume
        self.results: list[StageResult] = []

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.base, f"{name}.meta.json")

    def _complete(self, name: str) -> bool:
        path = os.path.join(self.base, name)
        return os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            self._meta_path(name)
        )

    def _read_meta(self, name: str) -> dict | None:
        # the sidecar is written via temp+rename so a present file is
        # normally whole, but an older layout (or a copy made by
        # non-atomic tooling) can leave a truncated or schema-less
        # file: treat it as incomplete and recompute the stage rather
        # than crash the resumed run
        try:
            with open(self._meta_path(name)) as f:
                meta = json.load(f)
            meta["schema"] = StructType.fromJson(meta["schema"])
            whole = meta["rows"] is not None and isinstance(meta["observed"], dict)
        except (ValueError, KeyError, TypeError, OSError):
            return None
        return meta if whole else None

    def _write_meta(self, name: str, meta: dict) -> None:
        # temp + atomic rename: a process killed mid-write must never
        # leave a present-but-truncated sidecar next to a _SUCCESS
        # marker (resume would otherwise trust it)
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(dict(meta, schema=meta["schema"].jsonValue()), f)
        os.replace(tmp, self._meta_path(name))

    def checkpoint(self, name: str, df: DataFrame, **observe: Column) -> DataFrame:
        """Write a stage artifact and return the re-read DataFrame (so
        downstream stages read the materialized checkpoint, cutting
        lineage like Metaflow artifact snapshots do). The read-back
        passes the frame's schema, so it launches no schema-inference
        job.

        The stage row count, and any ``observe`` aggregates (name →
        aggregate Column over ``df``'s rows), ride on ``df.observe`` —
        accumulated DURING the write instead of a second job per value
        (the Metaflow-card metrics analog; at 100 TB a free byproduct vs
        a full re-scan). They land in the stage's ``StageResult`` and
        sidecar. If the metric never arrives, they are computed over the
        written artifact instead (operators/obs.checkpoint_observed)."""
        path = os.path.join(self.base, name)
        if self.resume and self._complete(name):
            meta = self._read_meta(name)
            # a sidecar without every requested aggregate cannot replay it
            if meta is not None and set(observe) <= set(meta["observed"]):
                self.results.append(
                    StageResult(name, path, meta["rows"], True, meta["observed"])
                )
                return self.spark.read.schema(meta["schema"]).parquet(path)

        schema = df.schema

        def write(frame: DataFrame) -> DataFrame:
            frame.write.mode("overwrite").parquet(path)
            return self.spark.read.schema(schema).parquet(path)

        out, observed = checkpoint_observed(
            df, write, rows=F.count(F.lit(1)), **observe
        )
        rows = observed.pop("rows")
        self._write_meta(
            name, {"stage": name, "rows": rows, "schema": schema, "observed": observed}
        )
        self.results.append(StageResult(name, path, rows, observed=observed))
        return out

    def check(self, name: str, compute: Callable[[], dict]) -> dict:
        """A test over checkpointed stage ``name`` (the dbt ``unique`` /
        ``not_null`` analog): ``compute()`` runs once, after the stage
        is written, and its result is stored in the stage's sidecar; a
        resume replays it instead of re-running the test's jobs."""
        meta = self._read_meta(name)
        if "check" not in meta:
            meta["check"] = compute()
            self._write_meta(name, meta)
        return meta["check"]

    def write_manifest(self, manifest: dict) -> str:
        os.makedirs(self.base, exist_ok=True)
        p = os.path.join(self.base, "manifest.json")
        with open(p, "w") as f:
            json.dump(manifest, f, indent=2, default=str)
        return p


def validate_start(
    spark: SparkSession,
    required_paths: list[str],
    start_date: str,
    end_date: str,
) -> dict:
    """Fail-fast validation stage (I2; reference my_dbt_flow.py:79-120:
    env asserts + engine probe + date-range sanity)."""
    assert start_date < end_date, f"bad date range: {start_date} >= {end_date}"
    missing = [p for p in required_paths if not os.path.exists(p)]
    assert not missing, f"missing inputs: {missing}"
    version = spark.version  # engine probe (A17 analog of current_version())
    return {"spark_version": version, "start": start_date, "end": end_date}
