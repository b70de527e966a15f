"""Custom Python DataSource (Spark 4 API): deterministic synthetic
events generator — ``spark.read.format("synthetic_events")``.

Why a real DataSource instead of ``spark.range().select(...)``:
- it demonstrates the engine's SOURCE extension point (SURVEY.md §2 H
  family): partition planning, per-partition generation on executors,
  schema declaration — the same surface a Kafka/warehouse/REST
  connector would implement;
- generation is partition-parallel and driver-free: each
  ``InputPartition`` carries only (start, end) row bounds, executors
  synthesize rows locally — scaling a 100 B-row test corpus costs no
  driver memory and no shuffle;
- rows are a pure function of ``event_id`` (split-mix style hashing),
  so any slice of the corpus is reproducible independently of
  partitioning — the property the scale ladder and fixtures rely on.

Register once per session, then read by format name:

    from post_modern_stack_spark.sources.synthetic import register
    register(spark)
    df = (spark.read.format("synthetic_events")
          .option("rows", 1_000_000).option("users", 1000).load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

SCHEMA_DDL = (
    "event_id bigint, ts_ns bigint, user_id bigint, "
    "event_type string, value double, props string"
)

_TYPES = ["view", "click", "purchase", "signup", "error"]
_BASE_NS = 1_700_000_000_000_000_000
_STEP_NS = 1_000_000  # 1 ms between events


def _mix(x: int, salt: int) -> int:
    """Split-mix-style 64-bit hash (deterministic, cheap, pure)."""
    x = (x + salt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


class _Partition(InputPartition):
    def __init__(self, start: int, end: int, users: int):
        self.start, self.end, self.users = start, end, users


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 10_000))
        self.users = int(options.get("users", max(self.rows // 100, 1)))
        self.num_partitions = int(options.get("numpartitions", 32))

    def partitions(self):
        per = max(self.rows // self.num_partitions, 1)
        parts = []
        start = 0
        while start < self.rows:
            parts.append(_Partition(start, min(start + per, self.rows), self.users))
            start += per
        return parts

    def read(self, partition: _Partition):
        users = partition.users
        for i in range(partition.start, partition.end):
            yield (
                i,
                _BASE_NS + i * _STEP_NS,
                _mix(i, 1) % users,
                _TYPES[_mix(i, 2) % len(_TYPES)],
                (_mix(i, 3) % 10_000) / 100.0,
                '{"k": %d}' % (_mix(i, 4) % 100),
            )


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SyntheticEventsDataSource)


class SyntheticEventsStreamReader:
    """Simple streaming reader (Spark 4 ``SimpleDataSourceStreamReader``
    protocol): the offset IS the next ``event_id`` — a totally ordered,
    replayable position, so micro-batches are exactly-once across
    restarts (``readBetweenOffsets`` regenerates any committed span
    deterministically; rows are pure functions of event_id).
    """

    def __init__(self, options):
        self.users = int(options.get("users", 100))
        self.rows_per_batch = int(options.get("rowsperbatch", 1000))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = start["next"]
        hi = lo + self.rows_per_batch
        # a LIST, not a generator: the runner's prefetch cache shallow-
        # copies the iterator for replay, which a generator can't survive
        return list(self._gen(lo, hi)), {"next": hi}

    def readBetweenOffsets(self, start, end):
        # the replay path requires an ITERATOR (a list fails type
        # validation there), while read() requires a copyable sequence
        # for the prefetch cache — hence the asymmetry
        return self._gen(start["next"], end["next"])

    def commit(self, end):
        pass  # nothing to clean up: generation is stateless

    def _gen(self, lo: int, hi: int):
        users = self.users
        for i in range(lo, hi):
            yield (
                i,
                _BASE_NS + i * _STEP_NS,
                _mix(i, 1) % users,
                _TYPES[_mix(i, 2) % len(_TYPES)],
                (_mix(i, 3) % 10_000) / 100.0,
                '{"k": %d}' % (_mix(i, 4) % 100),
            )
