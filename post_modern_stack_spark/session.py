"""SparkSession factory — the engine's single entry point for compute.

The reference delegates execution to Snowflake (SURVEY.md §4: "the
reference implements no optimizer and no execution engine"); here the
equivalent role is played by Catalyst + Tungsten, so session-level
configuration IS the engine tuning surface.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  dynamic join-strategy switching — replaces hand-scheduling.
- Timezone pinned to UTC: the reference derived dates from epoch ms in
  *local* time (reference upload/upload_to_snowflake.py:168-169); we pin
  UTC and document it (SURVEY.md §7 watch-list 4) so results are
  machine-independent.
- Case mapping on the JVM, not ICU: ``lower``/``upper`` run through
  Java's case mapping (``spark.sql.icu.caseMappings.enabled=false``).
  ICU's first use builds a title-case table over every code point, a
  cold-JVM cost that lands on the first task to lower a string (the
  NEP flow's SKU normalization, C1/C2). Over all 1,112,064 scalar
  values as one-character strings, each function differs from ICU on
  67 code points, every one involving a Unicode 14-16 character the
  JVM does not define (``Character.isDefined``); context cases (final
  sigma, ß→SS, İ, ŉ, ﬃ, ΐ) agree. Non-ASCII strings use the JVM's
  default locale, which changes results only for ``tr``, ``az`` and
  ``lt``: under those the conf stays on ICU. Executors must share the
  driver's locale language, as they share the UTC pin.
- Arrow enabled for the ML edge (``toPandas()``).
- Generated-class cache sized to the catalog's working set: Spark keeps
  compiled codegen classes in a cache of
  ``spark.sql.codegen.cache.maxEntries`` (default 100), and Janino
  recompiles whatever it evicted. One pass over the full catalog
  compiles 2,507 distinct classes at sf0.01 (2,506 at sf0.1), the
  10-query perfbench sample about 155 and a cold NEP op 105 under
  either cap. At 100 the cache thrashes: one full pass at sf0.01
  compiles 3,388 classes, and a warm pass over the sample recompiles
  143. At ``CODEGEN_CACHE_ENTRIES`` a warm pass compiles about 0. The
  cost is metaspace: 220 MB after one full pass at sf0.01, against
  201 MB at 100. The cap is static, so only a session this factory
  starts gets it; a session handed to ``__spark_entry__.entry`` keeps
  Spark's 100.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32  # sized for local[32]; a real cluster
# would set ~2-3x total cores, or rely on AQE coalescing from a high
# initial value. AQE re-coalesces at runtime either way.

# JVM default-locale languages whose case mapping differs from the
# root locale (dotted/dotless i, Lithuanian dot-above)
LOCALE_CASE_LANGUAGES = frozenset({"tr", "az", "lt"})

# generated classes Spark keeps compiled (module docstring): above the
# full catalog's 2,507 at sf0.01
CODEGEN_CACHE_ENTRIES = 4096

_locale_language: str | None = None
_refused_confs: set[str] = set()


def get_spark(
    app_name: str = "post-modern-stack-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session with scale-ready defaults;
    ``SPARK_GRAFT_CPUS`` (default 32) sets the local[N] master."""
    master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs executors inside the driver JVM; the 1g
        # default heap GC-thrashes under 32 task threads. Sized for the
        # 128 GiB container; on a real cluster executor memory is the
        # knob instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # the driver's events table carries TIMESTAMP(NANOS) parquet
        # timestamps, which Spark's parquet reader rejects by default;
        # read them as raw nanosecond longs and normalize in the
        # registry (registry.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-worker lifecycle pinned EXPLICITLY (VERDICT r11 item 7:
        # the media/codec family swings 1.5-3x in windows where workers
        # churn — cold fork + module imports charged to whichever
        # Python-band query runs first). These are the 4.1.2 defaults,
        # pinned so a packaging/default change can never silently
        # enable idle-kill or bound the reuse pool: workers are reused
        # across tasks, never terminated on idle, and the idle pool is
        # unbounded (local[32] peaks at 32 workers; at 100 TB scale the
        # per-executor pool is cores-per-executor sized, still small).
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.worker.killOnIdleTimeout", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.ui.explainMode", "formatted")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far, driver
    and (in local mode) task threads alike; a cache hit adds nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def jvm_locale_language(spark: SparkSession) -> str:
    """The JVM default locale's language, read once per process."""
    global _locale_language
    if _locale_language is None:
        jvm = spark.sparkContext._jvm
        _locale_language = str(jvm.java.util.Locale.getDefault().getLanguage())
    return _locale_language


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine depends on.

    Called defensively from the registry and the NEP flow too, because
    a caller of ``__spark_entry__.entry(spark)`` may hand in its own
    SparkSession, without our builder confs. A conf is set only when
    the session reads another value: every ``set`` of a deprecated conf
    logs Spark's deprecation warning, a ``get`` does not. A conf this
    build refuses logs one warning per conf per process.
    """
    icu = jvm_locale_language(spark) in LOCALE_CASE_LANGUAGES
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # vocab.map_literal escapes tokens with backslashes, which the
        # parser honours only while escaped string literals are off
        ("spark.sql.parser.escapedStringLiterals", "false"),
        # module docstring: JVM case mapping unless the locale needs ICU
        ("spark.sql.icu.caseMappings.enabled", str(icu).lower()),
    ):
        try:
            if spark.conf.get(k) != v:  # an unset conf reads its default
                spark.conf.set(k, v)
        except Exception as e:
            if k not in _refused_confs:
                _refused_confs.add(k)
                log.warning("cannot set %s=%s on this session: %s", k, v, e)
    return spark


@contextmanager
def elevated_shuffle_partitions(spark: SparkSession, n: int):
    """Context manager: raise the session's shuffle-partition count —
    BOTH ``spark.sql.shuffle.partitions`` and AQE's
    ``initialPartitionNum`` (AQE can only coalesce DOWN from the
    initial number, so a 32-partition default silently caps every
    shuffle regardless of data size) — for the enclosed actions, then
    restore the previous values.

    This is the per-action partition hint (VERDICT r10 item 5):
    operators whose shuffle GRAIN is corpus-exploded (positional
    grams ~ tokens, not docs) size their aggregates from an estimated
    grain row count instead of requiring the caller to pre-size the
    session for the largest stage. Never LOWERS the setting: if the
    session already runs wider, the hint is a no-op.
    """
    conf = spark.conf
    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    try:
        prev_init = conf.get(init_key)
    except Exception:
        prev_init = None
    if n <= int(prev_parts):
        yield
        return
    conf.set("spark.sql.shuffle.partitions", str(n))
    conf.set(init_key, str(n))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_init is None:
            conf.unset(init_key)
        else:
            conf.set(init_key, prev_init)
