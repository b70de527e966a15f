"""Engine confs: those ``session.ensure_session_confs`` applies (the JVM
case mapping, its locale guard, a loud warning for a conf the session
refuses, no set of an unchanged conf) and the generated-class cache
``get_spark`` sizes."""

from __future__ import annotations

import logging
import time

from pyspark.sql import functions as F

from post_modern_stack_spark import session

ICU = "spark.sql.icu.caseMappings.enabled"
# compiles in a warm pass over the perfbench catalog sample at sf0.001:
# 0 or 4 (benford_check's, in no fixed pass) at local[4] and local[8];
# 143 at Spark's default cap of 100
WARM_PASS_COMPILES = 8


def test_case_mapping_stays_on_icu_under_a_locale_that_changes_it(spark, monkeypatch):
    try:
        for language, icu in (("en", "false"), ("tr", "true"), ("lt", "true")):
            monkeypatch.setattr(session, "jvm_locale_language", lambda s, lang=language: lang)
            session.ensure_session_confs(spark)
            assert spark.conf.get(ICU) == icu, language
    finally:
        monkeypatch.undo()
        session.ensure_session_confs(spark)


def test_lower_upper_match_icu_on_every_code_point_the_jvm_defines(spark):
    """``lower``/``upper`` over every Unicode scalar value as a
    one-character string, ICU against the JVM's case mapping: every
    mismatch involves a code point ``Character.isDefined`` rejects (the
    input or a case partner), i.e. a letter newer than the JVM's
    Unicode tables."""
    cps = spark.range(0, 0x110000).filter(~F.col("id").between(0xD800, 0xDFFF))
    chars = cps.select(
        "id", F.expr("decode(unhex(lpad(hex(id), 8, '0')), 'utf-32')").alias("c")
    )
    try:
        spark.conf.set(ICU, "true")
        icu = chars.select(
            "id", "c", F.lower("c").alias("lo_icu"), F.upper("c").alias("up_icu")
        ).localCheckpoint()
        assert icu.count() == 1_112_064
        spark.conf.set(ICU, "false")
        jvm = chars.select("id", F.lower("c").alias("lo"), F.upper("c").alias("up"))
        diff = (
            icu.join(jvm, "id")
            .filter("lo <> lo_icu OR up <> up_icu")
            .select("c", "lo", "up", "lo_icu", "up_icu")
            .collect()
        )
    finally:
        session.ensure_session_confs(spark)
    defined = spark.sparkContext._jvm.java.lang.Character.isDefined
    assert diff, "no mismatch at all: the ICU conf did not reach the plan"
    assert len(diff) < 200
    for r in diff:
        assert not all(defined(ord(ch)) for s in r for ch in s), r


def test_refused_conf_logs_one_warning_per_process(spark, monkeypatch, caplog):
    key = "spark.sql.parser.escapedStringLiterals"
    real_get, real_set = spark.conf.get, spark.conf.set

    def differ_on_key(k):
        return "true" if k == key else real_get(k)

    def refuse_one(k, v):
        if k == key:
            raise RuntimeError("static conf")
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "get", differ_on_key)
    monkeypatch.setattr(spark.conf, "set", refuse_one)
    monkeypatch.setattr(session, "_refused_confs", set())
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_session_confs(spark)
        session.ensure_session_confs(spark)
    records = [r for r in caplog.records if r.name == session.__name__]
    assert len(records) == 1 and key in records[0].getMessage()


def test_confs_are_set_only_when_the_session_differs(spark, monkeypatch):
    """A repeat call sets nothing (a ``set`` of the deprecated
    ``escapedStringLiterals`` logs Spark's deprecation warning every
    time); a conf that drifted is set back, once."""
    real_set = spark.conf.set
    sets = []

    def count_set(k, v):
        sets.append(k)
        real_set(k, v)

    session.ensure_session_confs(spark)
    # unset, the conf reads its default, which is the engine's value
    spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    monkeypatch.setattr(spark.conf, "set", count_set)
    session.ensure_session_confs(spark)
    assert sets == []
    real_set("spark.sql.session.timeZone", "America/New_York")
    try:
        session.ensure_session_confs(spark)
    finally:
        real_set("spark.sql.session.timeZone", "UTC")
    assert sets == ["spark.sql.session.timeZone"]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_warm_catalog_pass_compiles_nothing(spark, sf_dir):
    """The session keeps every generated class of a pass over the
    perfbench catalog sample: a second pass compiles (almost) nothing.
    At Spark's default cap of 100 the sample's ~150 classes thrash the
    cache, and every warm pass recompiles about 140 of them."""
    import __spark_entry__

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    catalog = __spark_entry__.queries()
    names = (
        "lang_distribution", "semantic_dedup", "monthly_revenue_growth",
        "latest_event_per_user", "benford_check", "purchase_last_view",
        "cuped_adjusted_lift", "embedding_near_dups", "brand_supplier_counts",
        "predict_hit_rate",
    )
    compiles = []
    for _ in range(2):
        before = session.codegen_compiles(spark)
        for n in names:
            catalog[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiles.append(session.codegen_compiles(spark) - before)
    assert compiles[1] <= WARM_PASS_COMPILES, compiles
    # the counter sees this session's compiles: a literal no earlier plan
    # used is new generated code
    before = session.codegen_compiles(spark)
    spark.range(3).selectExpr(f"id + {time.time_ns()}").write.format("noop").mode(
        "overwrite"
    ).save()
    assert session.codegen_compiles(spark) > before
