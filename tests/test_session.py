"""Engine confs applied by ``session.ensure_session_confs``: the JVM case
mapping, its locale guard, and a loud warning for a conf the session
refuses."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from post_modern_stack_spark import session

ICU = "spark.sql.icu.caseMappings.enabled"


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
    real_set = spark.conf.set

    def refuse_one(k, v):
        if k == key:
            raise RuntimeError("static conf")
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", refuse_one)
    monkeypatch.setattr(session, "_refused_confs", set())
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_session_confs(spark)
        session.ensure_session_confs(spark)
    records = [r for r in caplog.records if r.name == session.__name__]
    assert len(records) == 1 and key in records[0].getMessage()
