from __future__ import annotations


def test_driver_green_reads_correctness_files():
    """driver_green() unions recorded CORRECTNESS_r*.json greens with
    the static round-1 floor, and queries() lists every
    never-driver-checked entry before any green one."""
    import __spark_entry__ as m
    from post_modern_stack_spark.plans import entryflow

    green = entryflow.driver_green()
    # top_customers: green in round 1 with nonzero rows
    assert "sessionize" in green and "top_customers" in green
    names = list(m.queries())
    assert names[0] == "sessionize"
    seen_green_tail = False
    for n in names[1:]:
        is_green = n in green
        if seen_green_tail:
            assert is_green, f"unchecked query {n} listed after green ones"
        elif is_green:
            seen_green_tail = True


def test_driver_green_ignores_vacuous_zero_row_greens(tmp_path):
    """The vacuous-green filter, tested against a SYNTHETIC fixture
    (VERDICT r05 item 2: asserting a live catalog name stays
    non-green expires the moment the driver legitimately greens it —
    rich_idle_customers did exactly that in round 5). A hash match on
    an empty result proves the query compiles, not that its
    predicates select rows, so spark_rows == 0 must not count unless
    the name is in EXPECTED_EMPTY."""
    import json

    from post_modern_stack_spark.plans import entryflow

    rows = {
        "synthetic_real_green": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 7,
            "oracle_rows": 7,
            "err": None,
        },
        "synthetic_vacuous_green": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 0,
            "oracle_rows": 0,
            "err": None,
        },
        "synthetic_errored": {
            "rows_match": False,
            "schema_match": True,
            "hash_match": False,
            "spark_rows": 7,
            "oracle_rows": 7,
            "err": "boom",
        },
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    green = entryflow.driver_green(root=str(tmp_path))
    assert "synthetic_real_green" in green
    assert "synthetic_vacuous_green" not in green  # 0-row = vacuous
    assert "synthetic_errored" not in green
    # the static round-1 floor still unions in under an override root
    assert "sessionize" in green

def test_recheck_from_round_reopens_rewritten_oracles(tmp_path):
    """RECHECK_FROM_ROUND (VERDICT r08 what's-wrong item 1): a green
    row recorded BEFORE an oracle rewrite certifies the old semantics,
    so it must not keep the name in the green set; a row recorded in
    or after the recheck round re-greens it. Tested on a synthetic
    name so the pin survives the live names being re-certified."""
    import json
    from unittest import mock

    from post_modern_stack_spark.plans import entryflow

    row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 7,
        "oracle_rows": 7,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps({"synthetic_rewritten": row, "synthetic_stable": row})
    )
    with mock.patch.dict(
        entryflow.RECHECK_FROM_ROUND, {"synthetic_rewritten": 9}
    ):
        green = entryflow.driver_green(root=str(tmp_path))
        assert "synthetic_stable" in green
        assert "synthetic_rewritten" not in green  # r04 row is stale
        # a fresh green row in the recheck round closes the loop
        (tmp_path / "CORRECTNESS_r09.json").write_text(
            json.dumps({"synthetic_rewritten": row})
        )
        green = entryflow.driver_green(root=str(tmp_path))
        assert "synthetic_rewritten" in green


def test_round9_rewritten_oracles_lead_the_window():
    """The four oracles rewritten in round 8 must sit at the front of
    the driver window until a round>=9 green row exists for them."""
    import glob
    import json
    import os

    import __spark_entry__ as m
    from post_modern_stack_spark.plans import entryflow

    repo = os.path.dirname(os.path.abspath(entryflow.__file__))
    repo = os.path.dirname(os.path.dirname(repo))
    recertified = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[-1].split(".")[0])
        if rnd < 9:
            continue
        for name, r in json.load(open(path)).items():
            if isinstance(r, dict) and r.get("err") is None and r.get("hash_match"):
                recertified.add(name)
    names = list(m.queries())
    for n in entryflow.RECHECK_FROM_ROUND:
        if n in recertified:
            continue  # driver already re-certified the new semantics
        assert names.index(n) <= 10, f"{n} not near the window front"
