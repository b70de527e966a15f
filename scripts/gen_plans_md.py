"""Generate PLANS.md — a physical-plan inventory for every catalog
query: exchange count, join strategies, scan pushdown, Python-eval
presence. The scale review in one table (the ".explain each operator
and iterate" loop, captured as an artifact).

    python scripts/gen_plans_md.py > PLANS.md

Uses sf0.001 (plan SHAPE is scale-invariant up to AQE thresholds; AQE
runtime re-planning at real scale can only improve on what is shown).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def node_lines(plan: str) -> list[str]:
    """Detail-section node lines: '(N) NodeName ...' (each node once)."""
    return [
        ln.strip()
        for ln in plan.splitlines()
        if re.match(r"^\(\d+\) ", ln.strip())
    ]


def summarize(plan: str) -> dict:
    nodes = node_lines(plan)

    def count(kind: str) -> int:
        return sum(1 for n in nodes if kind in n)

    joins = []
    for kind, label in [
        ("BroadcastHashJoin", "BHJ"),
        ("BroadcastNestedLoopJoin", "BNLJ"),
        ("SortMergeJoin", "SMJ"),
        ("ShuffledHashJoin", "SHJ"),
        ("CartesianProduct", "CARTESIAN"),
    ]:
        c = count(kind)
        if c:
            joins.append(f"{c}×{label}")
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
    py = count("ArrowEvalPython") + count("BatchEvalPython") + count("MapInPandas") \
        + count("FlatMapGroupsInPandas") + count("AggregateInPandas") \
        + count("MapInArrow") + count("FlatMapGroupsInArrow")
    shuffles = sum(1 for n in nodes if re.match(r"^\(\d+\) Exchange", n))
    bcasts = count("BroadcastExchange")
    return {
        "exchanges": shuffles,
        "bcasts": bcasts,
        "joins": " ".join(joins) or "—",
        "aggs": count("HashAggregate") + count("SortAggregate") + count("ObjectHashAggregate"),
        "windows": count("Window") - count("WindowGroupLimit"),
        "wgl": count("WindowGroupLimit"),
        "pushed": pushed,
        "python": py,
    }


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    print("# PLANS — physical-plan inventory (generated by scripts/gen_plans_md.py)")
    print()
    print("Per catalog query: shuffle count (BroadcastExchange counted apart —")
    print("broadcasts move dim-sized data, shuffles move fact-sized), join")
    print("strategies chosen")
    print("by Catalyst/AQE, aggregate & window operator counts, whether filter")
    print("pushdown reached a scan, and Arrow/Python operator count (0 = fully")
    print("JVM-side). Plan shape at sf0.001; AQE may further improve at scale.")
    print()
    print("| query | check | shuffles | bcasts | joins | aggs | windows | top-K prune | pushdown | py-ops |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for name, fn in qs.items():
        try:
            df = fn(spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            s = summarize(buf.getvalue())
            kind = "[O]" if name in oracles else "[R]"
            print(
                f"| `{name}` | {kind} | {s['exchanges']} | {s['bcasts'] or '—'} | "
                f"{s['joins']} | {s['aggs']} | {s['windows']} | {s['wgl'] or '—'} | "
                f"{s['pushed']} | {s['python'] or '—'} |"
            )
        except Exception as e:  # pragma: no cover
            print(f"| `{name}` | ERR | {type(e).__name__} | | | | | | | |")
    spark.stop()


if __name__ == "__main__":
    main()
