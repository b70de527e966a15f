"""Scale ladder over the real catalog: does each plan scale near-linearly?

    python scripts/scale_ladder.py [q1 q2 ...]

Writes the ten registry tables at sf 0.1, 0.3 and 1 with
``perfbench/gen.catalog_tables`` into a temporary directory (removed at
exit), then runs ``bench.py [q1 q2 ...]`` once per rung in a fresh
process with one sample per query. bench.py's named mode writes no
file, and its working directory is the temporary one, so the run
leaves nothing in the checkout. Prints one JSON line per query (each
rung's median and counters, each counter's ratio between consecutive
rungs, and its flags) and a last line with each rung's wall time.

A linear plan repeats its jobs and stages at every rung and grows its
shuffle bytes with its input rows. Two flags mark a query that does not:

- ``plan_moves``: jobs or stages differ between rungs (an AQE join
  switch, an adaptive route, data-driven iterations);
- ``shuffle_superlinear``: between two rungs, shuffle-write bytes grow
  more than SUPERLINEAR times faster than ``input_rows`` (a skewed key,
  a hidden cross join), judged only where the larger rung writes at
  least SHUFFLE_FLOOR bytes.

A query without counters at some rung (it failed) is flagged ``unread``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNGS = (0.1, 0.3, 1.0)
SEED = 7
SUPERLINEAR = 2.0
# Below 1 MiB a query's shuffle is mostly per-task framing and a few
# aggregate rows, whose size follows the partition count, not the data:
# a 2 KB -> 20 KB move says nothing about the plan's shape.
SHUFFLE_FLOOR = 1 << 20


def ratio(a, b):
    """b / a, or None when the base is 0 (no growth to speak of)."""
    return round(b / a, 3) if a else None


def flags(counters: list[dict | None]) -> list[str]:
    """The ladder's verdict on one query, from its counters per rung
    (ascending sf; None where the query's counters were not read)."""
    if any(c is None for c in counters):
        return ["unread"]
    out = []
    if any(len({c[k] for c in counters}) > 1 for k in ("jobs", "stages")):
        out.append("plan_moves")
    for lo, hi in zip(counters, counters[1:]):
        grow = ratio(lo["shuffle_write_bytes"], hi["shuffle_write_bytes"])
        rows = ratio(lo["input_rows"], hi["input_rows"])
        if (hi["shuffle_write_bytes"] >= SHUFFLE_FLOOR and rows
                and (grow is None or grow > SUPERLINEAR * rows)):
            out.append("shuffle_superlinear")
            break
    return out


def run_rung(data_dir: str, names: list[str]) -> tuple[dict, float]:
    """{query: bench's per-query line} for one rung, and its wall time."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=data_dir, SPARK_GRAFT_BENCH_REPS="1",
               PYTHONPATH=REPO, PYTHONDONTWRITEBYTECODE="1")
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, os.path.join(REPO, "bench.py"), *names],
                         cwd=os.path.dirname(data_dir), env=env, stdout=subprocess.PIPE,
                         text=True, check=True)
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    return {d["query"]: d for d in lines if "query" in d}, time.perf_counter() - t0


def main(names: list[str]) -> None:
    sys.dont_write_bytecode = True
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import __spark_entry__  # the catalog's names; starts no Spark
    from gen import catalog_tables

    names = names or list(__spark_entry__.queries())
    per_rung, walls = [], []
    with tempfile.TemporaryDirectory(prefix="scale_ladder_") as tmp:
        for sf in RUNGS:
            rung = os.path.join(tmp, f"sf{sf:g}")
            os.makedirs(rung)  # bench.py's working directory
            data = os.path.join(rung, f"sf{sf:g}")
            catalog_tables(data, SEED, sf)
            got, wall = run_rung(data, names)
            per_rung.append(got)
            walls.append(round(wall, 1))
            print(f"scale_ladder: sf{sf:g} done in {wall:.0f} s", file=sys.stderr)
    flagged = []
    for name in names:
        rows = [r.get(name, {}) for r in per_rung]
        counters = [r.get("counters") for r in rows]
        line = {"query": name, "sf": list(RUNGS), "median": [r.get("median") for r in rows],
                "counters": counters, "flags": flags(counters)}
        if all(counters):
            line["ratios"] = {k: [ratio(lo[k], hi[k]) for lo, hi in zip(counters, counters[1:])]
                              for k in counters[0]}
        if line["flags"]:
            flagged.append(name)
        print(json.dumps(line))
    print(json.dumps({"rungs": list(RUNGS), "wall_s": walls, "n_queries": len(names),
                      "sum_medians": [round(sum(r["median"] for r in got.values()
                                                if r["median"] > 0), 1) for got in per_rung],
                      "flagged": flagged}))


if __name__ == "__main__":
    main(sys.argv[1:])
