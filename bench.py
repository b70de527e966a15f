"""Benchmark runner — times every catalog query at $SPARK_GRAFT_SF_DIR.

    python bench.py [q1 q2 ...]

Prints ONE JSON line (plus ``n_queries``, ``cutoff_sec``, ``detail``, ...):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
``queries`` holds the slowest queries that fit 1800 chars; ``cutoff_sec``
is the smallest time printed there. Query names restrict the sweeps to
those queries (each sweep visits each once, so samples interleave),
print one JSON line per query (samples, median, counters) before the
summary line, and write no BENCH_DETAIL file.

Counters: each query's sweep-1 run carries the job tag ``bench:<query>``;
after it (outside the timed region, inside the sweep budget) its jobs,
stages, tasks, shuffle bytes and input rows go to BENCH_DETAIL.json's
``counters`` with the ``cores`` they were counted at, and stderr gets a
diff against the committed artifact's. A query whose time moves while
its counters repeat did the same work: the move is host noise.
``compiles`` holds, per query, one count per sample: the generated
classes Janino compiled during that run, read outside the timed region.
Sweep 1 pays every compile (its counts depend on the visiting order:
a class an earlier query compiled is a cache hit); the session keeps
them (``session.CODEGEN_CACHE_ENTRIES``), so later samples read about 0.

``value`` = sum of per-query MEDIAN times over up to REPS sweeps (the
driver's headline number, compared against BASELINE.md round over
round); a query with zero successful runs reports -1 in ``queries``
but its elapsed time still counts toward ``value`` so breakage never
reads as a speedup. Any query that failed in ANY sweep (even after an
earlier success) is listed in the ``failed`` arrays of both the
printed line and BENCH_DETAIL.json, so late-sweep breakage is visible
in the recorded artifact, not just on stderr.
Each query is executed to completion via a noop-sink terminal action
(``df.write.format("noop")`` so results are fully materialized without
driver collection overhead). Package memos are cleared before every
sample; Spark's generated-class cache is not, so samples after sweep 1
measure a session that has compiled the query's classes.

Noise handling: this shared host swings identical queries 0.5 s ↔ 7.5 s
between runs (BASELINE.md variance caveat). Each query is timed up to
REPS (3) times and reports the per-query MEDIAN (VERDICT round-3 item
8: medians make round-over-round diffs signal, where a single sweep
made `quality_score` appear to regress 4.3× on no code change). The
first sweep is unconditional; extra sweeps run only while the
cumulative wall clock stays under EXTRA_SWEEP_BUDGET_SEC, so a
pathologically noisy host degrades to fewer samples per query instead
of blowing the driver's timeout. With 2 samples the min is reported
(the median of 2 is a mean — worse under one-sided noise).

Sweeps 2+ visit queries SLOWEST-FIRST (by sweep-1 time): when the
budget cuts sampling short, the median-of-3 guarantee lands on the
heavy queries, where a single noisy sample distorts the headline most
(VERDICT round-4 item 7 — `kmeans_assign`'s 2× flag was partly a
budget-starved-sampling artifact). Within a sweep the walk is
BEST-FIT-PACKED (VERDICT round-6 item 5): a query whose predicted
cost (its fastest prior sample) exceeds the remaining budget is
skipped, not stopped at, so the walk continues into the cheap tail
and budget exhaustion degrades per-query sample count, never sample
breadth — r06's artifact gave 70% of queries a single sample because
one heavy query at the budget edge ended the whole sweep.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# samples per query (median reported) and the cumulative-wall-clock
# cutoff for sweeps 2+. Driver runs keep the defaults; local deep
# measurement (VERDICT r05 item 6: full 3-sample medians on a quiet
# host) overrides via env without forking the harness.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# 500 s (VERDICT r06 item 5): at 217 queries, sweep 1 ≈ 245 s and a
# full 2nd sweep ≈ 200 s — the old 420 s cut sweep 2 at ~68% breadth.
# 500 + session startup + one in-flight query still clears the
# driver's 600 s timeout with margin; a noisy host degrades to fewer
# samples (never a hang) exactly as before.
EXTRA_SWEEP_BUDGET_SEC = float(
    os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "500")
)
# Sample-disagreement ratio above which a query is treated as bimodal:
# it jumps the sweep-3 queue, gets a forced tiebreak sample if still
# at two samples after the main budget, and is flagged in
# BENCH_DETAIL.json (VERDICT r08 item 2).
BIMODAL_SPREAD = 3.0


_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def parse_sf(sf_dir: str) -> tuple[str, object]:
    """(sf_token, sf_value) from the data-dir path. Strict ``sf<N>``
    leaf regex (ADVICE r09: the old rsplit('sf') token was used to
    build BOTH a filename and a float, so a path without an sf leaf
    produced a slash-containing detail filename — open() raised AFTER
    the whole sweep completed — and a token like '0.0.1' passed the
    isdigit guard but crashed float()). Non-matching paths fall back
    to a sanitized slug with a string sf value."""
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)$", sf_dir.rstrip("/"))
    if m:
        return m.group(1), float(m.group(1))
    slug = re.sub(
        r"[^A-Za-z0-9._-]", "_", os.path.basename(sf_dir.rstrip("/")) or "unknown"
    )
    return slug, slug


def load_py_band_queries(plans_path: str | None = None) -> set[str]:
    """Queries whose physical plan contains Arrow/Python operators —
    the ``py-ops`` column of the committed PLANS.md inventory. These
    are the band-exposed class: their cost includes Python-worker
    startup/state that this host swings 1.4–9× between windows (the
    r08 media_jpeg_pipeline spike, the r09 media_video_frames drift),
    so bench policy guarantees them a median-of-3 (VERDICT r09 item 2)."""
    path = plans_path or os.path.join(_REPO_DIR, "PLANS.md")
    out: set[str] = set()
    try:
        with open(path) as f:
            for line in f:
                if not line.startswith("| `"):
                    continue
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                if len(cells) < 10:
                    continue
                py = cells[-1]
                if py not in ("", "—", "-", "0"):
                    out.add(cells[0].strip("`"))
    except OSError:
        pass
    return out


def is_bimodal(vals: list[float]) -> bool:
    """True when recorded samples disagree >BIMODAL_SPREAD× — the
    regime where a 2-sample min silently reports one side of a bimodal
    distribution (r08: the builder saw [1.74, 15.64] and reported
    1.74; the driver then hit the slow mode twice and recorded 14.45).
    A run's samples are judged by :func:`run_is_bimodal`."""
    return len(vals) >= 2 and max(vals) > BIMODAL_SPREAD * max(min(vals), 1e-9)


def warm_samples(vals: list[float], compiles: list[int]) -> list[float]:
    """The samples that compiled no generated class. A cheap query's
    first run can be 3× its warm runs from compiles alone
    (``lang_distribution``: [0.734, 0.194, 0.176] with compiles
    [8, 0, 0]); that spread is not host noise."""
    return [v for v, c in zip(vals, compiles) if c == 0]


def run_is_bimodal(vals: list[float], compiles: list[int]) -> bool:
    """:func:`is_bimodal` over the warm samples, or over all samples
    while fewer than two are warm. Sweep 1 nearly always compiles, so
    a two-sample query has at most one warm sample; judging only that
    would never flag [1.74, 15.64] with compiles [8, 0], and its
    min-of-2 would be reported without a tiebreak sample."""
    warm = warm_samples(vals, compiles)
    return is_bimodal(warm if len(warm) >= 2 else vals)


def estimate(vals: list[float]) -> float:
    """Point estimate policy: median of 3+; min of 2 (median of 2 is a
    mean — worse under one-sided noise); -1 for zero successes. A
    2-sample bimodal disagreement is resolved by FORCING the third
    sample (main loop tiebreak pass), making this the judge-requested
    'min-of-2 unless disagreement >3×, then median-of-3' — the min
    branch only survives for a bimodal query whose third run could not
    fit even the tiebreak allowance, and that query carries the
    ``bimodal`` flag in the artifact."""
    if not vals:
        return -1.0
    if len(vals) == 2:
        return min(vals)
    return sorted(vals)[len(vals) // 2]


def load_baseline(detail_path: str, sf_dir: str) -> tuple[dict | None, str]:
    """(artifact, description) of the baseline both diffs compare to:
    git HEAD's BENCH_DETAIL.json, falling back to the on-disk file if
    git is unavailable. None when neither reads or it timed other
    tables: comparisons only make sense between sweeps over the same
    data, compared as real paths. A baseline that records no
    ``sf_dir`` was timed over the default test data: the ``sf<sf>``
    directory beside the default ``SPARK_GRAFT_SF_DIR``."""
    import subprocess

    prev = None
    baseline_desc = "committed BENCH_DETAIL.json"
    try:
        out = subprocess.run(
            ["git", "-C", os.path.dirname(detail_path), "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            timeout=10,
        )
        if out.returncode == 0:
            prev = json.loads(out.stdout)
    except Exception:
        pass
    if prev is None:
        # ADVICE r08: the fallback baseline may be an uncommitted
        # in-session artifact — say so, instead of misattributing a
        # mover to the committed baseline.
        baseline_desc = "on-disk BENCH_DETAIL.json (git unavailable)"
        try:
            with open(detail_path) as f:
                prev = json.load(f)
        except Exception:
            return None, baseline_desc
    sf, cur_sf = parse_sf(sf_dir)
    # ADVICE r08: compare sfs NUMERICALLY — the artifact stores
    # float(sf) ('1.0') while the env path parses to '1', so a string
    # compare silently skipped the diff at any integer sf.
    try:
        if float(prev.get("sf")) != float(cur_sf):
            return None, baseline_desc
    except (TypeError, ValueError):
        if str(prev.get("sf")) != str(cur_sf):
            return None, baseline_desc
    base_dir = prev.get("sf_dir", f"/root/testdata/sf{sf}")
    if os.path.realpath(base_dir) != os.path.realpath(sf_dir):
        return None, baseline_desc
    return prev, baseline_desc


def _print_median_regressions(
    prev: dict | None,
    baseline_desc: str,
    timings: dict[str, float],
    cores: int,
    threshold: float = 1.5,
) -> None:
    """Full-catalog median diff vs the LAST COMMITTED BENCH_DETAIL.json
    (VERDICT r07 item 2): the r07 token-projection rewrite silently
    regressed 5 shingle-family queries 1.8–2.8× because only the
    queries being worked on were re-measured and the sweep TOTAL masked
    them. Print every per-query median mover >``threshold``× in EITHER
    direction to stderr, so every sweep — in-session or driver — shows
    the whole catalog's movement, not just the touched queries. Medians
    timed at other cores are not comparable (a local[4] sweep against a
    32-core baseline flags most of the catalog), so that baseline is
    skipped, as in the counter diff. A baseline that records no cores is
    still compared: it is not known to be from other cores.
    """
    if prev is None:
        return
    if prev.get("cores") not in (None, cores):
        print("bench: median diff skipped — baseline timed at other cores", file=sys.stderr)
        return
    movers = []
    for name, t_new in timings.items():
        t_old = prev.get("queries", {}).get(name, -1)
        if t_old <= 0 or t_new <= 0:
            continue
        ratio = t_new / t_old
        if ratio > threshold or ratio < 1 / threshold:
            movers.append((ratio, name, t_old, t_new))
    for ratio, name, t_old, t_new in sorted(movers, reverse=True):
        tag = "REGRESSED" if ratio > 1 else "improved"
        print(
            f"bench: median-diff {tag} {name}: {t_old:.3f}s -> {t_new:.3f}s "
            f"({ratio:.2f}x vs {baseline_desc})",
            file=sys.stderr,
        )
    if not movers:
        print(
            f"bench: median-diff clean — no per-query mover >{threshold}x "
            f"vs {baseline_desc}",
            file=sys.stderr,
        )


# per-query counters: scheduling volume, rows read and bytes moved, which
# repeat where times do not. Rows, not input bytes: a parquet scan's
# inputBytes is not its data volume (7,356 B for 600,000 rows).
COUNTED = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_rows")


def read_counters(spark, tag: str) -> dict[str, int]:
    """COUNTED summed over the jobs tagged ``tag``. Their ids come from
    the JVM status tracker and only they and their stages are read from
    the REST API: the UI keeps 1000 jobs (a sweep launches more), and
    re-reading the whole /jobs list costs time that grows with it. All
    reads share one keep-alive connection."""
    import http.client

    from stats import aggregate_by_tag

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    base = f"/api/v1/applications/{sc.applicationId}"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)

    def get(path: str):
        conn.request("GET", base + path)
        r = conn.getresponse()
        body = r.read()
        if r.status != 200:
            raise RuntimeError(f"GET {path}: HTTP {r.status}")
        return json.loads(body)

    tracker = sc._jsc.sc().statusTracker()
    try:
        jobs = [get(f"/jobs/{i}") for i in tracker.getJobIdsForTag(tag)]
        # past 1000 stages the UI evicts SKIPPED ones (completion time -1)
        # first, even this query's: read only the stages it still holds
        sids = {s for j in jobs for s in j["stageIds"] if tracker.getStageInfo(s).isDefined()}
        stages = [st for s in sids for st in get(f"/stages/{s}?details=false")]
    finally:
        conn.close()
    acc = aggregate_by_tag(jobs, stages).get(tag, {})
    return {k: int(acc.get(k, 0)) for k in COUNTED}


def _print_counter_diff(prev: dict | None, baseline_desc: str, counters: dict, cores: int) -> None:
    """Print every counter that did not repeat the baseline's; task counts
    follow the cores, so a baseline at other cores (or sf) is skipped. A
    query whose time moves while its counters repeat did the same work."""
    from stats import diff_counters

    if not prev or prev.get("cores") != cores or not prev.get("counters"):
        print("bench: counter diff skipped — no baseline counters at this sf/cores", file=sys.stderr)
        return
    old = {n: c for n, c in prev["counters"].items() if n in counters}
    moved = [r for r in diff_counters(old, counters) if not r["same"]]
    sched = {r["key"] for r in moved if r["counter"] in ("jobs", "stages", "tasks")}
    print(f"bench: counter diff — jobs/stages/tasks repeat for {len(counters) - len(sched)}"
          f"/{len(counters)} queries vs {baseline_desc}", file=sys.stderr)
    for r in moved:
        print(f"bench: counter-diff {r['key']} {r['counter']}: {r['prev']} -> {r['cur']}",
              file=sys.stderr)


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from post_modern_stack_spark.session import codegen_compiles, get_spark

    catalog = entry_mod.queries()
    qs = {n: catalog[n] for n in names} if names else catalog
    # read_counters and _print_counter_diff import perfbench's stats flat
    sys.path.insert(0, os.path.join(os.path.dirname(entry_mod.__file__), "perfbench"))

    spark = get_spark(app_name="pmss-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    py_band = load_py_band_queries() & set(qs)
    # warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not session startup
    next(iter(catalog.values()))(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm the Python/Arrow worker pool too (first Arrow UDF in a
    # session pays ~8 s of interpreter+Arrow startup otherwise)
    from pyspark.sql.functions import arrow_udf, col

    @arrow_udf("long")
    def _warm(s):
        # touch the libraries the Python-band queries use so every
        # reused worker has them imported BEFORE the timed region
        # (a cold numpy import inside a worker is ~100 ms × 32 workers
        # attributed to whichever media/codec query runs first)
        import hashlib  # noqa: F401
        import numpy  # noqa: F401

        # r11: the codec/ANN closures resolve the PACKAGE modules by
        # reference on the worker — their first unpickle imports
        # operators.multimodal/jpeg/similarity (plus zlib for PNG),
        # which the numpy-only warm-up left cold and the sweep then
        # charged to whichever media query ran first
        import zlib  # noqa: F401

        from post_modern_stack_spark.operators import (  # noqa: F401
            jpeg,
            multimodal,
            similarity,
        )

        return s

    spark.range(32).repartition(32).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    def reset_operator_memos() -> None:
        """Package memos start cold in every sample (VERDICT r11
        what's-wrong #1): the embedding_near_dups corpus-broadcast memo
        is a legitimate bounded in-process cache, but within one bench
        session sample 1 paid the corpus collect + routing probe and
        samples 2-3 did not, so the reported median measured the warm
        path. Clear the memo (unpersisting its broadcasts) before EVERY
        timed run. Spark's generated-class cache stays warm after sweep
        1, which pays every compile (``compiles``). Runs OUTSIDE the
        timed region."""
        from post_modern_stack_spark.operators import dedup

        memo = getattr(dedup, "_corpus_memo", None)
        while memo:
            _, bc = memo.popitem()
            try:
                bc.unpersist()
            except Exception:
                pass

    def run_once(name: str) -> None:
        """Time one run of ``name`` into ``samples``, with its compiles."""
        reset_operator_memos()
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples[name].append(round(time.perf_counter() - t0, 3))
        compiles[name].append(codegen_compiles(spark) - c0)

    def bimodal(name: str) -> bool:
        return run_is_bimodal(samples[name], compiles[name])

    total0 = time.perf_counter()
    failed_elapsed = 0.0  # a broken query must not IMPROVE the headline
    samples: dict[str, list[float]] = {n: [] for n in qs}
    compiles: dict[str, list[int]] = {n: [] for n in qs}
    failed: set[str] = set()
    # sweep 1's counters per query; their reads count against the budget
    counters: dict[str, dict] = {}
    counter_read_s = 0.0
    for sweep in range(REPS):
        if sweep == 0:
            order = list(qs)
        else:
            # slowest-first: the budget guard below may truncate this
            # sweep, and heavy queries need the extra samples most.
            # Queries whose existing samples already DISAGREE >3x jump
            # the whole queue (VERDICT r08 item 2: a 9x two-sample
            # disagreement on media_jpeg_pipeline was reported as its
            # min and the driver then recorded the slow mode — a
            # bimodal query needs its tie-breaking sample more than a
            # merely-slow query needs its 3rd).
            # ...and the Python-operator band rides right behind the
            # bimodal queue-jumpers (VERDICT r09 item 2): py-op queries
            # are the band-exposed class, so when the budget truncates
            # a sweep they must not be the ones left at <3 samples.
            order = sorted(
                (n for n in qs if samples[n]),
                key=lambda n: (
                    -bimodal(n),
                    -(n in py_band),
                    -samples[n][0],
                ),
            )
        for name in order:
            if name in failed:
                continue
            if sweep > 0:
                remaining = EXTRA_SWEEP_BUDGET_SEC - (
                    time.perf_counter() - total0
                )
                if remaining <= 0:
                    print(
                        f"bench: budget reached in sweep {sweep + 1}; "
                        "remaining queries keep fewer samples",
                        file=sys.stderr,
                    )
                    break
                # best-fit packing (VERDICT r06 item 5): with the walk
                # slowest-first, a heavy query near the budget edge
                # would otherwise burn the time dozens of CHEAP queries
                # could have used for their 2nd sample — skip anything
                # whose predicted cost doesn't fit and keep walking
                # toward the cheap tail, so budget exhaustion degrades
                # sample COUNT, not sample BREADTH. Predict with the
                # MAX prior sample (VERDICT r07 advice: predicting from
                # the fastest sample let a heavy query admitted at the
                # edge overrun the budget by most of one runtime,
                # eating the 600 s driver-timeout margin).
                if samples[name] and max(samples[name]) > remaining:
                    continue
            tag = f"bench:{name}"
            if sweep == 0:
                sc.addJobTag(tag)
            t0 = time.perf_counter()
            try:
                run_once(name)
            except Exception as e:  # a broken query must not sink the bench
                # stop sampling it, but KEEP any earlier good samples:
                # only a query with zero successful runs reports -1 —
                # discarding a recorded 6 s success because a LATER
                # sweep hit transient host trouble would shrink the
                # headline exactly because something broke
                failed.add(name)
                failed_elapsed += time.perf_counter() - t0
                print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            if sweep == 0:
                sc.removeJobTag(tag)
                c0 = time.perf_counter()
                try:
                    if name not in failed:
                        counters[name] = read_counters(spark, tag)
                except Exception as e:  # nor must a counter read
                    print(f"bench: {name} counters unread: {e}", file=sys.stderr)
                counter_read_s += time.perf_counter() - c0
        else:
            continue
        break  # budget reached: stop outer sweeps too

    # Forced tiebreak pass (VERDICT r08 item 2 + r09 item 2): any query
    # left with two samples disagreeing >3x gets its third sample even
    # though the main budget is spent — min-of-2 on a bimodal
    # distribution writes a one-sided artifact silently — and any
    # PYTHON-OPERATOR-BAND query still under 3 samples gets topped up
    # too (that class lives in the host's Python-worker noise band, so
    # its point estimate needs the median-of-3 guarantee regardless of
    # whether the first two samples happened to agree). Bounded so the
    # driver's 600 s timeout still clears: combined wall clock is
    # capped at EXTRA_SWEEP_BUDGET_SEC + 60, cheapest suspects first.
    tb_deadline = EXTRA_SWEEP_BUDGET_SEC + 60.0
    suspects = sorted(
        (
            n
            for n in qs
            if n not in failed
            and samples[n]
            and len(samples[n]) < REPS
            and (
                (len(samples[n]) == 2 and bimodal(n))
                or n in py_band
            )
        ),
        key=lambda n: min(samples[n]),
    )
    for name in suspects:
        while name not in failed and len(samples[name]) < REPS:
            remaining = tb_deadline - (time.perf_counter() - total0)
            # admit on the SLOWEST prior sample (ADVICE r09): a bimodal
            # suspect's slow mode is by definition >3x its min, so a
            # min-based prediction could overrun the cap by a full
            # slow-mode runtime — a suspect whose slow mode cannot fit
            # keeps its flagged min-of-2 instead.
            if max(samples[name]) > remaining:
                break
            t0 = time.perf_counter()
            try:
                run_once(name)
                print(
                    f"bench: tiebreak sample for "
                    f"{'bimodal' if bimodal(name) else 'py-band'} "
                    f"{name}: samples now {samples[name]}",
                    file=sys.stderr,
                )
            except Exception as e:
                failed.add(name)
                failed_elapsed += time.perf_counter() - t0
                print(f"bench: {name} FAILED: {e}", file=sys.stderr)

    timings = {n: estimate(v) for n, v in samples.items()}

    total = round(sum(t for t in timings.values() if t > 0) + failed_elapsed, 3)

    sf, sf_val = parse_sf(sf_dir)

    # Full per-query timings go to a sidecar the driver's end-of-round
    # commit picks up, so round-over-round regression diffing stays
    # mechanical even though the printed line is bounded.
    detail = {
        "metric": "full_query_sweep_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "sf_dir": os.path.realpath(sf_dir),
        "queries": timings,
        "estimator": "per-query median of up to %d samples" % REPS,
        "samples": samples,
        # queries that raised in ANY sweep — including ones with an
        # earlier good sample (whose median still reports positive):
        # late-sweep breakage must be visible in the artifact
        "failed": sorted(failed),
        # queries whose recorded samples disagree >BIMODAL_SPREADx —
        # their point estimate is one side of a bimodal distribution,
        # so a reader must not treat it as a stable median
        "bimodal": sorted(n for n in samples if bimodal(n)),
        "counters": counters,
        "compiles": compiles,
        "cores": sc.defaultParallelism,
        "counter_read_s": round(counter_read_s, 3),
    }
    # BENCH_DETAIL.json is the committed round-over-round baseline at
    # the driver's default sf — a local probe sweep at another sf must
    # not clobber it (r09: an sf0.001 probe overwrote the sf0.1
    # artifact and a bulk git add committed it), so non-default sfs
    # write an sf-suffixed sidecar instead.
    detail_name = (
        "BENCH_DETAIL.json"
        if sf_dir.rstrip("/") == "/root/testdata/sf0.1"
        else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(_REPO_DIR, detail_name)
    prev, baseline_desc = load_baseline(detail_path, sf_dir)
    _print_median_regressions(prev, baseline_desc, timings, detail["cores"])
    _print_counter_diff(prev, baseline_desc, counters, detail["cores"])
    if names:
        # a named subset prints its queries and never clobbers the artifact
        for name in qs:
            print(json.dumps({"query": name, "samples": samples[name],
                              "median": timings[name], "counters": counters.get(name),
                              "compiles": compiles[name]}))
    else:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)

    # The driver captures only the last 2000 chars of stdout and parses
    # the JSON line from that tail; 90+ query names overflow it. Emit the
    # slowest queries first and stop below a safe budget — the sidecar
    # holds the rest.
    line_obj = {
        "metric": "full_query_sweep_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        # the smallest time in ``queries``: faster ones are only in the sidecar
        "cutoff_sec": None,
        # the actual sidecar written above — non-default sfs get an
        # sf-suffixed name, and pointing the reader at the default-sf
        # artifact would be stale (ADVICE r09); a named subset writes none
        "detail": None if names else detail_name,
        "sf": sf_val,
    }
    if failed:
        line_obj["failed"] = sorted(failed)
    if detail["bimodal"]:
        line_obj["bimodal"] = detail["bimodal"]
    for name in sorted(timings, key=lambda n: -timings[n]):
        cutoff = line_obj["cutoff_sec"]
        line_obj["queries"][name] = line_obj["cutoff_sec"] = timings[name]
        if len(json.dumps(line_obj, separators=(",", ":"))) > 1800:
            del line_obj["queries"][name]
            line_obj["cutoff_sec"] = cutoff
            break
    print(json.dumps(line_obj, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
