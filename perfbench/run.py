"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_sweep --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench_work/`` (removed at exit), starts one
session at ``local[<cores>]``, warms it, runs the workload's op in a
closed loop with one client for ``--seconds`` (at least one op), checks
the outputs, and prints a report to stderr and one JSON result line last
on stdout.

``--trace 1`` runs the ops traced and reports the per-layer metrics,
the tracing overhead and a counter table (per catalog query, per NEP
stage); spans and counters are written to ``.perfbench_out/``.
``--compare FILE`` diffs the counters against an earlier trace file and
marks the counts that repeated exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DRIVER_MEM = "4g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", help="earlier trace file to diff counters against")
    return ap.parse_args(argv)


def process_age_s() -> float:
    """Seconds since this process started, interpreter start included."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime, clock ticks after boot); the command name
        # in field 2 may hold spaces, so count from its closing ')'
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    return uptime_s - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its live descendants (the
    JVM and the Python workers), reaped children included."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime)
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def rss_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch space of Python, the JVM and Spark stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    from post_modern_stack_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        # sized to the cores like the repo's own test session; the
        # session default (32) is sized for local[32]
        shuffle_partitions=os.cpu_count() or 1,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate(w, work: str) -> dict:
    """Generate the inputs once; returns the input facts with their size
    and digest (test_perfbench.py checks that a seed's files repeat)."""
    import gen

    out = os.path.join(work, "inputs")
    facts = w.generate(out)
    w.use_inputs(out)
    return dict(facts, input_bytes=gen.dir_bytes(out), input_sha256=gen.dir_digest(out))


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def timed_loop(run_op, seconds: float) -> tuple[list, list[str]]:
    results, errors = [], []
    deadline = time.perf_counter() + seconds
    while not results or time.perf_counter() < deadline:
        try:
            results.append(run_op())
        except Exception:  # noqa: BLE001 - a failed op is counted, then the loop stops
            errors.append(traceback.format_exc(limit=3))
            break
    return results, errors


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "post_modern_stack_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        log("run from the root of a checkout: post_modern_stack_spark/ not found")
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        w = WORKLOADS[args.workload](work, args.seed)
        import_s = process_age_s()
        t0 = time.perf_counter()
        facts = generate(w, work)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.warmup(spark)
        warmup_s = time.perf_counter() - t0
        log(f"[{args.workload}] seed={args.seed} inputs={json.dumps(facts)}")

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            w.install_wrappers(tracer)
            run_op = lambda: (tracer.new_op(), w.traced_op(spark, tracer))[1]  # noqa: E731
        else:
            run_op = lambda: w.op(spark)  # noqa: E731
        # process start to the first timed op
        setup_s = process_age_s()
        log(f"set-up {setup_s:.2f} s (interpreter and imports {import_s:.2f}, "
            f"generate {gen_s:.2f}, session {start_s:.2f}, warm-up {warmup_s:.2f})")
        cpu0 = tree_cpu_s(os.getpid())
        try:
            results, errors = timed_loop(run_op, args.seconds)
        finally:
            if tracer is not None:
                tracer.restore()
        op_cpu_s = (tree_cpu_s(os.getpid()) - cpu0) / max(1, len(results))
        check_failures = w.check(spark)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak = rss_mb(os.getpid()) + rss_mb(jvm_pid)

        # ops plus the one output check per invocation
        attempted = len(results) + len(errors) + 1
        failed = len(errors) + bool(check_failures)
        for e in errors:
            log("op failed:\n" + e)
        for c in check_failures:
            log("check failed: " + c)

        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "inputs": facts, "cores": os.cpu_count(),
            "setup": {"import_s": import_s, "generate_s": gen_s, "session_s": start_s,
                      "warmup_s": warmup_s, "setup_s": setup_s},
            "ops": [{"wall_s": r.wall_s, "steps_s": r.steps_s, "rows": r.rows} for r in results],
            "check_failures": check_failures, "errors": errors,
        }
        metrics = {}
        if results:
            import stats

            op_s = statistics.median(r.wall_s for r in results)
            steps = [s for r in results for s in r.steps_s]
            step = stats.summarize(steps)
            rows_per_s = statistics.median(r.rows / r.wall_s for r in results)
            detail["summary"] = {"op_s": op_s, "op_cpu_s": op_cpu_s, "steps": step,
                                 "rows_per_s": rows_per_s,
                                 "n_ops": len(results), "peak_rss_mb": peak}
            log(f"ops {len(results)}: op median {op_s:.3f} s, cpu {op_cpu_s:.2f} s/op, "
                f"{rows_per_s:.1f} rows/s; "
                f"steps n={step['n']} p50 {step['p50']:.4f} s"
                + (f", p{step['tail_pct']:g} {step['tail']:.4f} s" if "tail" in step else ""))
            if args.trace:
                from layers import per_layer

                metrics, trace_detail = per_layer(
                    spark, tracer, results,
                    {"session.start_s": start_s, "session.warmup_s": warmup_s,
                     "mem.peak_rss_mb": peak},
                )
                path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
                tracer.write(path, dict(detail, **trace_detail))
                log(f"trace written to {os.path.relpath(path, root)}")
                if args.compare:
                    from layers import print_counter_diff

                    print_counter_diff(args.compare, trace_detail["counters"])
            else:
                metrics = {
                    "setup_s": {"value": setup_s, "unit": "s"},
                    "op_s": {"value": op_s, "unit": "s"},
                    "op_cpu_s": {"value": op_cpu_s, "unit": "s"},
                }
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                   f"{'-trace' if args.trace else ''}-result.json"), "w") as f:
                json.dump(dict(detail, metrics=metrics), f, indent=1)
        for name, m in metrics.items():
            log(f"  {name:40s} {m['value']:.6g} {m['unit']}")
        log(f"error rate {failed}/{attempted}")
        correct = failed == 0 and bool(results)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
