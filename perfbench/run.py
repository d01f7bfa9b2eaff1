#!/usr/bin/env python3
"""cogger_spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload convert --seed 7 --seconds 15 --trace 0

Run from the repository root. A single client (this process) issues the
next operation only after the previous one completed, on local[nproc].
Inputs are generated from --seed outside the timed region and cached under
.perfbench_work/; every file the run writes stays under that directory.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(spans, Spark event log and single-threaded kernel runs; see README.md).
The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

N_SETUPS = 3
MIN_PASSES = 3
# untimed passes of the real operation before timing: the first few after
# a session start run slower. The median over a long timed window absorbs
# the rest of the JIT warm-up, so the run's time goes to timing instead
WARM_PASS_S = 3.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def start_session(work: pathlib.Path, event_log: bool):
    from cogger_spark.session import get_spark
    extra = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": (work / "eventlog").as_uri(),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=nproc(), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(manifest: dict, root: pathlib.Path) -> dict:
    import pyspark
    commit = "unknown"      # a checkout without .git has no commit to name
    if (root / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "--git-dir", str(root / ".git"), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": nproc(), "mem_mb": mem_kb // 1024,
            "python": platform.python_version(), "spark": pyspark.__version__,
            "commit": commit, "seed": manifest["seed"],
            "in_files": manifest["in_files"], "in_bytes": manifest["in_bytes"],
            "input_digest": manifest["digest"]}


def box_probe_s() -> float:
    """Seconds for a fixed single-threaded zlib job: a record of how fast
    the box was during this run, since its speed drifts between runs."""
    import zlib
    buf = bytes(range(256)) * (16 * 4096)
    t0 = time.perf_counter()
    zlib.compress(buf, 6)
    return time.perf_counter() - t0


def one_op(wl, tracer, tree, stats: dict, label: str) -> float:
    """Clean (untimed), one timed operation, check (untimed)."""
    import spans as T
    wl.clean()
    stats["attempted"] += 1
    ok = False
    with T.RssSampler(tree) as rss:
        t0 = time.perf_counter()
        try:
            with tracer.span(label):
                wl.run(tracer)
            ok = True
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            wl.errors.append(f"{label}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
    ok = ok and wl.verify()
    stats["failed"] += 0 if ok else 1
    stats["rss"].append(rss.peak)
    return dt


def passes(wl, tracer, seconds: float, tree, stats: dict) -> list:
    """Closed loop until the timed operations add up to `seconds` (and at
    least MIN_PASSES ran)."""
    times = []
    while sum(times) < seconds or len(times) < MIN_PASSES:
        times.append(one_op(wl, tracer, tree, stats, "pass"))
    return times


def guard_op(spark, wl, tracer, tree, stats) -> None:
    """Untimed first operation: its outputs are checked from first
    principles, and its executed plans must run the Python kernel over the
    whole input — a pruned plan stops the benchmark instead of being timed."""
    import spans as T
    wl.bind(spark)
    since = T.last_execution_id(spark)
    one_op(wl, tracer, tree, stats, "guard")
    reason = T.guard(T.sql_executions(spark, since), wl.guard_min_python_bytes())
    if reason:
        stop_session(spark)
        fail(f"pruning guard: {reason}")
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < WARM_PASS_S:
        one_op(wl, tracer, tree, stats, "warm")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = pathlib.Path.cwd()
    if not (root / "cogger_spark" / "__init__.py").is_file():
        fail("no cogger_spark package here; run from the repository root")
    sys.path.insert(0, str(root))
    import inputs
    import spans as T
    import workloads
    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")

    work = root / ".perfbench_work"
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(work / "eventlog", ignore_errors=True)
    for d in ("tmp", "spark-local", "run"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({"TMPDIR": str(work / "tmp"),
                       "SPARK_LOCAL_DIRS": str(work / "spark-local"),
                       "SPARK_WAREHOUSE": str(work / "warehouse"),
                       "PYSPARK_PYTHON": sys.executable,
                       "PYSPARK_DRIVER_PYTHON": sys.executable})

    calib_s = box_probe_s()
    t0 = time.perf_counter()
    manifest = inputs.prepare(args.workload, args.seed, work / "inputs")
    gen_s = time.perf_counter() - t0
    # flush the freshly written inputs now, so their writeback does not
    # land on the set-ups
    os.sync()
    wl = workloads.WORKLOADS[args.workload](manifest, run_dir)
    tree = T.ProcTree(os.getpid())
    tracer = T.Tracer(False)
    stats = {"attempted": 0, "failed": 0, "rss": []}
    half = args.seconds / 2

    # set-up: session start + warm-up, N_SETUPS times in this process (the
    # first also launches the JVM). A traced run measures its untraced half
    # in the second session; its third session starts with the event log on.
    spark, setups, untraced = None, [], []
    for k in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, event_log=bool(args.trace) and k == N_SETUPS - 1)
        t1 = time.perf_counter()
        wl.clean()
        wl.warm(spark)
        setups.append((t1 - t0, time.perf_counter() - t1))
        if args.trace and k == N_SETUPS - 2:
            guard_op(spark, wl, tracer, tree, stats)
            untraced = passes(wl, tracer, half, tree, stats)
    if not args.trace:
        guard_op(spark, wl, tracer, tree, stats)
    setup_s = [a + b for a, b in setups]

    cpu0, box0 = tree.cpu_s(), T.box_cpu_s()
    if args.trace:
        tracer = T.Tracer(True, spark.sparkContext)
        wl.bind(spark)
    stats["rss"] = []
    times = passes(wl, tracer, half if args.trace else args.seconds, tree,
                   stats)
    other_cpu_s = (T.box_cpu_s() - box0) - (tree.cpu_s() - cpu0)
    in_mb = wl.in_bytes() / 1e6
    out_ratio = wl.out_bytes() / wl.in_bytes()
    extra = {}
    if args.trace:
        import layers
        extra = layers.collect(spark, wl, tracer, stats)
    stop_session(spark)
    logs = sorted((work / "eventlog").glob("*")) if args.trace else []
    log_path = logs[-1] if logs else None

    record = {"workload": args.workload, "env": environment(manifest, root),
              "gen_s": gen_s, "box_probe_s": calib_s, "setups": setups,
              "pass_s": times,
              "untraced_pass_s": untraced, "rss_mb": stats["rss"],
              "errors": wl.errors[:20]}
    (work / f"record-{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, default=str))
    attempted, failed = stats["attempted"], stats["failed"]
    p50 = statistics.median(times)
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "mb_per_s": (in_mb / p50, "MB/s"),
            "out_bytes_per_in_byte": (out_ratio, "ratio"),
        }
    else:
        if log_path is None:
            fail("traced run left no event log")
        log = T.read_event_log(log_path)
        metrics = layers.finish(extra, log, tracer, wl, setups, untraced, times,
                                other_cpu_s, statistics.median(stats["rss"]),
                                attempted, failed, nproc())
        tracer.write(work / f"spans-{args.workload}-s{args.seed}.json")
    print("perfbench-record " + json.dumps({k: record[k] for k in (
        "env", "gen_s", "box_probe_s", "setups", "pass_s", "untraced_pass_s",
        "errors")}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
