"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload scan_many_files --seed 1 --seconds 20 --trace 0

One process, one client thread, closed loop: each operation starts when the
previous one has returned. The workload's operation count is fixed by
``--seconds`` alone (sized to take about that long on 4 cores), never by
how fast the engine runs, so two versions of the engine do the same work.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` every other round of the
workload's mix runs with spans around the engine's layer entry points,
and the object holds the per-layer metrics plus ``trace.overhead``. The lines
before it are a readable report. Every result is checked against the
workload's model, and the table is reloaded through a fresh catalog at the
end and checked again. Everything is written under
``.perfbench_work/<workload>-<pid>/`` in the checkout; the final table is
left there.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# retained_mb collects garbage until the live heap stops falling
GC_ROUNDS_MAX = 12
GC_STEADY_BYTES = 256 << 10
# the loop stops here, so that a run of a much slower engine still ends
# within 180 s, set-up and final check included
LOOP_CAP_S = 110
END_TO_END_UNITS = {
    "setup_s": "s",
    "point_read_p50_s": "s",
    "full_read_p50_s": "s",
    "append_p50_s": "s",
    "ops_per_s": "1/s",
    "bytes_per_row": "bytes",
    "retained_mb": "MB",
}
# Latencies printed in the report only. The JSON result carries the metrics
# every workload has in enough samples to repeat: the row-level classes run
# only on mor_churn, and mor_churn has too few point reads for a tail.
REPORT_P50 = ("delete", "merge", "upsert", "maint")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_missing() -> str | None:
    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "pyarrow", "numpy", "iceberg_spark"):
        if importlib.util.find_spec(mod) is None:
            return mod
    return None


def start_spark(work: str, tmp: str, trace: bool):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    if trace:
        # job and stage counts are read from the status store after the loop
        builder = (builder.config("spark.ui.retainedJobs", "100000")
                   .config("spark.ui.retainedStages", "100000"))
    spark = (
        builder.master("local[4]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def retained_mb(spark) -> tuple:
    """(total, JVM, Python) MB: live JVM heap after full collections plus
    the Python driver's RSS."""
    gc.collect()  # drops Python handles first, so the JVM can free their objects
    jvm = spark._jvm
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap, steady = None, 0
    for _ in range(GC_ROUNDS_MAX):
        jvm.java.lang.System.gc()
        # Spark's context cleaner frees broadcasts and shuffles whose handles
        # the last collection found dead, which lets the next collection free
        # more: after three rounds the heap still read 16 MB high in up to
        # four of ten mor_churn runs. Collect until two rounds free nothing.
        time.sleep(0.5)
        used = memory.getHeapMemoryUsage().getUsed()
        if heap is not None and used > heap - GC_STEADY_BYTES:
            steady += 1
            if steady == 2:
                break
        else:
            steady = 0
        heap = used if heap is None else min(heap, used)
    rss_kb = 0
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                rss_kb = int(line.split()[1])
    heap_mb, rss_mb = heap / (1 << 20), rss_kb / 1024
    return heap_mb + rss_mb, heap_mb, rss_mb


def tail(samples):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or None when that percentile would not lie above
    the median (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n


class Recorder:
    def __init__(self):
        self.latencies = defaultdict(list)  # op class -> [seconds]
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def run(self, op, thunk):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            thunk()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{op}: {type(e).__name__}: {e}\n"
                                   f"{traceback.format_exc(limit=4)}")
        dt = time.perf_counter() - t0
        self.latencies[op].append(dt)
        return dt


def run_workload(spark, args, work):
    from workloads import WORKLOADS, dir_bytes

    wl = WORKLOADS[args.workload](spark, work, args.seed)
    rec = Recorder()

    builds = []
    for rep in range(SETUP_REPS):
        if rep:
            wl.drop()
        t0 = time.perf_counter()
        wl.build(rep)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for op, thunk in wl.warm_up():
        rec.run(op, thunk)
    warm = time.perf_counter() - t0
    rec.latencies.clear()
    setup_s = statistics.median(builds) + warm

    tracer = jobs = None
    if args.trace:
        from spans import JobCounter, Tracer

        tracer, jobs = Tracer(), JobCounter(spark.sparkContext)
    deadline = LOOP_CAP_S
    round_s = defaultdict(float)  # round -> seconds in its operations
    t_loop = time.perf_counter()
    for rnd, op, thunk in wl.ops(args.seconds):
        if time.perf_counter() - t_loop > deadline:
            print(f"loop stopped after {deadline:.0f} s", file=sys.stderr)
            break
        # odd rounds are traced: rounds repeat one mix, so a traced round
        # and an untraced one do the same work
        traced = tracer is not None and rnd % 2 == 1
        if traced:
            tracer.install()
            jobs.begin(op)
            try:
                round_s[rnd] += rec.run(op, thunk)
            finally:
                jobs.end()
                tracer.uninstall()
        else:
            round_s[rnd] += rec.run(op, thunk)
    loop_s = time.perf_counter() - t_loop

    rec.attempted += 1
    t0 = time.perf_counter()
    try:
        wl.verify()
    except Exception as e:  # a mismatch or a failed reload
        rec.failed += 1
        rec.errors.append(f"verify: {type(e).__name__}: {e}")
    verify_s = time.perf_counter() - t0

    table_bytes, rows = dir_bytes(wl.table.location), wl.live_rows()
    retained = retained_mb(spark)
    ops_done = sum(len(v) for v in rec.latencies.values())
    metrics, report = {}, {}
    if not args.trace:
        lat = rec.latencies
        pr = lat["point_read"]
        metrics = {
            "setup_s": setup_s,
            "point_read_p50_s": statistics.median(pr),
            "full_read_p50_s": statistics.median(lat["full_read"]),
            "append_p50_s": statistics.median(lat["append"]),
            "ops_per_s": ops_done / loop_s,
            "bytes_per_row": table_bytes / rows,
            "retained_mb": retained[0],
        }
        t = tail(pr)
        report["point_read_tail_s"] = (f"{t[0]:.4f} s (p{t[1]:.1f} of {len(pr)} samples)"
                                       if t else f"none ({len(pr)} samples)")
        for op in REPORT_P50:
            xs = lat.get(op)
            if xs:
                report[f"{op}_p50_s"] = f"{statistics.median(xs):.4f} s ({len(xs)} samples)"
    else:
        metrics = tracer.layer_metrics()
        metrics.update(jobs.per_op())
        metrics["trace.overhead"] = (
            statistics.fmean(v for r, v in round_s.items() if r % 2 == 1)
            / statistics.fmean(v for r, v in round_s.items() if r % 2 == 0))
        report["absent entry points"] = ", ".join(tracer.absent) or "none"
    report["error_rate"] = f"{rec.failed / rec.attempted:.4f} ({rec.failed} of {rec.attempted})"
    report["operations"] = ", ".join(
        f"{op} {len(xs)}" for op, xs in sorted(rec.latencies.items()))
    report["table"] = f"{rows} live rows, {table_bytes} bytes on disk"
    report["setup builds"] = ", ".join(f"{b:.3f}" for b in builds) + f" s; warm-up {warm:.3f} s"
    report["loop"] = f"{loop_s:.3f} s; final check {verify_s:.3f} s"
    report["retained"] = "JVM heap {1:.1f} MB + Python RSS {2:.1f} MB".format(*retained)
    return wl, rec, metrics, report


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = engine_missing()
    if missing:
        print(f"perfbench: cannot import {missing}; run from the root of a "
              f"checkout that holds the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers the engine starts import it from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = None
    try:
        spark = start_spark(work, tmp, bool(args.trace))
        wl, rec, metrics, report = run_workload(spark, args, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        # The table stays: deleting thousands of files long since written
        # back to disk takes longer than the run on some file systems.
        for d in ("tmp", "spark-local", "spark-warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    from spans import LAYER_MAP, layer_unit

    units = {k: layer_unit(k) for k in metrics} if args.trace else END_TO_END_UNITS
    print(f"workload {wl.name}, seed {args.seed}, {args.seconds:g} s, "
          f"trace {args.trace}")
    for k, v in report.items():
        print(f"  {k}: {v}")
    for k, v in metrics.items():
        hint = f"  -> {LAYER_MAP[k]}" if args.trace else ""
        print(f"  {k} = {v:.6g} {units[k]}{hint}")
    for e in rec.errors:
        print(e, file=sys.stderr)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
