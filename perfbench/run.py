#!/usr/bin/env python3
"""Check-engine benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py): ``microbatch``, ``cascade``, ``suite_bulk``,
``resume_append``. The run

1. builds the seeded fixtures and their expected outputs (cached under
   ``perfbench/.work/fixtures``; this time is not set-up),
2. starts the engine's session at ``local[<usable cores>]``, sets up the
   workload and warms it up with a fixed number of ops (all counted in ``setup_s``),
3. runs ops back to back for ``--seconds`` (at least one), checking every
   op's output against DuckDB or the engine's resume ≡ one-shot invariant,
4. prints a report line with the workload's own named metrics, then, as the
   last line, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
engine's public functions (spans.py), takes status-store deltas around each
call (status.py), runs the host probes after the timed ops, and reports the
per-layer metrics instead. The exit code is 0 only if every op's output was
correct; outside a checkout holding the engine it is 2 and nothing is
printed on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "1536m"  # also the initial heap, so peak RSS does not ride
                         # on when G1 happened to grow the heap

END_TO_END = {"op_p50_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm() -> None:
    """Reset this process's peak RSS, so fixture generation (whose cost
    depends on whether the cache is warm) does not set ``peak_rss_mb``."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, cores: int):
    """The engine's own session (``get_spark``) at ``local[cores]``, with
    every scratch path of the JVM kept inside ``run_dir``."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no hsperfdata files in the system temp dir, for the launcher or driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
        "pyspark-shell"])
    from pyanomalydetector_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def isolate(spark) -> None:
    """Between ops: drop cached frames and every persistent RDD —
    ``clearCache`` does not release ``localCheckpoint`` storage."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)


class Runner:
    """Runs one workload: set-up, warm-up, timed ops, checks."""

    def __init__(self, wl, spark, tracer, cores: int):
        self.wl, self.spark, self.tracer, self.cores = wl, spark, tracer, cores
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer_ops: list[dict] = []
        self.collector_s: list[float] = []

    def one(self, i: int, keep: bool) -> float | None:
        """Run, time and check op ``i``; its latency, or None if it failed.
        In a traced run the op's spans are taken before the check runs."""
        from spans import layer_metrics
        self.attempted += 1
        read0 = self.tracer.status.read_s if self.tracer else 0.0
        try:
            t0 = time.perf_counter()
            out = self.wl.op(i)
            dt = self.wl.op_seconds(out, time.perf_counter() - t0)
            if self.tracer:
                spans = self.tracer.take_op()
                if keep:
                    m = layer_metrics(spans, self.cores)
                    m.update(self.wl.op_extras(out))
                    self.layer_ops.append(m)
                    self.collector_s.append(self.tracer.status.read_s - read0)
            errs = self.wl.check(i, out)
        except Exception:
            dt, out, errs = None, None, [traceback.format_exc()]
        if self.tracer:
            self.tracer.take_op()       # spans of the check are not the op's
        isolate(self.spark)
        if errs:
            self.failed += 1
            self.errors += [f"op {i}: {e}" for e in errs]
            return None
        if keep:
            self.wl.record(out)
        return dt

    def warm_up(self) -> int:
        """Untimed ops until the JIT has settled; returns the next op index."""
        for i in range(self.wl.warmup_ops):
            self.one(i, keep=False)
        return self.wl.warmup_ops

    def measure(self, i: int, seconds: float) -> list[float]:
        times: list[float] = []
        end = time.perf_counter() + seconds
        while True:
            dt = self.one(i, keep=True)
            i += 1
            if dt is not None:
                times.append(dt)
            if time.perf_counter() >= end:
                return times


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    sys.path.insert(1, ROOT)
    try:
        import pyanomalydetector_spark  # noqa: F401  the engine under test
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Context
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    age0 = process_age_s() - (time.perf_counter() - T0)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = usable_cores()
    ctx = Context(None, args.seed, os.path.join(WORK, "fixtures"),
                  os.path.join(run_dir, "stores"))
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t = time.perf_counter()
        wl.prepare()
        untimed_s = time.perf_counter() - t
        reset_hwm()

        t = time.perf_counter()
        spark = ctx.spark = start_session(run_dir, cores)
        session_start_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from spans import Tracer, install
            from status import StatusStore
            tracer = ctx.tracer = Tracer(StatusStore(spark))
            install(tracer)
        runner = Runner(wl, spark, tracer, cores)
        setup_errors = wl.setup()
        if setup_errors:
            runner.attempted += 1
            runner.failed += 1
            runner.errors += [f"setup: {e}" for e in setup_errors]
        isolate(spark)
        i = runner.warm_up()
        if tracer:
            tracer.take_op()
        setup_s = age0 + (time.perf_counter() - T0) - untimed_s

        times = runner.measure(i, args.seconds)
        finish_errors = wl.finish()
        if finish_errors:
            runner.failed += 1
            runner.errors += finish_errors

        if tracer:
            tracer.unwrap_all()
        report = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                  "cores": cores, "ops_timed": len(times),
                  "op_times_s": [round(x, 4) for x in times],
                  "fixture_and_oracle_s": round(untimed_s, 3),
                  **(wl.report(times) if times else {})}
        if not times:
            metrics = {}
        elif tracer:
            from pyanomalydetector_spark import probes
            from spans import median_metrics
            metrics = median_metrics(runner.layer_ops)
            metrics["session.start_s"] = session_start_s
            metrics["trace.op_p50_s"] = statistics.median(times)
            metrics["trace.overhead_s"] = statistics.median(runner.collector_s)
            metrics["host.cpu_probe_s"] = probes.cpu_probe(spark)
            metrics["host.shuffle_probe_s"] = probes.shuffle_probe(spark)
        else:
            op_p50 = statistics.median(times)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            metrics = {"op_p50_s": op_p50,
                       "rows_per_s": wl.rows_per_op / op_p50,
                       "setup_s": setup_s,
                       "peak_rss_mb": vm_hwm_mb() + vm_hwm_mb(jvm_pid)}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in runner.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    correct = runner.failed == 0 and bool(times)
    print(json.dumps(report))
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": END_TO_END.get(k) or _unit(k)}
                    for k, v in metrics.items()}}))
    return 0 if correct else 1


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or ".input_mb." in name:
        return "MB"
    if name.endswith("core_busy"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
