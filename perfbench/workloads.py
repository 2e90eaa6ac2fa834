"""The benchmark's workloads: one closed-loop client each.

A workload prepares its inputs (cached fixtures and expected outputs, not
counted as set-up), sets up (counted), then runs ops one after another: the
driver thread waits for each result before it submits the next. Every op's
output is checked against an independent expectation after the op's timer
stops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import fixtures
import oracle

ALLOWED = fixtures.ALLOWED_SOURCES


def verdict_digest(rows) -> str:
    """Order-free digest of verdict rows (observed rounded to 6 places)."""
    canon = sorted(
        (str(r["partition_id"]), r["check_id"], bool(r["passed"]),
         None if r["observed"] is None else round(r["observed"], 6),
         int(r["n_violations"]), int(r["rows_scanned"]))
        for r in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def parquet_rows(*paths: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed: int, cache_dir: str, tmp_dir: str,
                 tracer=None):
        self.spark = spark
        self.seed = seed
        self.cache_dir = cache_dir
        self.tmp_dir = tmp_dir
        self.tracer = tracer
        self._n_tmp = 0

    def span(self, name: str, layer: str | None = None):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def fresh_dir(self, prefix: str) -> str:
        self._n_tmp += 1
        d = os.path.join(self.tmp_dir, f"{prefix}{self._n_tmp}")
        shutil.rmtree(d, ignore_errors=True)
        return d


class Workload:
    name = ""
    # untimed ops before timing starts, counted in setup_s. The JIT keeps
    # speeding ops up for the first several; the counts trade that against
    # the time one run may take.
    warmup_ops = 3
    rows_per_op = 0

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self) -> None:
        """Fixtures and expected outputs; cached per fixture, not set-up."""

    def setup(self) -> list[str]:
        """Set-up counted in ``setup_s``; returns output-check errors."""
        return []

    def op(self, i: int):
        raise NotImplementedError

    def op_seconds(self, out, wall: float) -> float:
        """The op's latency; by default the wall time of ``op``."""
        return wall

    def op_extras(self, out) -> dict[str, float]:
        """Per-layer values the op measured itself (traced runs)."""
        return {}

    def check(self, i: int, out) -> list[str]:
        return []

    def record(self, out) -> None:
        """Keep what ``report`` needs from a timed, checked op."""

    def finish(self) -> list[str]:
        return []

    def report(self, times: list[float]) -> dict:
        return {}


class SuiteBulk(Workload):
    """One-shot ``run_checks(default_suite)`` + ``materialize()``."""
    name = "suite_bulk"
    rows = 400_000

    def prepare(self):
        self.path = fixtures.sequences(self.ctx.cache_dir, rows=self.rows,
                                       seed=self.ctx.seed, id_offset=0)
        self.expected = oracle.violation_counts([self.path], ALLOWED)
        self.rows_per_op = parquet_rows(self.path)

    def setup(self):
        from pyanomalydetector_spark.checks.core import default_suite
        self.df = self.ctx.spark.read.parquet(self.path)
        self.suite = default_suite(ALLOWED)
        return []

    def op(self, i):
        from pyanomalydetector_spark.checks import core
        res = core.run_checks(self.df, self.suite)
        res.materialize()
        return res

    def check(self, i, res):
        rows = res.verdicts.collect()
        res.unpersist()
        return oracle.verdict_mismatches(rows, self.expected)

    def report(self, times):
        return {"validated_seq_per_s": self.rows_per_op / statistics.median(times)}


class Microbatch(Workload):
    """Disjoint seeded batches through ``StreamingSuiteRunner.apply_batch``;
    batch 0 pins the baseline during set-up."""
    name = "microbatch"
    batch_rows = 5000
    warmup_ops = 0          # the set-up batch that pins the baseline warms up

    def _batch(self, k: int) -> str:
        return fixtures.sequences(self.ctx.cache_dir, rows=self.batch_rows,
                                  seed=self.ctx.seed,
                                  id_offset=k * self.batch_rows)

    def prepare(self):
        self.rows_per_op = parquet_rows(self._batch(0))
        for k in (0, 1):
            oracle.violation_counts([self._batch(k)], ALLOWED)

    def setup(self):
        from pyanomalydetector_spark.checks.core import default_suite
        from pyanomalydetector_spark.streaming import check_stream
        self.runner = check_stream.StreamingSuiteRunner(
            self.ctx.spark, self.ctx.fresh_dir("stream"), default_suite(ALLOWED))
        self.runner.apply_batch(self.ctx.spark.read.parquet(self._batch(0)), 0)
        return self.check(-1, None)

    def op(self, i):
        self.runner.apply_batch(self.ctx.spark.read.parquet(self._batch(i + 1)),
                                i + 1)

    def check(self, i, out):
        from pyspark.sql import functions as F
        b = i + 1
        path = self._batch(b)
        self._batch(b + 1)         # next op's input, outside its timer
        rows = self.runner.verdicts().filter(F.col("batch_id") == b).collect()
        return oracle.verdict_mismatches(
            rows, oracle.violation_counts([path], ALLOWED))

    def report(self, times):
        return {"batch_p50_s": statistics.median(times),
                "batch_samples": len(times)}


class ResumeAppend(Workload):
    """One cycle per op on a fresh ``CheckpointStore``: ``s0`` over the base,
    ``s1`` over base + appended delta, then repeated no-op resumes of
    ``s1``."""
    name = "resume_append"
    base_rows = 100_000
    delta_rows = 5_000
    noop_repeats = 3
    warmup_ops = 1

    def prepare(self):
        c, s = self.ctx.cache_dir, self.ctx.seed
        self.base = fixtures.sequences(c, rows=self.base_rows, seed=s, id_offset=0)
        self.delta = fixtures.sequences(c, rows=self.delta_rows, seed=s,
                                        id_offset=self.base_rows, delta=True)
        self.exp_s0 = oracle.violation_counts([self.base], ALLOWED)
        self.exp_s1 = oracle.violation_counts([self.base, self.delta], ALLOWED)
        self.rows_per_op = parquet_rows(self.base, self.delta)
        self.phase_times: dict[str, list[float]] = {"first": [], "append": [],
                                                    "noop": []}
        self.s1_digests: list[str] = []

    def setup(self):
        from pyanomalydetector_spark.checks.core import default_suite
        self.suite = default_suite(ALLOWED)
        return []

    def _phase(self, store, paths, snap, phase):
        from pyanomalydetector_spark.plans import checkpoint
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.span(f"phase.{phase}", "checkpoint"):
            res = checkpoint.run_with_checkpoint(
                ctx.spark.read.parquet(*paths), self.suite, store,
                snapshot_id=snap)
            with ctx.span("checkpoint.result", "checkpoint"):
                rows = res.verdicts.collect()
                res.violations.count()
        return time.perf_counter() - t0, rows

    def op(self, i):
        from pyanomalydetector_spark.plans import checkpoint
        store_dir = self.ctx.fresh_dir("ckpt")
        store = checkpoint.CheckpointStore(self.ctx.spark, store_dir)
        both = [self.base, self.delta]
        out = {"dir": store_dir, "noop": []}
        out["first"] = self._phase(store, [self.base], "s0", "first")
        out["append"] = self._phase(store, both, "s1", "append")
        for _ in range(self.noop_repeats):
            out["noop"].append(self._phase(store, both, "s1", "noop"))
        out["written_mb"] = dir_mb(store_dir)
        return out

    def op_seconds(self, out, wall):
        return (out["first"][0] + out["append"][0]
                + sum(t for t, _ in out["noop"]))

    def op_extras(self, out):
        return {"checkpoint.written_mb": out["written_mb"]}

    def check(self, i, out):
        shutil.rmtree(out["dir"], ignore_errors=True)
        errs = oracle.verdict_mismatches(out["first"][1], self.exp_s0)
        errs += oracle.verdict_mismatches(out["append"][1], self.exp_s1)
        s1 = verdict_digest(out["append"][1])
        errs += [f"no-op resume digest {verdict_digest(r)} != s1 {s1}"
                 for _, r in out["noop"] if verdict_digest(r) != s1]
        self.s1_digests.append(s1)
        return errs

    def record(self, out):
        self.phase_times["first"].append(out["first"][0])
        self.phase_times["append"].append(out["append"][0])
        self.phase_times["noop"] += [t for t, _ in out["noop"]]

    def finish(self):
        """resume ≡ one-shot: every cycle's ``s1`` verdicts equal a single
        ``run_checks`` over base + delta under the same pinned baseline."""
        from pyanomalydetector_spark.checks.core import run_checks
        from pyanomalydetector_spark.plans import checkpoint
        spark = self.ctx.spark
        df = spark.read.parquet(self.base, self.delta)
        store = checkpoint.CheckpointStore(spark, self.ctx.fresh_dir("oneshot"))
        bl, ks_counts = checkpoint.compute_baseline(df, self.suite)
        store.save_baseline(checkpoint.suite_hash(self.suite), "s1", bl, ks_counts)
        res = run_checks(df, checkpoint.pin_suite(self.suite, bl, store))
        one_shot = verdict_digest(res.verdicts.collect())
        res.unpersist()
        return [f"cycle {k}: resumed s1 digest {d} != one-shot {one_shot}"
                for k, d in enumerate(self.s1_digests) if d != one_shot]

    def report(self, times):
        med = {k: statistics.median(v) for k, v in self.phase_times.items() if v}
        return {"first_run_s": med.get("first"),
                "append_run_s": med.get("append"),
                "noop_resume_s": med.get("noop"),
                "cycles": len(self.phase_times["first"])}


class Cascade(Workload):
    """The registered ``ev_cascade`` query (``detect_pipeline`` with
    ``_CASCADE_CFG``, fused route) over a seeded ``events`` table."""
    name = "cascade"
    rows = 100_000
    warmup_ops = 8

    def prepare(self):
        self.events_dir = fixtures.events(self.ctx.cache_dir, rows=self.rows,
                                          seed=self.ctx.seed)
        self.expected = oracle.cascade_survivors(self.events_dir)
        self.rows_per_op = self.rows

    def setup(self):
        import __spark_entry__
        self.query = __spark_entry__.queries()["ev_cascade"]
        return []

    def op(self, i):
        df = self.query(self.ctx.spark, self.events_dir)
        with self.ctx.span("cascade.exec", "cascade"):
            return sorted(r["itemid"] for r in df.collect())

    def check(self, i, survivors):
        if survivors != self.expected:
            return [f"survivors {survivors} != oracle {self.expected}"]
        return []

    def report(self, times):
        return {"cascade_p50_s": statistics.median(times),
                "survivors": len(self.expected)}


WORKLOADS = {w.name: w for w in (SuiteBulk, Microbatch, ResumeAppend, Cascade)}
