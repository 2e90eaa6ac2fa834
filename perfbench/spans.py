"""Spans around the engine's public functions, recorded from outside.

The tracer replaces a function at the module (or class) attribute its caller
resolves, times each call, and takes the status-store delta over it. It
patches nothing inside a function body, so the engine runs unchanged. Spans
nest: ``self`` time is a span's wall time minus its direct children's.

Each span carries a layer. A generic wrapper (``DataFrameWriter.parquet``,
``DataFrame.localCheckpoint``) is named after the layer of the span it runs
in, so a parquet write inside ``StreamingSuiteRunner.apply_batch`` is
``stream.write`` and one inside ``run_with_checkpoint`` is
``checkpoint.write``.

Per-layer metrics (medians over the timed ops of a traced run; a layer a
workload does not call reads 0) and the end-to-end metric each should move:

- ``checks.*`` — inside ``run_checks`` (plan build plus its eager jobs)
  and ``CheckResult.materialize``. Build time, jobs and tasks move
  ``op_p50_s`` on ``microbatch``; shuffle, CPU and ``core_busy`` move
  ``rows_per_s`` on ``suite_bulk``.
- ``stream.*`` — ``StreamingSuiteRunner.apply_batch``; ``write_s`` holds the
  verdict and violation writes and the execution they trigger. These move
  ``op_p50_s`` on ``microbatch``.
- ``checkpoint.*`` — ``plans.checkpoint``: baseline capture and pinning on
  every workload that pins one, and the merge, appends and skip-done reads
  of ``run_with_checkpoint`` on ``resume_append``, whose report line
  splits ``first_run_s`` / ``append_run_s`` / ``noop_resume_s``.
  ``checkpoint.input_mb.append`` is what validating only new data must
  make scale with the delta.
- ``cascade.*`` — the ``detect_pipeline`` build (including its eager
  rollup checkpoint) and the action; they move ``op_p50_s`` on
  ``cascade``. A change confined to ``checks`` should leave them flat.
- ``session.start_s`` and the ``host.*`` probes are context for noise.
  ``trace.overhead_s`` is the per-op time spent reading the status store;
  ``trace.op_p50_s`` minus an untraced run's ``op_p50_s`` is the whole
  tracing overhead.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from status import Counts, StatusStore


@dataclass
class Span:
    name: str
    layer: str
    wall_s: float = 0.0
    child_s: float = 0.0
    counts: Counts = field(default_factory=Counts)


class Tracer:
    def __init__(self, status: StatusStore):
        self.status = status
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_spans: list[Span] = []   # finished spans of the current op

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        s = Span(name, layer or name.split(".")[0])
        mark = self.status.mark()
        self._stack.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            self._stack.pop()
            s.counts = self.status.since(mark)
            if self._stack:
                self._stack[-1].child_s += s.wall_s
            self.op_spans.append(s)

    def layer(self) -> str:
        return self._stack[-1].layer if self._stack else "bench"

    def wrap(self, owner, attr: str, name: str, layer: str | None = None) -> None:
        """Replace ``owner.attr`` by a traced call. ``name`` may start with
        ``*.`` to take the layer of the enclosing span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if name.startswith("*."):
                lay = tracer.layer()
                span_name = lay + name[1:]
            else:
                lay, span_name = layer, name
            with tracer.span(span_name, lay):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def take_op(self) -> dict[str, Span]:
        """Per-name totals of the spans finished since the last call."""
        out: dict[str, Span] = {}
        for s in self.op_spans:
            t = out.setdefault(s.name, Span(s.name, s.layer))
            t.wall_s += s.wall_s
            t.child_s += s.child_s
            t.counts += s.counts
        self.op_spans = []
        return out


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    from pyspark.sql import DataFrameWriter
    # the classic (non-Connect) DataFrame overrides localCheckpoint
    from pyspark.sql.classic.dataframe import DataFrame

    from pyanomalydetector_spark.checks import core
    from pyanomalydetector_spark.plans import checkpoint, pipeline
    from pyanomalydetector_spark.streaming import check_stream

    # run_checks / compute_baseline are imported by name into the modules
    # that call them, so wrap the name each caller resolves
    tracer.wrap(core, "run_checks", "checks.build", "checks")
    tracer.wrap(checkpoint, "run_checks", "checkpoint.suite_build", "checks")
    tracer.wrap(check_stream, "run_checks", "stream.suite_build", "checks")
    tracer.wrap(core.CheckResult, "materialize", "checks.exec", "checks")
    for mod in (checkpoint, check_stream):
        tracer.wrap(mod, "compute_baseline", "checkpoint.baseline", "checkpoint")
    tracer.wrap(checkpoint, "run_with_checkpoint", "checkpoint.run", "checkpoint")
    store = checkpoint.CheckpointStore
    tracer.wrap(store, "save_baseline", "checkpoint.save_baseline", "checkpoint")
    tracer.wrap(store, "merge", "checkpoint.merge", "checkpoint")
    for attr in ("load_baseline", "done_partitions", "ks_counts"):
        tracer.wrap(store, attr, "checkpoint.read", "checkpoint")
    runner = check_stream.StreamingSuiteRunner
    tracer.wrap(runner, "apply_batch", "stream.apply", "stream")
    for attr in ("_applied", "_mark"):
        tracer.wrap(runner, attr, "stream.ledger", "stream")
    # the registered query resolves detect_pipeline in the entry module
    import __spark_entry__
    for mod in (pipeline, __spark_entry__):
        tracer.wrap(mod, "detect_pipeline", "cascade.build", "cascade")
    tracer.wrap(DataFrame, "localCheckpoint", "*.materialize")
    tracer.wrap(DataFrameWriter, "parquet", "*.write")


# ------------------------------------------------------- per-layer metrics ---

_CHECKS = ("checks.build", "checkpoint.suite_build", "stream.suite_build",
           "checks.exec")
_COUNT_FIELDS = {
    "jobs": "jobs", "stages": "stages", "stages_skipped": "stages_skipped",
    "tasks": "tasks", "failed_tasks": "failed_tasks", "exec_run_s": "run_s",
    "exec_cpu_s": "cpu_s", "gc_s": "gc_s", "input_mb": "input_mb",
    "shuffle_read_mb": "shuffle_read_mb",
    "shuffle_write_mb": "shuffle_write_mb", "spill_mb": "spill_mb",
}
PHASES = ("first", "append", "noop")


def layer_metrics(op: dict[str, Span], cores: int) -> dict[str, float]:
    """One op's per-layer metrics from its span totals."""
    def wall(*names):
        return sum(op[n].wall_s for n in names if n in op)

    def counts(*names):
        c = Counts()
        for n in names:
            if n in op:
                c += op[n].counts
        return c

    m: dict[str, float] = {}
    chk = counts(*_CHECKS)
    chk_wall = wall(*_CHECKS)
    m["checks.build_s"] = wall(*_CHECKS[:3])
    m["checks.exec_s"] = wall("checks.exec")
    for k, f in _COUNT_FIELDS.items():
        m[f"checks.{k}"] = getattr(chk, f)
    m["checks.core_busy"] = chk.run_s / (chk_wall * cores) if chk_wall else 0.0

    st = counts("stream.apply")
    m["stream.apply_s"] = wall("stream.apply")
    m["stream.suite_build_s"] = wall("stream.suite_build")
    m["stream.write_s"] = wall("stream.write")
    m["stream.ledger_s"] = wall("stream.ledger")
    m["stream.jobs"], m["stream.tasks"] = st.jobs, st.tasks

    run = op.get("checkpoint.run")
    for k in ("baseline", "save_baseline", "suite_build", "materialize",
              "write", "merge"):
        m[f"checkpoint.{k}_s"] = wall(f"checkpoint.{k}")
    m["checkpoint.read_s"] = wall("checkpoint.read", "checkpoint.result")
    m["checkpoint.self_s"] = run.wall_s - run.child_s if run else 0.0
    m["checkpoint.jobs"] = counts("checkpoint.run", "checkpoint.result").jobs
    m["checkpoint.written_mb"] = 0.0       # measured by the workload
    for ph in PHASES:
        m[f"checkpoint.input_mb.{ph}"] = counts(f"phase.{ph}").input_mb

    cas = counts("cascade.build", "cascade.exec")
    m["cascade.build_s"] = wall("cascade.build")
    m["cascade.exec_s"] = wall("cascade.exec")
    m["cascade.jobs"], m["cascade.tasks"] = cas.jobs, cas.tasks
    m["cascade.exec_cpu_s"] = cas.cpu_s
    m["cascade.input_mb"] = cas.input_mb
    m["cascade.shuffle_read_mb"] = cas.shuffle_read_mb
    return m


def median_metrics(per_op: list[dict[str, float]]) -> dict[str, float]:
    import statistics
    cols: dict[str, list[float]] = defaultdict(list)
    for m in per_op:
        for k, v in m.items():
            cols[k].append(v)
    return {k: statistics.median(v) for k, v in cols.items()}
