"""Streaming check suite: per-batch validation with pinned first-batch
baseline and idempotent redelivery."""

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.sources.sequences import SEQ_SCHEMA, load_sequences
from pyanomalydetector_spark.checks.core import Check, run_checks, default_suite
from pyanomalydetector_spark.plans.checkpoint import (
    suite_hash, pin_suite,
)
from pyanomalydetector_spark.streaming.check_stream import (
    StreamingSuiteRunner, stream_check_suite,
)


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return load_sequences(spark, sf_dir).persist()


def _await_and_stop(q, timeout):
    """Wait for ``q``; stop it even when it overruns ``timeout``, so an
    unfinished query cannot hold task slots into later tests."""
    try:
        q.awaitTermination(timeout)
    finally:
        q.stop()


def _suite(seq):
    allowed = sorted(r["source"] for r in seq.select("source").distinct()
                     .filter(F.col("source").rlike("^src[0-9]+$")).collect())
    return default_suite(allowed)


def _psi_pair(*buckets):
    """``drift_psi`` checks on ``n_tok``, one per bucket count, in order."""
    return [Check(f"psi_b{nb}", "drift_psi",
                  {"value_col": "n_tok", "buckets": nb, "threshold": 0.25})
            for nb in buckets]


def _null_psi_probe(spark):
    """40 rows with NULL ``n_tok`` over sources p0..p3 of 4, 8, 12 and 16
    rows (halves of 12 and 28 rows), and one 10-bucket ``drift_psi`` check
    on the column: its baseline is the degenerate histogram (every row in
    bucket 0), and the smoothed score depends on how many rows that
    histogram counts."""
    rows = [(f"p{s}_{i}", [1], None, f"p{s}")
            for s in range(4) for i in range(4 * (s + 1))]
    return spark.createDataFrame(rows, SEQ_SCHEMA), _psi_pair(10)


def test_stream_validates_each_batch(spark, seq, tmp_path):
    """Batch 2 is judged against the baseline pinned from batch 1: its
    verdicts equal a one-shot run of the suite with batch 1 as every
    drift check's explicit ``baseline`` frame. Also for two PSI checks on
    one column, in either order — each keeps its own histogram (when pins
    were keyed by column, [10, 20] failed the batch with IndexError and
    [20, 10] scored psi_b10 against the 20-bucket histogram) — and for an
    all-NULL PSI column (when such a column pinned nothing, batch 2 scored
    against its own rows)."""
    probe, probe_suite = _null_psi_probe(spark)
    for name, df, suite in (("default", seq, _suite(seq)),
                            ("psi_10_20", seq, _psi_pair(10, 20)),
                            ("psi_20_10", seq, _psi_pair(20, 10)),
                            ("null_psi", probe, probe_suite)):
        parts = sorted(r["source"]
                       for r in df.select("source").distinct().collect())
        half1, half2 = parts[: len(parts) // 2], parts[len(parts) // 2:]
        b1 = df.filter(F.col("source").isin(half1))
        base = tmp_path / name
        inp = str(base / "in")
        b1.write.mode("append").parquet(inp)
        runner = StreamingSuiteRunner(spark, str(base / "store"), suite)

        q = stream_check_suite(spark, inp, df.schema, runner,
                               str(base / "ck"))
        _await_and_stop(q, 180)
        v1 = runner.verdicts().collect()
        assert {r["partition_id"] for r in v1} == set(half1), name
        batch_ids = {r["batch_id"] for r in v1}

        # second wave of files → validated as a new batch against the SAME
        # pinned baseline
        df.filter(F.col("source").isin(half2)) \
          .write.mode("append").parquet(inp)
        q = stream_check_suite(spark, inp, df.schema, runner,
                               str(base / "ck"))
        _await_and_stop(q, 180)
        v2 = runner.verdicts().collect()
        assert {r["partition_id"] for r in v2} == set(parts), name
        assert {r["batch_id"] for r in v2} - batch_ids, name  # new batch

        # equivalence: batch-2 verdicts == one-shot run of the pinned suite
        # on the same slice — the stored pins, and independently of the
        # store, batch 1 as the drift checks' explicit baseline frame
        bl = runner.store.load_baseline(suite_hash(suite), "stream")
        pinned = pin_suite(suite, bl, runner.store)
        framed = [Check(c.check_id, c.kind, {**c.params, "baseline": b1})
                  if c.kind in ("drift_psi", "drift_ks") else p
                  for c, p in zip(suite, pinned)]

        def norm(rows):
            return sorted((r["partition_id"], r["check_id"], r["passed"],
                           round(r["observed"], 6)) for r in rows)
        got2 = norm(r for r in v2 if r["partition_id"] in set(half2))
        b2 = df.filter(F.col("source").isin(half2))
        for expected in (pinned, framed):
            assert got2 == norm(run_checks(b2, expected).verdicts.collect()), \
                name


def test_warm_batch_compiles_only_its_run_id_literals(spark, seq, tmp_path):
    """A warm micro-batch reuses the classes its predecessors generated:
    the session's codegen class cache (session.py) holds the whole suite,
    so batch 2 compiles only its per-batch ``run_id`` literal projections,
    2 per result write (it compiled 107 classes with Spark's default
    100-entry cache). The batches hold disjoint doc ids over the same
    rows: a batch of another shape may take another adaptive plan (say, an
    empty join side pruned at run time), whose classes are new."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    runner = StreamingSuiteRunner(spark, str(tmp_path / "store"), _suite(seq))
    paths = [str(tmp_path / f"b{b}") for b in range(3)]
    for b, path in enumerate(paths):
        seq.withColumn("doc_id", F.concat("doc_id", F.lit(f"#{b}"))) \
           .write.parquet(path)
    for b, path in enumerate(paths):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        runner.apply_batch(spark.read.parquet(path), b)
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before <= 4


def test_stream_batch_redelivery_noop(spark, seq, tmp_path):
    inp = str(tmp_path / "in")
    seq.limit(50).write.parquet(inp)
    runner = StreamingSuiteRunner(spark, str(tmp_path / "store"), _suite(seq))
    q = stream_check_suite(spark, inp, seq.schema, runner, str(tmp_path / "ck"))
    _await_and_stop(q, 180)
    before = runner.verdicts().count()
    runner.apply_batch(seq.limit(50), 0)   # redelivered batch 0
    assert runner.verdicts().count() == before


def test_stream_crash_between_write_and_mark_no_duplicates(spark, seq,
                                                           tmp_path):
    """The failure mode the per-batch-overwrite design targets: results
    written but the ledger mark lost (crash window). The redelivered batch
    must OVERWRITE, not append — verdicts()/violations() see each batch
    exactly once."""
    import json
    runner = StreamingSuiteRunner(spark, str(tmp_path / "store"), _suite(seq))
    runner.apply_batch(seq.limit(80), 0)
    v_before = sorted(map(tuple, runner.verdicts().collect()))
    viol_before = runner.violations().count()

    # simulate the crash: forget the mark, keep the written files
    with open(runner.ledger_path, "w") as f:
        json.dump([], f)
    runner.apply_batch(seq.limit(80), 0)   # redelivery re-processes fully

    assert sorted(map(tuple, runner.verdicts().collect())) == v_before
    assert runner.violations().count() == viol_before


def _wide_batch(spark, seq, path, first_copy, copies=10):
    """``copies`` renamed copies of the fixture (506 rows → 5,060), written
    as parquet like the stream's input files; copy ``i`` suffixes every
    doc_id with ``#i``, so batches built from disjoint copies are
    disjoint."""
    seq.crossJoin(spark.range(first_copy, first_copy + copies).toDF("_c")) \
       .withColumn("doc_id", F.concat_ws("#", "doc_id",
                                         F.col("_c").cast("string"))) \
       .drop("_c").write.parquet(path)
    return spark.read.parquet(path)


def _jobs(spark):
    """``(job id, completed tasks)`` of every job so far, read from the
    status store after draining the listener bus; job ids only grow."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return [(jobs.apply(i).jobId(), jobs.apply(i).numCompletedTasks())
            for i in range(jobs.size())]


def test_batch_results_sized_by_rows(spark, seq, tmp_path):
    """A 5k-row batch writes one verdict file and one violation file, and a
    warm batch runs a few dozen tasks: result frames are sized by the rows
    they hold, not by the shuffle partitions of the rollups behind them."""
    import glob
    import os

    runner = StreamingSuiteRunner(spark, str(tmp_path / "store"), _suite(seq))
    runner.apply_batch(_wide_batch(spark, seq, str(tmp_path / "b0"), 0), 0)
    b1 = _wide_batch(spark, seq, str(tmp_path / "b1"), 10)
    assert b1.count() >= 5000

    last = max((j for j, _ in _jobs(spark)), default=-1)
    runner.apply_batch(b1, 1)
    tasks = sum(t for j, t in _jobs(spark) if j > last)
    assert 0 < tasks <= 60, tasks

    for kind in ("verdicts", "violations"):
        parts = glob.glob(os.path.join(runner._batch_dir(kind, 1),
                                       "part-*.parquet"))
        assert len(parts) == 1, (kind, parts)
    viol = runner.violations().filter(F.col("batch_id") == 1)
    assert viol.count() > 0


def test_second_runner_uses_stored_baseline(spark, seq, tmp_path):
    """The pinned suite a runner keeps is only a cache of the store: a new
    runner on the same store scores a batch exactly as the first runner
    did, against the baseline pinned from the first batch, not against the
    batch it happens to see first."""
    store = str(tmp_path / "store")
    suite = _suite(seq)
    parts = sorted(r["source"] for r in seq.select("source").distinct()
                   .collect())
    # batch 1 covers a third of the partitions, so a baseline taken from it
    # would differ from the one batch 0 pinned
    b0 = seq
    b1 = seq.filter(F.col("source").isin(parts[: len(parts) // 3]))

    first = StreamingSuiteRunner(spark, store, suite)
    first.apply_batch(b0, 0)
    first.apply_batch(b1, 1)
    second = StreamingSuiteRunner(spark, store, suite)
    second.apply_batch(b1, 2)

    def rows(runner, batch_id):
        return sorted(
            (r["partition_id"], r["check_id"], r["passed"], r["observed"],
             r["expected"], r["threshold"], r["n_violations"],
             r["rows_scanned"])
            for r in runner.verdicts().filter(F.col("batch_id") == batch_id)
                           .drop("batch_id").collect())

    got = rows(second, 2)
    assert got and got == rows(first, 1)
    # the baseline really is the pinned one: a self-baselined run of batch 1
    # scores differently
    fresh = StreamingSuiteRunner(spark, str(tmp_path / "fresh"), suite)
    fresh.apply_batch(b1, 0)
    assert rows(fresh, 0) != got
