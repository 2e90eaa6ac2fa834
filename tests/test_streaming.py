"""Structured-Streaming incremental machinery: streaming ≡ batch recompute.

The oracle pattern is the reference's own incremental-stats test
(/root/reference/tests/test_trends_stats.py:32-58): state built up
incrementally must equal a from-scratch recompute over the same rows.
"""

import os

import pytest
from pyspark.sql import functions as F

from pyanomalydetector_spark.functions.stats import (
    sufficient_stats, finalize_mean_std,
)
from pyanomalydetector_spark.operators.rollup import tumbling_rollup
from pyanomalydetector_spark.sources.tables import load_table
from pyanomalydetector_spark.streaming.incremental import (
    StreamingStatsState, stream_stats_update, streaming_tumbling_rollup,
)

SCHEMA = "itemid string, clock long, value double"


def _await_and_stop(q, timeout):
    """Wait for ``q``; stop it even when it overruns ``timeout``, so an
    unfinished query cannot hold task slots into later tests. Returns
    whether ``q`` ended by itself within ``timeout``."""
    try:
        return q.awaitTermination(timeout)
    finally:
        q.stop()


def _write_chunk(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _norm(df):
    return sorted((r[0], r["cnt"], round(r["mean"], 9), round(r["std"], 9))
                  for r in df.collect())


def test_streaming_stats_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    rows1 = [(f"k{i % 3}", c, float(i * c % 17)) for i in range(6) for c in range(10)]
    _write_chunk(spark, inp, rows1)

    state = StreamingStatsState(spark, str(tmp_path / "state"), ["itemid"])
    q = stream_stats_update(spark, inp, SCHEMA, state, str(tmp_path / "ck"))
    _await_and_stop(q, 120)

    batch = finalize_mean_std(
        sufficient_stats(spark.read.parquet(inp), ["itemid"], "value"))
    assert _norm(state.stats()) == _norm(batch)

    # second increment: new file arrives, stream drains again
    rows2 = [(f"k{i % 4}", c, float(i + c)) for i in range(4) for c in range(5)]
    _write_chunk(spark, inp, rows2)
    q2 = stream_stats_update(spark, inp, SCHEMA, state, str(tmp_path / "ck"))
    _await_and_stop(q2, 120)

    batch2 = finalize_mean_std(
        sufficient_stats(spark.read.parquet(inp), ["itemid"], "value"))
    assert _norm(state.stats()) == _norm(batch2)


def test_batch_redelivery_is_idempotent(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_chunk(spark, inp, [("a", 1, 2.0), ("a", 2, 4.0), ("b", 1, 1.0)])
    state = StreamingStatsState(spark, str(tmp_path / "state"), ["itemid"])
    q = stream_stats_update(spark, inp, SCHEMA, state, str(tmp_path / "ck"))
    _await_and_stop(q, 120)
    before = _norm(state.stats())

    # redeliver batch 0 manually — must be a no-op
    state.apply_batch(spark.read.parquet(inp), 0)
    assert _norm(state.stats()) == before


def test_streaming_rollup_equals_batch_rollup(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    rolled = streaming_tumbling_rollup(
        stream.select(F.col("user_id").alias("itemid"), "ts",
                      F.col("value").cast("double").alias("value")),
        interval_secs=86400)
    out = str(tmp_path / "out")
    q = (rolled.writeStream.outputMode("append")
               .format("parquet").option("path", out)
               .option("checkpointLocation", str(tmp_path / "ck"))
               .trigger(availableNow=True).start())
    _await_and_stop(q, 180)

    got = spark.read.parquet(out)
    expected = tumbling_rollup(
        ev.select(F.col("user_id").alias("itemid"),
                  F.unix_timestamp("ts").alias("clock"),
                  F.col("value").cast("double").alias("value")), 86400)

    def norm(df):
        return sorted(
            (r["itemid"], r["clock"], round(r["value_min"], 6),
             round(r["value_avg"], 6), round(r["value_max"], 6), r["value_cnt"])
            for r in df.collect())

    # append mode only emits windows the watermark has closed; with
    # availableNow over a finite file source every window closes except
    # those still inside the final watermark — compare on emitted windows
    # and require near-total coverage
    g, e = norm(got), norm(expected)
    assert set(g) <= set(e)
    assert len(g) >= len(e) - len({r["itemid"] for r in expected.collect()})


def test_applyinpandaswithstate_running_stats(spark, tmp_path):
    """The TRUE stateful operator (applyInPandasWithState GroupState):
    running per-key stats over two micro-batches must equal a from-scratch
    batch recompute over all rows (same scrub + Bessel semantics)."""
    from pyanomalydetector_spark.streaming.incremental import (
        stateful_running_stats,
    )
    inp = str(tmp_path / "in")
    schema = "itemid long, clock long, value double"
    rows1 = [(i % 4, c, float((i * 7 + c) % 23))
             for i in range(8) for c in range(12)]
    rows2 = [(i % 4, 100 + c, float((i * 11 + c) % 19))
             for i in range(8) for c in range(9)]
    spark.createDataFrame(rows1, schema).coalesce(1) \
         .write.mode("append").parquet(inp)

    stream = spark.readStream.schema(schema).parquet(inp)
    out = stateful_running_stats(stream)

    captured = []

    def drain():
        q = (out.writeStream
                .foreachBatch(lambda df, bid: captured.extend(df.collect()))
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(availableNow=True).start())
        _await_and_stop(q, 180)

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1) \
         .write.mode("append").parquet(inp)
    drain()

    # latest update per key (the highest running cnt) across both drains
    got = {}
    for r in captured:
        if r["itemid"] not in got or r["cnt"] > got[r["itemid"]]["cnt"]:
            got[r["itemid"]] = r

    expected = finalize_mean_std(sufficient_stats(
        spark.createDataFrame(rows1 + rows2, schema), ["itemid"], "value"))
    for e in expected.collect():
        g = got[e["itemid"]]
        assert g["cnt"] == e["cnt"]
        assert round(g["mean"], 9) == round(e["mean"], 9)
        assert round(g["std"], 9) == round(e["std"], 9)


def test_stateful_idle_timeout_evicts_and_restarts(spark, tmp_path):
    """State-size posture at high key cardinality: with ``idle_timeout_ms``
    set, a key idle past the timeout is EVICTED (ProcessingTimeTimeout) —
    when it re-appears its statistics restart from zero instead of
    resuming, proving the state store is bounded by the active working
    set, not the historical key universe."""
    import time

    from pyanomalydetector_spark.streaming.incremental import (
        stateful_running_stats,
    )
    inp = str(tmp_path / "in")
    schema = "itemid long, clock long, value double"

    captured = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(inp)
        out = stateful_running_stats(stream, idle_timeout_ms=1000)
        # timeouts keep scheduling no-data batches, so an availableNow
        # query ends only with those off (see stateful_running_stats)
        key = "spark.sql.streaming.noDataMicroBatches.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            q = (out.writeStream
                    .foreachBatch(lambda df, bid: captured.extend(df.collect()))
                    .outputMode("update")
                    .option("checkpointLocation", str(tmp_path / "ck"))
                    .trigger(availableNow=True).start())
        finally:
            spark.conf.set(key, prev)
        assert _await_and_stop(q, 180)

    # batch 1: key 1 sees 3 rows
    spark.createDataFrame([(1, c, float(c)) for c in range(3)], schema) \
         .coalesce(1).write.mode("append").parquet(inp)
    drain()
    assert [r["cnt"] for r in captured if r["itemid"] == 1] == [3]

    # let key 1 go idle past the timeout, tick the clock with another key
    # (timeouts fire during a subsequent micro-batch)
    time.sleep(2.5)
    spark.createDataFrame([(2, 0, 1.0)], schema) \
         .coalesce(1).write.mode("append").parquet(inp)
    drain()

    # key 1 re-appears with 2 rows: an evicted key restarts at cnt=2
    # (NoTimeout semantics would resume at 5)
    time.sleep(0.1)
    spark.createDataFrame([(1, 10 + c, float(c)) for c in range(2)], schema) \
         .coalesce(1).write.mode("append").parquet(inp)
    drain()
    cnts = [r["cnt"] for r in captured if r["itemid"] == 1]
    assert cnts == [3, 2], cnts


def test_state_versions_are_pruned(spark, tmp_path):
    """Each micro-batch writes a NEW state version; superseded versions must
    be dropped after the pointer swap (keeping current + one fallback), or
    the store grows by a full state copy per batch forever (the dedup
    store's compaction discipline applied to streaming state)."""
    import os
    state = StreamingStatsState(spark, str(tmp_path / "state"), ["itemid"])
    for b in range(5):
        batch = spark.createDataFrame(
            [(f"k{i}", 1, float(b + i)) for i in range(3)], SCHEMA)
        state.apply_batch(batch, b)
    dirs = sorted(os.listdir(state.state_dir))
    assert dirs == ["v3", "v4"], dirs
    # the running state is still the full 5-batch merge
    batch_all = finalize_mean_std(sufficient_stats(
        spark.createDataFrame(
            [(f"k{i}", 1, float(b + i)) for b in range(5) for i in range(3)],
            SCHEMA), ["itemid"], "value"))
    assert _norm(state.stats()) == _norm(batch_all)


def test_stats_frame_survives_version_pruning(spark, tmp_path):
    """stats() is materialized (no file dependency): a frame handed to a
    monitoring thread stays collectible after later commits prune the state
    version it was derived from — a lazy scan would FileNotFound on the
    rmtree'd dir. It snapshots the state AS OF its call, by contract."""
    state = StreamingStatsState(spark, str(tmp_path / "state"), ["itemid"])
    state.apply_batch(spark.createDataFrame(
        [("k0", 1, 2.0), ("k1", 1, 4.0)], SCHEMA), 0)
    held = state.stats()
    snap_then = _norm(held)
    # three more commits: v0 (held's source) is pruned (keep = {v3, v2})
    for b in range(1, 4):
        state.apply_batch(spark.createDataFrame(
            [(f"k{i}", 1, float(b * i)) for i in range(3)], SCHEMA), b)
    assert "v0" not in os.listdir(state.state_dir)
    assert _norm(held) == snap_then        # still collectible, as-of values
