"""Structured-Streaming realization of the reference's incremental machinery.

The reference is batch-incremental: watermark tables record the last
processed interval (T1, /root/reference/models/updates.py:10-28), each run
adds new partial aggregates and retracts expired ones from running state
(T2/T3, data_processing/stats.py:88-124), and a tumbling rollup compacts
history into trends (T5, logan_getter.py:256-266). Structured Streaming
gives each piece a first-class equivalent:

- file-source ``readStream`` + ``foreachBatch`` replaces the poll loop; the
  sink's ``batch_id`` ledger replaces the watermark table (idempotent
  re-processing after crash — same contract as T1's upsert);
- per-batch partial sufficient stats merged into persistent state via
  :func:`~pyanomalydetector_spark.functions.stats.merge_stats` is exactly
  the T2 "add new partials" step, distributed;
- ``withWatermark`` + ``window()`` aggregation is the T5/T6 rollup with
  late-data semantics the reference hand-rolled via grid alignment.

Everything here is testable with ``trigger(availableNow=True)`` over parquet
directories — no long-running daemon needed — and the oracle pattern is the
reference's own (tests/test_trends_stats.py:32-58): streaming/incremental
result ≡ from-scratch batch recompute over the same rows.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyanomalydetector_spark.functions.stats import (
    sufficient_stats, merge_stats, finalize_mean_std,
)


class StreamingStatsState:
    """Persistent per-key sufficient-stats state updated by micro-batch.

    State lives in ``<path>/state`` (parquet, atomically swapped per batch);
    ``<path>/ledger.json`` records applied batch ids so retried batches are
    no-ops (foreachBatch may redeliver after failure — the reference's
    watermark-upsert idempotency, models/updates.py:17-28).
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 value_col: str = "value"):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.value_col = value_col
        self.state_dir = os.path.join(path, "state")
        self.ledger_path = os.path.join(path, "ledger.json")
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------ ledger ---
    def _ledger(self) -> dict:
        if not os.path.exists(self.ledger_path):
            return {"applied": [], "current": None}
        with open(self.ledger_path) as f:
            return json.load(f)

    def _commit(self, batch_id: int, version: str) -> None:
        led = self._ledger()
        prev = led["current"]
        led["applied"] = sorted(set(led["applied"]) | {int(batch_id)})
        led["current"] = version
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(led, f)
        os.replace(tmp, self.ledger_path)   # atomic pointer swap
        # Retention (T7 applied to the state store itself): every batch
        # writes a NEW version dir, so without pruning the store grows by
        # one full state copy per micro-batch forever. Superseded versions
        # are dropped AFTER the pointer swap — the new current is already
        # durable, so a crash mid-prune only leaves extra dirs (re-pruned
        # on the next commit). The immediately-previous version is kept as
        # a manual-recovery fallback, matching the dedup store's compact
        # discipline (operators/dedup.py compact_minhash_store).
        keep = {version} | ({prev} if prev else set())
        if os.path.isdir(self.state_dir):
            for d in os.listdir(self.state_dir):
                if d not in keep:
                    shutil.rmtree(os.path.join(self.state_dir, d),
                                  ignore_errors=True)

    # ------------------------------------------------------------- state ---
    def read_state(self) -> DataFrame:
        """Lazy scan of the CURRENT state version.

        Lifetime contract: _commit prunes superseded version dirs (keeping
        current + previous), so a frame returned here stays resolvable for
        at most TWO further commits — consume it before then, or use
        :meth:`stats`, which is commit-independent."""
        cur = self._ledger()["current"]
        if cur is None:
            schema = ", ".join(f"`{k}` string" for k in self.keys)
            return self.spark.createDataFrame(
                [], f"{schema}, sum double, sqr_sum double, cnt long")
        return self.spark.read.parquet(os.path.join(self.state_dir, cur))

    def stats(self) -> DataFrame:
        """Finalized (mean/std) view of the running state, MATERIALIZED:
        one row per key group (bounded by the partition-key cardinality, by
        design), collected and re-created so the returned frame has no file
        dependency — a monitoring thread can hold it across any number of
        micro-batch commits without tripping over the version pruning that
        would invalidate a lazy scan of a since-deleted state dir (and no
        localCheckpoint, whose pinned RDDs outlive catalog.clearCache)."""
        out = finalize_mean_std(self.read_state())
        return self.spark.createDataFrame(out.collect(), out.schema)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: merge the batch's partial aggregates (T2).

        Writes the merged state to a new version dir, then atomically moves
        the ledger pointer — a crash mid-write leaves the old state live and
        the batch unapplied (it will be redelivered and retried).
        """
        if int(batch_id) in self._ledger()["applied"]:
            return  # redelivered batch — idempotent skip
        partial = sufficient_stats(batch_df, self.keys, self.value_col)
        merged = merge_stats(self.read_state(), partial, self.keys)
        version = f"v{int(batch_id)}"
        merged.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, version))
        self._commit(batch_id, version)


def stream_stats_update(spark: SparkSession, input_dir: str,
                        schema: StructType | str, state: StreamingStatsState,
                        checkpoint_dir: str):
    """Wire a file-source stream into the stats state; returns the started
    query (caller awaits termination; ``availableNow`` drains then stops)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.writeStream
              .foreachBatch(lambda df, bid: state.apply_batch(df, bid))
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True)
              .start()
    )


def streaming_tumbling_rollup(stream: DataFrame, interval_secs: int,
                              ts_col: str = "ts", id_col: str = "itemid",
                              value_col: str = "value",
                              watermark: str = "1 hour") -> DataFrame:
    """T5/T6 as a native streaming windowed aggregate: tumbling envelopes
    with watermark-bounded state (late rows inside the watermark still
    merge; beyond it state is evicted — the reference's retention rule T7).
    """
    # watermarks require TIMESTAMP (not NTZ); session TZ is UTC so the cast
    # is a type change, not a shift
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
              .groupBy(F.col(id_col).alias("itemid"),
                       F.window(ts_col, f"{interval_secs} seconds").alias("w"))
              .agg(F.min(value_col).alias("value_min"),
                   F.avg(value_col).alias("value_avg"),
                   F.max(value_col).alias("value_max"),
                   F.count(value_col).alias("value_cnt"))
              .select("itemid",
                      F.unix_timestamp("w.start").alias("clock"),
                      "value_min", "value_avg", "value_max", "value_cnt")
    )


def stateful_running_stats(stream: DataFrame, id_col: str = "itemid",
                           value_col: str = "value",
                           idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-key running mean/std as a TRUE arbitrary-stateful streaming
    operator: ``applyInPandasWithState`` keeps the mergeable sufficient
    statistics ``(cnt, Σx, Σx²)`` as engine-managed GroupState — the
    custom-stateful realization of the reference's running history stats
    (T2, data_processing/stats.py:88-124), instead of the foreachBatch+
    parquet emulation above. Emitted rows carry the finalized Bessel
    mean/std (the same scrub + Bessel semantics as functions/stats.py, so
    streaming ≡ batch recompute — tests/test_streaming.py pins it).
    Output mode: Update (one refreshed row per key per micro-batch).

    **State-size posture at high key cardinality**: per-key state is three
    scalars (one 24-byte row) regardless of how many rows a key has seen —
    total state is O(#distinct keys), never O(rows). For unbounded key
    universes (e.g. per-doc-shard sources that complete and never return),
    pass ``idle_timeout_ms`` (e.g. 30 min = 1_800_000): keys idle longer than
    that are EVICTED via ProcessingTimeTimeout — the state store stays
    bounded by the working set of active keys, the reference's retention
    rule (T7) applied to streaming state. A re-appearing evicted key
    restarts its statistics from zero (tests/test_streaming.py pins the
    eviction).

    **Draining with a timeout**: a processing-time timeout keeps scheduling
    batches with no data, so a ``trigger(availableNow=True)`` query over
    this operator never ends once its input is drained. Set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` around that
    query's ``start()`` (the started query keeps the value) and restore it
    afterwards; timeouts then fire only in batches that carry data.
    Without ``idle_timeout_ms`` the query ends by itself either way."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, cnt long, mean double, std double"
    state_schema = "cnt long, s double, q double"
    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_timeout_ms else GroupStateTimeout.NoTimeout)

    def update(key, pdfs, state):
        if idle_timeout_ms and state.hasTimedOut:
            state.remove()                 # evict idle key: O(keys) bound
            return
        cnt, s, q = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            v = pdf[value_col].astype(float).to_numpy()
            v = v[np.isfinite(v)]                      # null/inf scrub
            cnt += int(v.size)
            s += float(v.sum())
            q += float((v * v).sum())
        state.update((cnt, s, q))
        if idle_timeout_ms:
            state.setTimeoutDuration(int(idle_timeout_ms))
        if cnt == 0:
            return
        mean = s / cnt
        var = (q - s * s / cnt) / (cnt - 1) if cnt > 1 else 0.0
        yield pd.DataFrame({id_col: [key[0]], "cnt": [cnt], "mean": [mean],
                            "std": [math.sqrt(max(var, 0.0))]})

    return stream.groupBy(id_col).applyInPandasWithState(
        update, out_schema, state_schema, "Update", timeout_conf)

