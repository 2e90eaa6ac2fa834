"""Continuous validation: the check suite as a Structured Streaming sink.

The reference's hourly cron (`scripts/run_hourly_detection.sh` →
detect_anomalies.py) becomes a file-source stream: every arriving batch of
sequence files is validated by the (fused) check suite and its verdicts /
violations are appended to the store with batch lineage. Semantics:

- **Pinned baseline**: captured from the FIRST batch and reused for every
  subsequent one (the reference pins its trends stats the same way — recent
  data is judged against the established baseline, detector.py:185-230).
- **Idempotent batches**: foreachBatch may redeliver after a failure; a
  ledger of applied batch ids makes re-processing a no-op (the reference's
  watermark-upsert discipline, models/updates.py:17-28). Results land in
  per-batch directories written with overwrite and readers surface only
  ledger-committed batches, so a crash between write and mark cannot
  duplicate rows — the retry overwrites the orphaned partial output.
- **Per-batch lineage**: each verdict row carries ``batch_id``; the driver
  can ask "which batch introduced these violations".
- **One file per result set**: a small batch's verdicts come back from
  ``run_checks`` as one partition (they are sized to the input) and its
  violations are rebalanced before the write, so a small batch lands one
  verdict file and one violation file (AQE splits the violations only when
  they are large).

Testable with ``trigger(availableNow=True)`` — drain current files, stop.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyanomalydetector_spark.checks.core import run_checks
from pyanomalydetector_spark.plans.checkpoint import (  # noqa: F401
    # compute_baseline stays importable here: perfbench's tracer wraps the
    # name in this module
    CheckpointStore, compute_baseline, suite_hash,
)


class StreamingSuiteRunner:
    """foreachBatch target running the suite over each micro-batch."""

    def __init__(self, spark: SparkSession, store_path: str, suite: list,
                 partition_col: str = "source"):
        self.spark = spark
        self.store = CheckpointStore(spark, store_path)
        self.suite = list(suite)
        self.shash = suite_hash(self.suite)
        self.pcol = partition_col
        self.store_path = store_path
        self.ledger_path = os.path.join(store_path, "stream_ledger.json")

    def _batch_dir(self, kind: str, batch_id: int) -> str:
        """Per-batch result directory — overwrite-on-retry is idempotent."""
        return os.path.join(self.store_path, f"stream_{kind}",
                            f"batch_{int(batch_id)}")

    # ------------------------------------------------------------ ledger ---
    def _applied(self) -> set[int]:
        if not os.path.exists(self.ledger_path):
            return set()
        with open(self.ledger_path) as f:
            return set(json.load(f))

    def _mark(self, batch_id: int) -> None:
        applied = sorted(self._applied() | {int(batch_id)})
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(applied, f)
        os.replace(tmp, self.ledger_path)

    # ------------------------------------------------------------- batch ---
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in self._applied():
            return
        if batch_df.isEmpty():
            self._mark(batch_id)
            return

        # the first non-empty batch establishes the baseline
        pinned = self.store.pinned_suite(batch_df, self.suite, self.shash,
                                         "stream")
        res = run_checks(batch_df, pinned, self.pcol)
        meta = [F.lit(self.shash).alias("suite_hash"),
                F.lit("stream").alias("snapshot_id"),
                F.lit(int(batch_id)).alias("run_id")]
        # Idempotent redelivery: each batch OVERWRITES its own directory, and
        # readers only surface batches recorded in the ledger — a crash
        # between the write and _mark() leaves an invisible partial batch
        # that the retry simply overwrites (no duplicate rows possible).
        # verdicts arrive sized to the batch; AQE sizes the violation files
        res.verdicts.select("*", *meta) \
           .write.mode("overwrite").parquet(self._batch_dir("verdicts", batch_id))
        res.violations.hint("rebalance").select("*", *meta) \
           .write.mode("overwrite").parquet(self._batch_dir("violations", batch_id))
        res.unpersist()    # micro-batch caches must not outlive the batch
        self._mark(batch_id)

    # ------------------------------------------------------------ results ---
    def _read(self, kind: str) -> DataFrame:
        """Union of COMMITTED batches only: a batch written but not yet in
        the ledger (crash window) is invisible until its retry overwrites
        and marks it — the reader side of the idempotency contract."""
        dirs = [self._batch_dir(kind, b) for b in sorted(self._applied())]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            raise FileNotFoundError(f"no committed stream {kind} batches yet")
        return self.spark.read.parquet(*dirs) \
                   .filter((F.col("suite_hash") == self.shash)
                           & (F.col("snapshot_id") == "stream")) \
                   .withColumnRenamed("run_id", "batch_id") \
                   .drop("suite_hash", "snapshot_id")

    def verdicts(self) -> DataFrame:
        """All per-batch verdicts so far (batch lineage in ``batch_id``)."""
        return self._read("verdicts")

    def violations(self) -> DataFrame:
        return self._read("violations")


def stream_check_suite(spark: SparkSession, input_dir: str,
                       schema: StructType | str, runner: StreamingSuiteRunner,
                       checkpoint_dir: str):
    """Wire a parquet file-source stream into the suite runner; returns the
    started query (availableNow drains then stops)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.writeStream
              .foreachBatch(lambda df, bid: runner.apply_batch(df, bid))
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True)
              .start()
    )
