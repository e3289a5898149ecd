"""Count-based micro-batching (reference O9 — consumer.py:10-12,37-94).

The reference buffers rows in Python RAM and flushes a CSV every
BATCH_SIZE=10,000 rows, capping at NUM_BATCHES_TO_WRITE=3 files and
flushing the remainder at stream end. Structured Streaming has no
count-based trigger, so this is the one genuinely custom stateful streaming
operator: a `foreachBatch` handler that

1. unions the new micro-batch with the carried-over remainder,
2. assigns a global row index WITHOUT a single-partition shuffle
   (per-partition counts → cumulative offsets → map-side add; the only
   driver-side data is the tiny per-partition count list),
3. writes every complete group of `batch_size` rows as `batch_id=i`
   partitions in one partitioned write,
4. carries the remainder forward, and
5. stops contributing once `max_batches` complete files exist
   (consumer.py:80-82 break semantics); `flush()` lands the final partial
   file (consumer.py:85-94).

State is re-derived from the filesystem (existing batch ids + pending dir),
so the operator is restart-safe under checkpointing without any side
state store.

Scale: rows only ever flow executor-side; the repartition before write
shuffles exactly the complete groups being written. Buffering happens in
the pending parquet dir, not in driver memory (unlike consumer.py:37,54).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F


class CountBatcher:
    def __init__(
        self,
        out_dir: str,
        batch_size: int = 10_000,
        max_batches: int = 3,
        fmt: str = "parquet",
    ) -> None:
        self.out_dir = out_dir
        self.pending_dir = os.path.join(out_dir, "_pending")
        self.data_dir = os.path.join(out_dir, "batches")
        self.batch_size = batch_size
        self.max_batches = max_batches
        self.fmt = fmt

    # -- filesystem-derived state ------------------------------------------
    def batches_written(self) -> int:
        if not os.path.isdir(self.data_dir):
            return 0
        return len(
            [d for d in os.listdir(self.data_dir) if d.startswith("batch_id=")]
        )

    @property
    def _marker_path(self) -> str:
        return os.path.join(self.out_dir, "_last_stream_batch")

    def _last_stream_batch(self) -> int:
        try:
            with open(self._marker_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _record_stream_batch(self, batch_id: int) -> None:
        tmp = self._marker_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self._marker_path)

    def _read_pending(self, spark, schema) -> DataFrame | None:
        if os.path.isdir(self.pending_dir) and any(
            f.endswith(".parquet") for f in os.listdir(self.pending_dir)
        ):
            return spark.read.schema(schema).parquet(self.pending_dir)
        return None

    # -- core --------------------------------------------------------------
    def _global_index(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Global 0-based row index, distributed: monotonically_increasing_id
        is consecutive within a partition, so per-partition (count, min id)
        — one tiny row per partition — turn it into a dense global index.
        Returns the indexed frame and its row count (the sum of the
        per-partition counts, so no separate count job is needed).

        The input is materialized with ``localCheckpoint`` BEFORE the stats
        job so the stats and the downstream writes read the SAME evaluation:
        on a recomputed lineage, partition assignment (and therefore _mid)
        could differ between jobs and silently mis-bucket rows. Offsets are
        derived from the observed per-partition min _mid, not from the id's
        internal (pid << 33) bit layout."""
        tagged = (
            df.withColumn("_mid", F.monotonically_increasing_id())
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint()
        )
        stats = sorted(
            (r["_pid"], r["cnt"], r["min_mid"])
            for r in tagged.groupBy("_pid")
            .agg(F.count("*").alias("cnt"), F.min("_mid").alias("min_mid"))
            .collect()
        )
        if not stats:
            return tagged.withColumn("_idx", F.lit(0)).limit(0), 0
        base_entries, acc = [], 0
        for pid, cnt, min_mid in stats:
            # _idx = (global offset of this partition) + (_mid - min _mid)
            base_entries += [pid, acc - min_mid]
            acc += cnt
        base_map = F.create_map(*[F.lit(x) for x in base_entries])
        indexed = tagged.withColumn("_idx", base_map[F.col("_pid")] + F.col("_mid"))
        return indexed, acc

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch callback.

        Idempotent under micro-batch REDELIVERY: foreachBatch is
        at-least-once, so a failed/restarted trigger replays the same
        batch_id — without the marker check, the replay would re-union the
        pending remainder and append duplicate rows into the batch
        partitions. The marker is committed only after the pending swap,
        so a crash mid-batch replays the whole batch against the OLD
        pending state (the swap is the effective commit point; the append
        of complete groups before it is the one non-atomic window, the
        same trade Spark's own file sinks make without a transaction
        log)."""
        if batch_id <= self._last_stream_batch():
            return  # duplicate delivery of an already-processed batch
        written = self.batches_written()
        if written >= self.max_batches:
            return  # consumer.py:80-82 — stop landing once the cap is hit
        pending = self._read_pending(df.sparkSession, df.schema)
        data = pending.unionByName(df) if pending is not None else df
        # _global_index pins its input with an eager localCheckpoint, so the
        # writes below read that one materialization without another cache.
        indexed, total = self._global_index(data)
        n_complete = min(total // self.batch_size, self.max_batches - written)
        if n_complete > 0:
            complete = indexed.filter(
                F.col("_idx") < n_complete * self.batch_size
            ).withColumn(
                "batch_id",
                (F.col("_idx") / self.batch_size).cast("int") + F.lit(written),
            )
            (
                complete.drop("_mid", "_pid", "_idx")
                .repartition("batch_id")
                .write.mode("append")
                .partitionBy("batch_id")
                .format(self.fmt)
                .option("header", True)
                .save(self.data_dir)
            )
        remainder = indexed.filter(
            F.col("_idx") >= n_complete * self.batch_size
        ).drop("_mid", "_pid", "_idx")
        # write remainder to a staging dir then swap (can't overwrite a
        # dir we are reading from)
        tmp = self.pending_dir + ".tmp"
        remainder.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(self.pending_dir):
            shutil.rmtree(self.pending_dir)
        os.rename(tmp, self.pending_dir)
        self._record_stream_batch(batch_id)

    def flush(self, spark, schema) -> None:
        """Stream-end partial flush (consumer.py:85-94): land the pending
        remainder as the final (short) batch if the cap isn't reached."""
        written = self.batches_written()
        if written >= self.max_batches:
            return
        pending = self._read_pending(spark, schema)
        if pending is None or pending.isEmpty():
            return
        (
            pending.withColumn("batch_id", F.lit(written))
            .repartition(1)
            .write.mode("append")
            .partitionBy("batch_id")
            .format(self.fmt)
            .option("header", True)
            .save(self.data_dir)
        )
        shutil.rmtree(self.pending_dir, ignore_errors=True)

    def result(self, spark) -> DataFrame:
        return spark.read.format(self.fmt).option("header", True).load(self.data_dir)


def run_count_batched_stream(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    batch_size: int = 10_000,
    max_batches: int = 3,
    fmt: str = "parquet",
) -> CountBatcher:
    """Wire a streaming DataFrame through the count batcher with an
    availableNow trigger (bounded replay — the idle-timeout stand-in,
    consumer.py:25) and flush the remainder at stream end."""
    batcher = CountBatcher(out_dir, batch_size, max_batches, fmt)
    q = (
        stream_df.writeStream.foreachBatch(batcher.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batcher.flush(stream_df.sparkSession, stream_df.schema)
    return batcher
