"""Durable streaming sinks: checkpointed parquet append and an
idempotent foreachBatch upsert with merge-on-read.

Net-new relative to the reference (eland has no streaming; its closest
sink analog is the chunked ``to_csv`` append loop,
eland/operations.py:1218-1246). Design for scale:

- ``stream_to_parquet``: the stock file sink — exactly-once via the
  sink's commit log + source checkpoint; safe for stateless pipelines
  (filter/project/enrich). Watermarked aggregations in append mode hold
  back the tail until the watermark passes — for aggregations prefer
  the upsert sink below.
- ``foreach_batch_parquet_upsert``: update-mode aggregation stream
  where each micro-batch OVERWRITES its own ``batch=<id>`` partition
  directory — a retried batch rewrites the same files, so the sink is
  idempotent without a transaction log (the same pattern ACID table
  formats implement with a log; plain parquet + deterministic batch
  dirs gives it for free).
- ``read_upserted``: merge-on-read resolution — latest batch wins per
  key via one ``max_by(struct(values), batch)`` aggregation (no window
  function, no single-partition cliff; the groupBy shuffles on the
  upsert keys exactly like any keyed agg at 100 TB).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "stream_to_parquet",
    "foreach_batch_sink",
    "foreach_batch_parquet_upsert",
    "read_upserted",
    "compact_upserted",
]


def stream_to_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    await_termination: bool = True,
):
    """Append a (stateless or watermark-finalized) stream to a parquet
    directory with exactly-once semantics (file-sink commit log +
    checkpoint). ``availableNow`` drains all pending input then stops —
    the batch-like replay mode tests and backfills use; drop the
    trigger for a continuously running query."""
    q = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination(timeout_sec)
    return q


def foreach_batch_sink(
    result: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
    timeout_sec: int = 120,
):
    """Generic foreachBatch runner (availableNow): ``fn(batch_df,
    batch_id)`` must be idempotent in ``batch_id`` — Spark re-runs a
    batch after failure with the SAME id, which is the sink's retry
    contract."""
    q = (
        result.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def _batch_dirs(path: str) -> list[str]:
    """The concrete ``batch=<id>`` dirs of a merge-on-read store. They
    are expanded here because a ``batch=*`` glob handed to the reader
    makes it probe a literal glob path for file-sink metadata (noisy
    WARN)."""
    return sorted(glob.glob(os.path.join(path, "batch=*")))


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite ``<path>/batch=<batch_id>/`` with ``df`` — the one
    writer of the store format; overwriting makes a retried batch id
    idempotent."""
    df.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")


def _write_batches(
    result: DataFrame,
    path: str,
    checkpoint: str,
    build: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    timeout_sec: int = 120,
):
    """Run ``result`` as a foreachBatch stream that writes
    ``build(batch_df)`` to its own ``<path>/batch=<id>/`` dir — the
    merge-on-read store every streaming sketch/count/upsert path uses;
    read it back with :func:`_read_batches`."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(build(batch_df), path, batch_id)

    return foreach_batch_sink(
        result, _write, checkpoint, output_mode=output_mode,
        timeout_sec=timeout_sec,
    )


def _read_batches(spark: SparkSession, path: str) -> DataFrame:
    """Every batch of a :func:`_write_batches` store as one frame, with
    the ``batch`` id as a partition column from the directory layout
    (so a filter on it prunes old batches)."""
    dirs = _batch_dirs(path)
    if not dirs:
        raise FileNotFoundError(f"no batch=* directories under {path}")
    return spark.read.option("basePath", path).parquet(*dirs)


def foreach_batch_parquet_upsert(
    result: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: int = 120,
):
    """Upsert sink for update-mode aggregation streams: each
    micro-batch overwrites ``<path>/batch=<batch_id>/``. Retries are
    idempotent (same id -> same directory); later batches refine
    earlier window/key rows and win at read time via
    :func:`read_upserted`."""
    return _write_batches(
        result, path, checkpoint, lambda df: df, output_mode="update",
        timeout_sec=timeout_sec,
    )


def read_upserted(
    spark: SparkSession, path: str, keys: Sequence[str]
) -> DataFrame:
    """Merge-on-read over an upsert sink directory: one keyed
    aggregation keeps the row from the highest batch per key. The
    ``batch`` partition column comes from the directory layout, so
    partition pruning can skip old batches when a caller filters on
    it (compaction = rewrite the resolved frame and drop old dirs)."""
    df = _read_batches(spark, path)
    keys = list(keys)
    value_cols = [c for c in df.columns if c not in keys and c != "batch"]
    resolved = df.groupBy(*keys).agg(
        F.max_by(F.struct(*value_cols), F.col("batch")).alias("_v")
    )
    return resolved.select(*keys, *[F.col(f"_v.{c}").alias(c) for c in value_cols])


def compact_upserted(spark: SparkSession, path: str, keys: Sequence[str]) -> int:
    """Compact a merge-on-read upsert directory: write the resolved
    frame as one new ``batch=<max+1>`` dir, then drop the older dirs.
    Crash-safe in either order — the resolved batch has the highest id,
    so ``read_upserted`` returns identical rows whether the old dirs
    are gone yet or not. Returns the new batch id. (On a real cluster
    the delete is a fs/objectstore call; same two-step shape.)"""
    dirs = _batch_dirs(path)
    if len(dirs) <= 1:
        return -1
    new_id = max(int(re.search(r"batch=(\d+)$", d).group(1)) for d in dirs) + 1
    _write_batch(read_upserted(spark, path, keys), path, new_id)
    for d in dirs:
        shutil.rmtree(d)
    return new_id
