"""File-backed changelog streams (S1): staging, reading, the one query
loop and the one emission writer.

The reference tails an ordered binlog (cdc.py:87-100).  The file-source
stand-in must preserve that ordering across micro-batches, so the
changelog is written as seq-range chunks whose modification times
increase with the range — Spark's FileStreamSource picks oldest-first,
giving in-order delivery with maxFilesPerTrigger=N.

Every stream in the package reads, runs and emits through three
functions here: ``file_stream`` (the file-source reader),
``run_available_now`` (the reference's ``blocking=False`` drain,
cdc_config.py:36, as one availableNow foreachBatch query) and
``write_emission`` (the per-batch partition overwrite that makes a
replayed batch emit once: a replayable source plus an idempotent sink,
*Structured Streaming*, SIGMOD 2018)."""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def stage_changelog_files(
    changelog: DataFrame,
    out_dir: str,
    n_chunks: int = 4,
    key_col: str = "seq",
    drop_key: bool = False,
) -> None:
    """Write the changelog as n_chunks key-ordered parquet files with
    strictly increasing mtimes.

    The mtimes are the load-bearing part: FileStreamSource replays files
    oldest-mtime-first, and a parallel ``df.write`` finishes its part
    files in ARBITRARY order — staged that way, an early-time chunk can
    be listed after a later one, land entirely below the advanced
    watermark, and be dropped wholesale as late data (observed at
    sf0.1).  Sequential per-chunk writes + explicit utime make replay
    order deterministic.

    ``key_col`` must be numeric (default: the changelog's seq); pass
    ``drop_key=True`` when it is a helper column that must not appear in
    the staged schema."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    bounds = changelog.selectExpr(
        *[
            f"percentile_approx({key_col}, {i / n_chunks}, 10000) as b{i}"
            for i in range(1, n_chunks)
        ]
    ).collect()[0]
    cuts = [None, *[bounds[f"b{i}"] for i in range(1, n_chunks)], None]
    base = time.time() - 3600
    for i in range(n_chunks):
        chunk = changelog
        if cuts[i] is not None:
            chunk = chunk.filter(f"{key_col} > {cuts[i]}")
        if cuts[i + 1] is not None:
            chunk = chunk.filter(f"{key_col} <= {cuts[i + 1]}")
        if drop_key:
            chunk = chunk.drop(key_col)
        tmp = f"{out_dir}/_stage_{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{out_dir}/chunk-{i:04d}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + i * 10, base + i * 10))


def stage_event_files(events: DataFrame, out_dir: str, n_chunks: int = 2) -> None:
    """Stage an events-shaped DataFrame as ts-ordered chunks with
    increasing mtimes (see stage_changelog_files for why) — the
    deterministic replacement for ``orderBy(ts).coalesce(n).write``
    in the streaming fixtures."""
    from pyspark.sql import functions as F

    keyed = events.withColumn("_stage_key", F.unix_micros("ts"))
    stage_changelog_files(
        keyed, out_dir, n_chunks=n_chunks, key_col="_stage_key", drop_key=True
    )


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The parquet file source over ``source_dir``; with
    ``max_files_per_trigger`` each micro-batch takes that many staged
    chunks, oldest mtime first."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def run_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> None:
    """Drain everything ``stream`` has now through ``batch_fn(batch_df,
    batch_id)``, then stop.  Offsets live in ``checkpoint_dir``: a run
    that failed mid-batch resumes by replaying that batch under the
    same ``batch_id``, so ``batch_fn`` must make its writes idempotent
    per batch id (``write_emission``)."""
    (
        stream.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_emission(df: DataFrame, emit_dir: str, batch_id: int) -> None:
    """Overwrite micro-batch ``batch_id``'s emission partition; reading
    ``emit_dir`` back yields its ``batch_id`` column through partition
    discovery.  A retried batch replaces its rows instead of appending
    them twice, and no per-batch literal enters the plan (a literal
    column would give every micro-batch its own generated class)."""
    df.write.mode("overwrite").parquet(os.path.join(emit_dir, f"batch_id={batch_id}"))
