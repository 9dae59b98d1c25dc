"""End-to-end CDC pipeline — the Spark composition of the reference's
three entry points (SURVEY.md §3):

  cdc.py   (stream → filter → annotate → keyed save)  →  ingest()
  dump2csv (cache → group → dated CSV → warehouse)     →  dump()
  loadcsv  (CSV → re-save through the same merge)      →  replay()

One process, one SparkSession; offsets live in the stream checkpoint
(K5), the keyed state (K4) in one copy: the stream's LSM state dir
(transition runs + bucketed base slots + manifest log, see
streaming/compact_jvm.py), which ``state()`` reads at its committed
view; dumps go to date-partitioned chunked CSV (K1).  Usage:

    from mysql_cdc_redis_spark.pipeline import CdcPipeline
    p = CdcPipeline(spark, work_dir, pk_cols, payload_cols, schema)
    p.ingest(changelog_dir)     # consume available binlog files
    p.dump(csv_out)             # dated CSV dump of current state
    p.replay(csv_out)           # the state after re-merging the dump
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.compaction import merge_state
from .operators.dump import dump_to_csv, read_dump
from .streaming.compact_jvm import read_state_jvm, run_compaction_stream_jvm


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        pk_cols: tuple[str, ...],
        payload_cols: tuple[str, ...],
        changelog_schema: StructType,
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.pk_cols = pk_cols
        self.payload_cols = payload_cols
        self.schema = changelog_schema
        self.checkpoint_dir = os.path.join(work_dir, "checkpoint")  # K5 offsets
        self.stream_state_dir = os.path.join(work_dir, "stream_state")  # K4

    # -- cdc.py analog ----------------------------------------------------
    def ingest(self, changelog_dir: str) -> DataFrame:
        """Consume all currently-available changelog files (blocking=False
        mode) into the keyed state; returns the new state."""
        return run_compaction_stream_jvm(
            self.spark,
            changelog_dir,
            self.schema,
            self.pk_cols,
            self.payload_cols,
            checkpoint_dir=self.checkpoint_dir,
            state_dir=self.stream_state_dir,
        )

    def state(self) -> DataFrame:
        """The committed keyed state; a ValueError when nothing is
        committed in ``work_dir``."""
        state = read_state_jvm(self.spark, self.stream_state_dir, self.payload_cols)
        if state is None:
            raise ValueError(f"{self.work_dir}: no committed CDC state; ingest first")
        return state

    # -- dump2csv analog --------------------------------------------------
    def dump(self, csv_dir: str, max_rows_per_file: int = 1_000_000) -> None:
        """K1: dated, header'd, chunked CSV dump of the live state (the
        upload/BQ-load stages collapse into the sink path — dump.py)."""
        dump_to_csv(
            self.state(),
            csv_dir,
            date_col="cdc_ts",
            max_rows_per_file=max_rows_per_file,
        )

    # -- loadcsv analog ---------------------------------------------------
    def replay(self, csv_dir: str) -> DataFrame:
        """M4: read a dump back and re-merge it into the current state via
        the same algebra; returns the post-replay state (must equal the
        pre-replay state — M5).  Writes nothing."""
        state = self.state()
        dumped = read_dump(self.spark, csv_dir, schema=state.schema).drop("dt")
        replayed_events = dumped.withColumn("seq", F.lit(0).cast("long"))
        return merge_state(state, replayed_events, self.pk_cols, self.payload_cols)
