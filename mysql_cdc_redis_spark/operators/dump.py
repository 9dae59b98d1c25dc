"""Dump sinks — the reference's CSV/warehouse output stages re-expressed
as Spark writers (SURVEY.md §2.7).

Reference behavior being reproduced:
* K1 (save2csv, dump2csv.py:62-103): date-partitioned directory layout
  `dump_dir/YYYYMMDD/db.table.<ts>.csv`, header row, ≤ max_rows per file.
  Spark spelling: `partitionBy(dt)` + `option(header)` +
  `option(maxRecordsPerFile)` — the chunking of rcache.py:156-158 (W3)
  becomes a file-size option instead of an iterator protocol.
* K2/K3 (gsutil upload + bq load, dump2csv.py:119-267): with a cluster
  filesystem connector the upload stage disappears — `save(gs://...)`
  writes directly; the upload.info/bqload.info manifests
  (dump2csv.py:199-230) are subsumed by Spark's file commit protocol
  (_SUCCESS markers, task attempts, idempotent re-runs).
* K6 (FLUSHDB / per-table clear, rcache.py:76-81,108-109): overwrite
  mode on the state path; table-scoped clears are partition overwrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def dump_to_csv(
    df: DataFrame,
    out_dir: str,
    date_col: str,
    fmt: str = "yyyyMMdd",
    max_rows_per_file: int = 1_000_000,
) -> None:
    """K1: date-partitioned, header'd, chunked CSV dump, overwriting
    ``out_dir``.

    max_rows_per_file defaults to the reference's --max_rows=1,000,000
    (dump2csv.py:23, dump.conf:4).  Timestamps are ISO-formatted so the
    read side round-trips exactly.  A stream dumps each micro-batch into
    its own ``batch_id=N`` dir (the reference's per-poll dump accretion,
    dump2csv.py:62-103), so a replayed batch replaces its files."""
    (
        df.withColumn("dt", F.date_format(F.col(date_col), fmt))
        .write.mode("overwrite")
        .partitionBy("dt")
        .option("header", True)
        .option("maxRecordsPerFile", max_rows_per_file)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(out_dir)
    )


def read_dump(spark: SparkSession, out_dir: str, schema: StructType) -> DataFrame:
    """S4: scan a K1 dump back (readcsv, loadcsv.py:91-94) with an
    explicit schema (no inference pass) plus the dt partition column
    (and ``batch_id`` before it for a stream's per-batch dump).
    ``schema`` is not mutated: it may be a DataFrame's cached schema."""
    return (
        spark.read.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .schema(StructType(schema.fields).add("dt", "string"))
        .csv(out_dir)
    )


QUARANTINE_SUBDIR = ".drifted"


def dump_to_csv_with_quarantine(
    df: DataFrame,
    out_dir: str,
    date_col: str,
    fingerprint_col: str = "fingerprint",
    table_col: str = "tbl",
    fmt: str = "yyyyMMdd",
    max_rows_per_file: int = 1_000_000,
) -> None:
    """K1 + drift routing (dump2csv.py:77-81): a table observed with more
    than one schema fingerprint is "maybe altered" and ALL of its groups
    are written with the quarantine suffix (`.tmp` in the reference,
    dump2csv.py:80-81) instead of the clean `.csv` path.  Spark spelling:
    drifted tables land under ``<out_dir>/.drifted/`` with the same
    date-partitioned layout, clean tables under ``<out_dir>/``.

    Scale shape: the drift decision needs only the per-table distinct-
    fingerprint count — a tiny aggregate (|tables| rows) broadcast back
    onto the stream, so the only full-data cost is the two filtered
    writes; no wide shuffle of the payload."""
    drift_dim = (
        df.groupBy(table_col)
        .agg((F.countDistinct(fingerprint_col) > 1).alias("_drifted"))
    )
    flagged = df.join(F.broadcast(drift_dim), on=table_col, how="left").withColumn(
        "dt", F.date_format(F.col(date_col), fmt)
    )
    writer_opts = {
        "header": True,
        "maxRecordsPerFile": max_rows_per_file,
        "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    }
    clean = flagged.filter(~F.col("_drifted")).drop("_drifted")
    quarantined = flagged.filter(F.col("_drifted")).drop("_drifted")
    w = clean.write.mode("overwrite").partitionBy("dt")
    for k, v in writer_opts.items():
        w = w.option(k, v)
    w.csv(out_dir)
    wq = quarantined.write.mode("overwrite").partitionBy("dt")
    for k, v in writer_opts.items():
        wq = wq.option(k, v)
    wq.csv(f"{out_dir}/{QUARANTINE_SUBDIR}")


def dump_state_parquet(df: DataFrame, path: str, table_col: str = "tbl") -> None:
    """K4/K6: durable compacted-state sink, partitioned by table so a
    per-table clear (rcache.py:76-81) is a partition overwrite and table
    scans prune to one directory."""
    df.write.mode("overwrite").partitionBy(table_col).parquet(path)
