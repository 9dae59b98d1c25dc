"""Parquet scans over the driver fixture tables (S10) plus the CSV scan
the reference performs in loadcsv.py:91-94 (S4).

Scans stay fully declarative (``spark.read``) so Catalyst keeps predicate
pushdown, column pruning and partition pruning — the reference's
hand-rolled pushdown (only_schemas/only_tables, cdc.py:91-93) falls out
for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table.  Plain parquet scan: pushdown-friendly.

    events.ts arrives in whatever physical type the fixture generation
    chose — timestamp[ns] (read as long nanos via
    spark.sql.legacy.parquet.nanosAsLong) or timestamp[us] with
    isAdjustedToUTC=false (read as TIMESTAMP_NTZ).  Both normalize here
    to a session-UTC TIMESTAMP: watermarks/windows require the LTZ type,
    and under the pinned-UTC session the NTZ→LTZ cast is wall-clock
    exact.  Integer division for the ns path — double division would
    lose precision above 2^53 ns."""
    from ..session import ensure_session_confs

    ensure_session_confs(spark)  # the driver may pass a vanilla session
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql plans."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

