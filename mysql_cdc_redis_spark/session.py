"""SparkSession factory tuned for this engine.

Defaults are sized for the local[32] test harness but every knob is the
one you would also set on a real cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast decisions are exactly what a 100 TB run needs.
* Arrow on — every Pandas UDF / applyInPandas crosses the JVM/Python
  boundary in columnar batches instead of pickled rows.
* Session timezone pinned to UTC — the DuckDB oracle reads the same
  parquet files as naive-UTC timestamps; an unpinned session would make
  every timestamp-bearing query hash-mismatch on machines in other zones.
* Codegen cache sized to the working set — Spark keeps its generated
  classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
  entries, 100 by default.  The engine re-runs the same plans over and
  over (every stream micro-batch, every repeated catalog query), but one
  pass of the six LLM queries alone needs ~155 distinct classes and the
  CDC path ~110, so at 100 each repeat evicts what the next one needs
  and Janino recompiles (and the JIT re-warms) every class on every
  pass.  ``CODEGEN_CACHE_ENTRIES`` holds both working sets with room to
  spare.  It is a STATIC conf: it takes effect only when the session's
  SparkContext is built (``get_spark``); ``ensure_session_confs`` cannot
  set it on a foreign session (one a caller created itself), which
  keeps whatever value it was created with.  Override through
  ``extra_conf``.
* Timestamps persisted as INT64 ``TIMESTAMP(MICROS)`` — Spark's default
  INT96 spends 12 bytes per value and carries no min/max statistics, so
  a range filter on a timestamp column can skip no row group; INT64
  micros cut the CDC state ~18% and give every timestamp column
  statistics.  Values are unchanged, and Spark reads INT96 files (state
  written before) side by side with INT64 ones.  Spark takes the type
  only as a session conf (``ParquetFileFormat`` overrides a per-write
  option with it), so both ``get_spark`` and ``ensure_session_confs``
  set it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated classes the codegen cache holds (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def graft_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` (default 32), read at call time: it sizes
    the local master, the scan floor and the default shuffle partitions,
    so a process that sets it after importing the package still gets
    one consistent value for all three."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """~40% of physical RAM, clamped to [2g, 24g] (see get_spark)."""
    try:
        total_gb = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / (1 << 30)
        )
    except (ValueError, OSError, AttributeError):
        total_gb = 16.0
    return f"{max(2, min(24, int(total_gb * 0.4)))}g"


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Force the correctness-critical runtime confs, and the persisted
    timestamp type, onto ANY session — a caller may pass its own
    SparkSession, one not built by get_spark().  All of these are
    runtime-settable.

    Called from the table scan chokepoint (sources/tables.py) so every
    catalog query self-configures."""
    runtime = {
        "spark.sql.session.timeZone": "UTC",  # oracle reads naive-UTC parquet
        "spark.sql.legacy.parquet.nanosAsLong": "true",  # events.ts is ns
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        # a format choice, not a correctness fix: the persisted timestamp
        # type of every parquet write (module docstring)
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }
    for k, v in runtime.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass
    # a vanilla session defaults to 200 shuffle partitions — wasteful at
    # test scale; leave any explicit non-default choice alone
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(graft_cpus()))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "mysql-cdc-redis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster you would drop ``master`` and submit with
    spark-submit; everything else carries over unchanged.
    """
    cpus = graft_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores timestamp[ns]; Spark has no ns type —
        # read as long and convert at the scan (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- persisted format: INT64 micros, not INT96 (module docstring) ---
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # --- scale-critical: adaptive execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # --- python boundary: Arrow batches, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: parquet splits that fit executor memory ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # floor the SCAN parallelism at the core count (scale-adaptive:
        # tracks SPARK_GRAFT_CPUS through defaultParallelism, never a
        # box constant): without it a table smaller than one
        # maxPartitionBytes split scans as ONE task no matter how many
        # row groups it has — at sf1 every fact scan was 1-6 tasks on a
        # 32-core box (guide §6 "spark.sql.files.minPartitionNum sets a
        # floor on scan parallelism"; r9 verdict item 4).  Row groups
        # still bound the effective split count, so fixtures are written
        # with bounded row groups too (tools/gen_sf1.py).
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # --- broadcast: dims up to 64 MB go map-side, no shuffle ---
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # --- codegen: compile each repeated plan once (module docstring) ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # quiet the local harness
        .config("spark.ui.enabled", "false")
        # in local mode the driver JVM is also every executor: size the heap
        # for 32 concurrent tasks, not for a thin cluster driver.  8g was
        # enough for sf<=0.1 but an hour-long sf1 differential sweep OOM'd
        # the JVM mid-run.  Scale the default to the HOST (~40% of RAM,
        # clamped to [2g, 24g]): 24g on the 128 GiB harness, 6g on a 16 GiB
        # contributor box — never an Xmx the machine can't back.  Real
        # clusters override via spark-submit / SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_mem()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far — the count of
    Spark's ``CodegenMetrics`` compilation-time histogram.  Take the
    difference around a piece of work to see how many classes it
    generated that the codegen cache did not already hold."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
