"""Scale-out join strategies beyond what AQE does automatically
(SURVEY.md 'Optimize for scale'): bucketed co-located joins and manual
key salting for pathological skew.

* Bucketing: persisting both join sides bucketed by the join key with
  the same bucket count lets Spark plan a shuffle-free sort-merge join —
  at 100 TB the fact-table shuffle IS the job cost, so curated warehouse
  tables (state store, hot dimensions) should be written bucketed.
* Salting: AQE's skew-join splits oversized partitions at runtime, but
  a single mega-hot key inside one partition still serializes; salting
  the hot side key into S sub-keys and replicating the other side S×
  restores parallelism deterministically."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

# The one codec of every persisted-state writer (stream runs and base
# slots, bucketed batch state, dedup-stream runs).  On the CDC state
# zstd pages measured 26-30% smaller than Spark's default snappy.  The
# other half of the persisted format, the timestamp type (INT64
# ``TIMESTAMP(MICROS)``), is a session conf: see ``state_writer``.
STATE_CODEC = "zstd"


def state_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` for persisted state: parquet pages in ``STATE_CODEC``,
    timestamps as INT64 ``TIMESTAMP(MICROS)`` with min/max statistics.

    The timestamp type is not a write option: Spark's parquet writer
    replaces a per-write ``outputTimestampType`` with the session's, so
    ``session.py`` sets ``spark.sql.parquet.outputTimestampType`` on
    every session (``get_spark``, ``ensure_session_confs``).  On the CDC
    state it cut ~18% of the bytes against the INT96 default."""
    return df.write.option("compression", STATE_CODEC)


def pow2_at_least(n: int) -> int:
    """Smallest power of two >= n.  Every bucket modulus of persisted
    state is one, so moduli project onto each other exactly (b mod M
    determines b mod m whenever m | M)."""
    return 1 << (max(1, int(n)) - 1).bit_length()


def auto_bucket_count(
    n_bytes: int | None,
    target_bucket_bytes: int = 256 << 20,
    lo: int = 32,
    hi: int = 4096,
    default: int = 64,
) -> int:
    """Bucket count for a bucketed-table write, sized from the
    relation's on-disk bytes: the next power of two of
    ``n_bytes / target_bucket_bytes`` clamped to ``[lo, hi]``.

    Power of two keeps re-bucketing at a different scale co-partition-
    compatible (a 2^k table's buckets split/merge evenly into a 2^m
    one); the clamp floor keeps small relations parallel enough to
    saturate a node, the ceiling bounds file-count blow-up.  At 100 TB
    this replaces the constant-64 that was tuned to one box — a staged
    multi-TB prefix relation sizes itself into thousands of buckets
    instead of 64 multi-GB ones.  ``None`` bytes (relation not staged,
    size unknown) falls back to ``default``."""
    if not n_bytes or n_bytes <= 0:
        return default
    p = pow2_at_least(math.ceil(n_bytes / target_bucket_bytes))
    return int(min(hi, max(lo, p)))


def state_bucket_count(
    n_bytes: int, open_cost_bytes: int, lo: int = 16, hi: int = 4096
) -> int:
    """Bucket count of a persisted state of ``n_bytes``: the byte-sized
    count with floor ``lo`` (``auto_bucket_count``), cut to the next
    power of two of ⌈n_bytes / open_cost_bytes⌉.

    ``open_cost_bytes`` is ``spark.sql.files.openCostInBytes``, Spark's
    own price of opening one file in bytes: a bucket below it costs more
    to open than to read, and every bucket file repeats its own
    dictionaries, footer and ``.crc``.  So a sub-MB state writes one
    file, while from ``lo × open_cost_bytes`` up (64 MB at the defaults)
    the floor binds and the count is the byte-sized one."""
    sized = auto_bucket_count(n_bytes, lo=lo, hi=hi, default=lo)
    return min(sized, pow2_at_least(math.ceil(n_bytes / open_cost_bytes)))


def open_cost_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.files.openCostInBytes``, as Spark parses it."""
    return int(spark._jsparkSession.sessionState().conf().filesOpenCostInBytes())


def plan_input_bytes(df: DataFrame) -> int:
    """Σ ``sizeInBytes`` of the plan's leaf relations: the statistics
    Spark already holds from its file indexes, so nothing is listed.
    A leaf without a known size reports ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue by default), which sizes as a large state."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))


# Logical nodes that preserve a scan's partitioning (narrow, 1:1 on
# partitions).  Anything else — joins, aggregates, windows, repartitions,
# unions — means the input's partitioning was decided by a shuffle (or is
# too derived to reason about), where the rescue below must not fire.
_NARROW_NODES = frozenset(
    {
        "Relation",
        "LogicalRDD",
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "GlobalLimit",
        "LocalLimit",
        "Generate",  # explode: still partition-preserving
    }
)


def _is_scan_rooted(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is a chain of narrow operators
    over a single source relation — the only shape where
    ``df.rdd.getNumPartitions()`` faithfully reports the SCAN's split
    count (on shuffle-derived inputs it reports the shuffle's partition
    number instead, and the rescue would either skip or insert a
    pointless re-shuffle of already-distributed data)."""
    for line in df._jdf.queryExecution().analyzed().toString().splitlines():
        node = line.lstrip("+-: ").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _NARROW_NODES:
            return False
    return True


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the cluster's default
    parallelism IF it is a narrow chain over a raw scan that produced
    fewer partitions — the "expression-heavy stage over a few-split
    source" fix.

    Parquet splits at row-group boundaries, so a small file (or a
    single-row-group large one) collapses to 1-2 input partitions no
    matter what ``spark.sql.files.*`` says, and every downstream
    narrow transformation (tokenize, hash, decode) then runs on 1-2
    cores of a 32-core box: measured at sf1, the shingle stage of the
    dedup family dropped 11.6 → 2.9 s from this repartition alone.  At
    100 TB the condition never binds (any real corpus scans with
    thousands of splits), so the shuffle this inserts is strictly a
    small-input rescue — the repartition cost is bounded by the (small)
    input it redistributes.

    Gated on ``_is_scan_rooted``: on inputs downstream of a shuffle the
    partition count reflects the planner's shuffle sizing, not row-group
    geometry, so the rescue is a structural no-op there and is skipped
    without even converting the plan to an RDD (round-6 advice)."""
    if not _is_scan_rooted(df):
        return df
    sc = df.sparkSession.sparkContext
    want = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed warehouse table (sorted within buckets so
    merge joins skip the sort too), in ``STATE_CODEC`` pages, one file
    per bucket (the write repartitions by the bucket key first); with
    ``path``, an external table over that dir.

    ``n_buckets`` defaults to ``state_bucket_count`` of the plan's input
    bytes (``plan_input_bytes``) with the former constant 32 as both
    floor and cap: a sub-MB state writes one bucket, and from 128 MB of
    input up the table keeps 32.  Tables joined bucket-to-bucket need
    equal counts, so pass ``n_buckets`` explicitly when the two sides
    are written from inputs of different sizes."""
    if n_buckets is None:
        n_buckets = state_bucket_count(
            plan_input_bytes(df), open_cost_bytes(df.sparkSession), lo=32, hi=32
        )
    writer = state_writer(df.repartition(n_buckets, bucket_col))
    if path is not None:
        writer = writer.option("path", path)
    (
        writer.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def salt_from_hash(h: F.Column, n_salts: int) -> F.Column:
    """Map a 32-bit hash column to a salt in [0, n_salts).

    Must be pmod: ``abs(h) % n`` overflows on Integer.MIN_VALUE —
    ANSI-mode job abort (Spark 4 default) or a negative salt that
    silently drops the row non-ANSI.  Pinned by
    tests/test_scale_strategies.py::test_salt_survives_min_value_hash."""
    return F.pmod(h, F.lit(n_salts))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to left-side key skew: left rows get a random
    salt in [0, n_salts); right rows are replicated across all salts.
    Output is identical to left.join(right, key, how) for inner/left
    joins on non-null keys.

    Salt is derived from a hash of the full left row (deterministic for
    a deterministic input, unlike rand()) so retried tasks produce the
    same assignment — exactly-once sinks stay correct.

    pmod (not abs(hash) % n) because hash() is a 32-bit int: on the
    value Integer.MIN_VALUE, abs() overflows — an ARITHMETIC_OVERFLOW
    abort under ANSI mode (Spark 4 default), or a negative salt that
    silently drops the row non-ANSI (the right side only carries salts
    0..n-1).  ~2^-32 per row is certain at 100 TB row counts."""
    salt = salt_from_hash(F.hash(*left.columns), n_salts).alias("_salt")
    salted_left = left.withColumn("_salt", salt)
    exploded_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_left.join(exploded_right, [key, "_salt"], how).drop("_salt")


def zorder_key(x: F.Column, y: F.Column, bits: int = 16) -> F.Column:
    """Morton (z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns: x occupies even bit positions, y odd.

    Sorting a table by this key clusters rows that are close in BOTH
    dimensions, so parquet row-group min/max statistics prune scans
    with predicates on either column (or both) — the multi-dimensional
    layout optimization Spark lacks as a built-in (Delta/Iceberg expose
    it as OPTIMIZE ZORDER).  Pure bit arithmetic — stays in whole-stage
    codegen."""
    from functools import reduce

    mask = (1 << bits) - 1
    xm = x.bitwiseAND(F.lit(mask))
    ym = y.bitwiseAND(F.lit(mask))
    terms = [
        F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i) for i in range(bits)
    ] + [
        F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the z-order curve of
    (x_col, y_col): range-partition by the Morton key (contiguous,
    non-overlapping key ranges per file) and sort within partitions so
    row-group statistics are tight.  Readers with predicates on either
    dimension skip whole files/row-groups via footer min/max.

    At 100 TB: n_files scales with cluster size; range partitioning
    samples the key distribution, so skewed curves still split evenly."""
    keyed = df.withColumn("_z", zorder_key(F.col(x_col), F.col(y_col), bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
