"""Deterministic engine-portable hashing and text normalization.

Every sketch operator (MinHash, SimHash, LSH) needs a hash function the
DuckDB oracle can reproduce bit-for-bit.  Spark's built-in hash() is
Murmur3 with Spark-specific seeding, so instead we take the top 15 hex
digits of md5 as a 60-bit non-negative integer:

  Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

Both sides are JVM/native builtins — no Python UDFs in the hot path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5long(col: Column) -> Column:
    """60-bit deterministic hash of a string column (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def norm_text(col: Column) -> Column:
    """Canonical text normalization used by dedup/fingerprint ops:
    lowercase, trim, collapse whitespace runs."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


NORM_TEXT_SQL = "regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g')"
