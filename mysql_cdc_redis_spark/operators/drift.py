"""Schema fingerprinting + drift detection (SURVEY.md P4/A4).

The reference detects ALTER TABLE drift at dump time by fingerprinting
each row's sorted field-name tuple and grouping on it (`group_by_field`,
dump2csv.py:50-60); >1 fingerprint per table means "table maybe altered"
and the odd groups are quarantined to `.tmp` files (dump2csv.py:78-87).

Spark is schema-first, so for fixed-schema DataFrames the fingerprint is
a constant; the dynamic per-row dict case is modeled as a map-typed
payload column, fingerprinted with real map_keys."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def schema_fingerprint(map_col: Column) -> Column:
    """P4 for dynamic (map-typed) rows: comma-joined sorted key names.
    All JVM built-ins: map_keys -> array_sort -> array_join."""
    return F.array_join(F.array_sort(F.map_keys(map_col)), ",")

