"""Measurement-harness helpers shared by bench.py and tools/bench_sf10.py.

The round-7 harness proved two things about honest benching on this
engine (SCALING.md "Round 7"):

1. A bare ``.count()`` action lets Catalyst prune every computed column
   — it "measured" the sf10 text profiles at 0.8-1.2 s where the honest
   materialized wall is 5.8-6.5 s.  The fix is ONE action computing
   ``count + sum(xxhash64(struct(*)))`` so every output column is
   materialized AND passes can be value-compared.
2. The naive ``xxhash64(struct(*))`` checksum is fragile (round-7
   advice): Spark refuses to hash MapType columns, and double-typed
   aggregates are not guaranteed bit-identical across passes (floating
   reduction order varies with AQE/partitioning), so a hard cross-pass
   assert can crash or spuriously discard valid samples.

``checksum_row`` fixes both: columns are normalized per type before
hashing (doubles/floats rounded through an exact decimal, complex types
JSON-stringified, maps included), and callers RECORD checksum agreement
instead of asserting it for types that stay honest-but-unstable."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _needs_norm(dt: T.DataType) -> bool:
    """True iff the type contains a float/double (ulp-unstable across
    reduction orders) or a map (unhashable by Spark) at ANY depth."""
    if isinstance(dt, (T.DoubleType, T.FloatType, T.MapType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _needs_norm(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_needs_norm(f.dataType) for f in dt.fields)
    return False


def _norm_expr(c: Column, dt: T.DataType) -> Column:
    """Recursive hash-safe projection (round-8 advice #4: top-level-only
    rounding left doubles nested in arrays/structs hashing raw, so such
    queries reported spuriously unstable cross-pass checksums):

    * float/double → round(4 dp) through an exact decimal, stringified
      (try_cast: NaN/Infinity normalize to null instead of throwing
      under ANSI mode — a checksum must never abort the measurement);
    * array → F.transform over the normalized element;
    * struct → rebuilt from normalized fields;
    * map → values normalized via transform_values, then to_json
      (Spark disallows hashing maps at any nesting level).

    Containers whose element types need no normalization pass through
    untouched — the common all-JVM-stable case costs nothing extra."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c, 4).try_cast("decimal(38,4)").cast("string")
    if not _needs_norm(dt):
        return c
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _norm_expr(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(
            *[_norm_expr(c[f.name], f.dataType).alias(f.name) for f in dt.fields]
        )
    if isinstance(dt, T.MapType):
        inner = (
            F.transform_values(c, lambda _k, v: _norm_expr(v, dt.valueType))
            if _needs_norm(dt.valueType)
            else c
        )
        return F.to_json(inner)
    return c


def _normalized(field: T.StructField) -> Column:
    """A hash-safe, cross-pass-stable projection of one output column —
    see ``_norm_expr`` (recursive: nested doubles and maps are
    normalized at every depth)."""
    return _norm_expr(F.col(field.name), field.dataType)


def checksum_row(df: DataFrame):
    """Materialize ``df`` completely in ONE action and return the Row
    ``(n, chk)``: row count + an order-independent value checksum
    (decimal sum of per-row xxhash64 over type-normalized columns —
    decimal(38,0) is exact far past the 27M-row scale where a long sum
    of 64-bit hashes overflows under ANSI mode)."""
    cols = [_normalized(f) for f in df.schema.fields]
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("chk"),
    ).first()
