"""Schema inference + warehouse type translation (SURVEY.md §2.10 C1/C2,
§1.3; reference bq_schema_from_mysql.py).

The reference reads MySQL information_schema.columns (S9,
bq_schema_from_mysql.py:134-152), translates types through a fixed map
(type_trans, :54-88, unknown → string), appends the two system columns
cdc_action/cdc_ts, and name-sorts the result (:155-157).

Spark spelling: a DataFrame's own StructType IS the information_schema
scan (schema inference happens at the source — JDBC/parquet); the
translation below maps Spark types to the same warehouse type names the
reference emits.  Divergence note (SURVEY.md §1.3): the reference maps
decimal→float, losing exactness; we preserve DecimalType as 'float' in
the warehouse view for parity but keep the typed column in-engine."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

# Spark type -> warehouse type name, mirroring type_trans
# (bq_schema_from_mysql.py:54-88): ints/bit -> integer, decimal/float/
# double -> float, char/text/enum/set/blob -> string, datetime/timestamp
# -> timestamp, date/time/year -> string.
_SPARK_TO_WAREHOUSE: list[tuple[type, str]] = [
    (ByteType, "integer"),
    (ShortType, "integer"),
    (IntegerType, "integer"),
    (LongType, "integer"),
    (BooleanType, "integer"),  # mysql bit/tinyint(1)
    (FloatType, "float"),
    (DoubleType, "float"),
    (DecimalType, "float"),  # documented exactness loss, kept for parity
    (StringType, "string"),
    (BinaryType, "string"),
    (DateType, "string"),  # bq_schema_from_mysql.py:80-81
    (TimestampType, "timestamp"),
    (TimestampNTZType, "timestamp"),  # parquet naive timestamps in Spark 4
]


def warehouse_type(dt: DataType) -> str:
    """Translate one Spark type; unknown types degrade to string exactly
    like the reference's defaultdict fallback (bq_schema_from_mysql.py:87-88)."""
    for klass, name in _SPARK_TO_WAREHOUSE:
        if isinstance(dt, klass):
            return name
    return "string"


def warehouse_schema(df: DataFrame, with_system_cols: bool = True) -> list[tuple[str, str]]:
    """C1: (column_name, warehouse_type) pairs for a DataFrame — system
    columns appended (cdc.py:65-72 inject them on every row; the schema
    generator mirrors at bq_schema_from_mysql.py:155-156), then
    name-sorted (:157).  cdc_ts is 'timestamp' here where the reference
    said 'string' — the SURVEY §1.2 normalization, documented."""
    fields = [(f.name, warehouse_type(f.dataType)) for f in df.schema.fields]
    if with_system_cols:
        fields += [("cdc_action", "string"), ("cdc_ts", "timestamp")]
    return sorted(fields, key=lambda p: p[0])

