"""Scalar helpers — the reference's full scalar-function surface (SURVEY
§2.7): uuid hex↔raw codecs (`src/tdb_uuid.c:52-75`), timestamp parsing
(`tdbcli/op_make.c:131-140`), byte-equality (built-in ``=``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def uuid_hex(raw: Column) -> Column:
    """raw 16 bytes → 32-char lowercase hex (reference ``tdb_uuid_hex``,
    `src/tdb_uuid.c:62-75`)."""
    return F.lower(F.hex(raw))


def uuid_raw(hex_col: Column) -> Column:
    """32-char hex → 16 raw bytes (reference ``tdb_uuid_raw``,
    `src/tdb_uuid.c:52-60`)."""
    return F.unhex(hex_col)


def parse_time(col: Column) -> Column:
    """Text/number/timestamp → Unix-seconds LONG (reference
    ``safely_to_int`` on the time column, `tdbcli/main.c:20-28`)."""
    return (
        F.when(col.cast("long").isNotNull(), col.cast("long"))
        .otherwise(F.unix_timestamp(col.cast("timestamp")))
        .cast("long")
    )


def ts_seconds(df, col: str = "ts") -> Column:
    """Unix-seconds LONG from an events ``ts`` column, robust to how the
    active Spark surfaces parquet INT64 TIMESTAMP(NANOS):

    * Spark <= 4.0 with ``spark.sql.legacy.parquet.nanosAsLong`` reads it
      as BIGINT nanoseconds → integer-divide by 1e9;
    * Spark >= 4.1 dropped that conf and yields TIMESTAMP_NTZ →
      ``unix_timestamp`` (session tz is pinned to UTC in
      :func:`traildb_spark.session.get_spark`, so NTZ == UTC instant).

    All timestamp consumers (tests, ``__spark_entry__``) must go through
    this single branch so an engine upgrade flips exactly one code path.
    """
    ts_type = dict(df.dtypes).get(col)
    if ts_type == "bigint":
        return F.expr(f"{col} div 1000000000").cast("long")
    return F.unix_timestamp(F.col(col)).cast("long")


def empty_as_null(col: Column) -> Column:
    return F.nullif(col, F.lit(""))


def null_as_empty(col: Column) -> Column:
    return F.coalesce(col.cast("string"), F.lit(""))


def md5_60(col: Column) -> Column:
    """The portable 60-bit hash family used everywhere cross-engine
    determinism matters: first 15 hex chars of md5 as a non-negative
    int64. DuckDB mirror: ``CAST(('0x' || substr(md5(x), 1, 15)) AS
    BIGINT)``. One definition — hash-family changes (width, salt
    convention) must not be re-implemented per call site."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def json_field(col: Column, path: str) -> Column:
    """Extract one field from a JSON-string column (`$.key` paths) — the
    modern shape of TrailDB's string-valued fields (reference fields are
    flat strings, `src/tdb.h` item model; production event props are
    JSON blobs). JVM-side `get_json_object`, NULL on malformed JSON or
    missing key in BOTH engines (DuckDB mirror:
    ``json_extract_string(col, '$.key')``), so typed extraction
    (``.cast("long")``) is oracle-checkable end to end."""
    return F.get_json_object(col, path)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-built frame (``rows`` of tuples, ``schema`` in DDL)
    that plans as a ``LocalTableScan``. ``createDataFrame`` of a list
    plans ``Scan ExistingRDD``, which runs Python tasks every time the
    frame is evaluated; a pandas frame goes through Arrow instead."""
    import pandas as pd

    st = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=st.names), st)
