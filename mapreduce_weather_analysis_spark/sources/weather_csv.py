"""Reference-shaped CSV sources (SURVEY.md §2 O1-O6).

The reference reads both CSVs line-by-line through one mapper and
dispatches on column count (8 → location, ≥14 → weather — Job1.java:33,40),
drops headers by prefix match (Job1.java:27-28) and silently skips any row
that throws (Job1.java:22,52-55 — permissive scan, O6).

Spark-first translation: read each file as its own typed DataFrame with
``mode=PERMISSIVE`` (malformed fields → null instead of killing the task,
same net semantics as the reference's try/catch but row-surgical, avoiding
quirk Q3's whole-group abort). The arity-dispatch mapper is unnecessary —
but :func:`split_unioned_feed` keeps the general form for heterogeneous
single-feed inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import LOCATION, WEATHER_ARITY, weather_csv_schema


def _ddl(schema: T.StructType) -> str:
    """The schema as a DDL string: the reader takes it in one py4j call,
    where a StructType is round-tripped through the JVM's JSON parser."""
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)


def read_location_csv(spark: SparkSession, path: str) -> DataFrame:
    """27-row dimension (input/locationData.csv); header via CSV option
    instead of the reference's prefix sniffing (Job1.java:27-28)."""
    return spark.read.csv(path, header=True, schema=_ddl(LOCATION), mode="PERMISSIVE")


def read_weather_csv(spark: SparkSession, path: str, n_cols: int = WEATHER_ARITY) -> DataFrame:
    """Weather fact CSV → typed DataFrame with reference projection.

    Keeps only the four semantically-used columns (Job1.java:41-44) —
    Catalyst prunes the rest at the scan. ``date`` stays a raw string;
    numeric fields keep Job1's anything-unparseable tolerance by staying
    string here (coercion is per-query: quirk Q1).
    """
    raw = spark.read.csv(
        path, header=True, schema=_ddl(weather_csv_schema(n_cols)), mode="PERMISSIVE"
    )
    return raw.selectExpr(
        "try_cast(location_id AS INT) AS location_id",
        "date",
        "temperature_2m_mean",
        "precipitation_hours",
    )


def split_unioned_feed(lines: DataFrame, col: str = "value") -> tuple[DataFrame, DataFrame]:
    """General form of the reference's arity dispatch (O4, Job1.java:33,40):
    one heterogeneous text feed → (location_rows, weather_rows) by column
    count. Provided for single-feed ingestion parity; the preferred path is
    per-file typed reads above.
    """
    with_arity = lines.withColumn("_cols", F.size(F.split(F.col(col), ",", -1)))
    loc = with_arity.where(F.col("_cols") == 8).drop("_cols")
    wx = with_arity.where(F.col("_cols") >= WEATHER_ARITY).drop("_cols")
    return loc, wx
