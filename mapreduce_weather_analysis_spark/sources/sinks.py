"""Sinks (SURVEY.md §2 O11 + engine-canonical storage).

The reference's only sink is TextOutputFormat part files with
``key<TAB>value`` lines and ``%.3f`` rounding (Job1.java:106-107,145).
That formatted text sink is reproduced here verbatim; the engine's
canonical sink is partitioned parquet (columnar + pushdown + partition
pruning). The 100 TB layout (:func:`write_parquet`): partition by the
dominant filter key (the month bucket here), rebalanced on it so AQE
bounds each partition's files by its advisory size, not by one file per
(scan task x partition), i.e. splits x months of KB-sized files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_formatted_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """O11: write ``city,yyyy-MM<TAB>%.3f,%.3f`` lines (expects the
    q_city_month output schema)."""
    lines = df.select(
        F.format_string(
            "%s,%s\t%.3f,%.3f",
            df.columns[0],
            df.columns[1],
            df.columns[2],
            df.columns[3],
        ).alias("value")
    )
    lines.write.mode(mode).text(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    compression: str = "zstd",
    max_records_per_file: int | None = None,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet writer matrix: codec (zstd default — best ratio at similar
    scan speed; snappy for write-throughput-bound pipelines) and
    ``maxRecordsPerFile`` to cap file size so downstream scans get
    even-sized splits. At 100 TB, output file sizing is a first-order
    concern: too-small files melt the namenode/listing, too-large files
    serialize the scan — target 128 MB-1 GB via this cap. With
    ``partition_cols`` the frame is first rebalanced on them (module
    docstring)."""
    if partition_cols:
        df = df.hint("rebalance", *partition_cols)
    w = df.write.mode(mode).option("compression", compression)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def ingest_weather_to_parquet(
    spark: SparkSession, weather_csv: str, location_csv: str, out_dir: str
) -> None:
    """Reference-shaped CSV → ``<out_dir>/weather`` (typed, partitioned by
    ``year_month``: the reference's scan-everything CSV layout becomes a
    partition-pruned columnar one) and ``<out_dir>/location`` parquet."""
    from ..functions.datetime_fns import month_bucket
    from .weather_csv import read_location_csv, read_weather_csv, typed_weather

    wx = typed_weather(read_weather_csv(spark, weather_csv)).withColumn(
        "year_month", month_bucket("date")
    )
    write_parquet(
        wx, f"{out_dir}/weather", partition_cols=["year_month"], compression="snappy"
    )
    loc = read_location_csv(spark, location_csv)
    loc.write.mode("overwrite").parquet(f"{out_dir}/location")


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    *,
    target_bytes: int = 256 * 1024 * 1024,
    compression: str = "zstd",
) -> dict[str, int]:
    """Small-file compaction: rewrite a fragmented parquet directory into
    ~target_bytes files — the maintenance job every long-lived 100 TB
    table needs (streaming sinks and incremental ingests accrete
    KB-sized files; listing and per-file open costs eventually dominate
    the scan). File count comes from the directory's CURRENT on-disk
    bytes (compressed), so the rewrite preserves density rather than
    guessing from row counts; round-robin repartition gives even output
    sizes regardless of key skew. Writes a sibling ``<path>.compact``
    (overwrite would delete the live input before its scan), then deletes
    ``path`` and renames the sibling into place: two steps, not atomic.
    Raises ValueError, before writing, on a hive-partitioned directory
    (a ``name=value`` subdir): the flat rewrite would lose its layout.

    Returns {files_before, files_after, bytes} for the caller's audit
    log."""
    import os
    import shutil

    hive = [d for _r, dirs, _f in os.walk(path) for d in dirs if "=" in d]
    if hive:
        raise ValueError(f"{path} is hive-partitioned ({hive[0]}); not compacted")

    def _du(p: str) -> tuple[int, int]:
        n, b = 0, 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    files_before, total = _du(path)
    n_out = max(1, -(-total // target_bytes))  # ceil div
    tmp = path.rstrip("/") + ".compact"
    (
        spark.read.parquet(path)
        .repartition(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    shutil.rmtree(path)
    os.rename(tmp, path)
    files_after, _ = _du(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }
