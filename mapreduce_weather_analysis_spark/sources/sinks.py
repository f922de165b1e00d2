"""Sinks (SURVEY.md §2 O11 + engine-canonical storage).

The reference's only sink is TextOutputFormat part files with
``key<TAB>value`` lines and ``%.3f`` rounding (Job1.java:106-107,145).
That line is built by ``plans.weather.q_city_month_formatted`` and
written with Spark's plain text writer; the engine's canonical sink is
partitioned parquet (columnar + pushdown + partition pruning). The
100 TB layout (:func:`write_parquet`): partition by the dominant filter
key (the month bucket here), rebalanced on it so AQE bounds each
partition's files by its advisory size, not by one file per (scan task
x partition), i.e. splits x months of KB-sized files.

Local writes fork no process on engine-built sessions. Without a native
libhadoop (the pip-installed pyspark ships none), Hadoop 3.4.2's stock
``RawLocalFileSystem.setPermission`` shells out to ``chmod`` once for
each directory and file a write creates, ``.crc`` sidecars included: on
a 4-vCPU host 3.2-3.9 ms a fork (a py4j ``exists`` 0.06-0.08 ms), 125
forks per perfbench ``ingest`` (113 inside its write tasks) and 9 per
``job1`` or ``job2``. Engine-built sessions set modes in-process through
``session.NIO_LOCAL_FS`` instead, with the same mode bits (0755
directories, 0644 files), and write stream checkpoints through the
FileSystem checkpoint manager (``session.CHECKPOINT_FILE_MANAGER``),
which renames without the ``readlink`` fork of the default manager. A
foreign session keeps its stock file system and so still forks
(SCALE.md, round 17).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


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
    partition-pruned columnar one) and ``<out_dir>/location`` parquet.

    The two writes are independent, so the one-task location write runs
    on a background thread (local properties inherited) on the cores the
    weather write's few month tasks leave idle. Its error is re-raised
    here once both writes are done."""
    from ..plans.weather import q_weather_by_month
    from .weather_csv import read_location_csv, read_weather_csv

    def write_location() -> None:
        loc = read_location_csv(spark, location_csv)
        loc.write.mode("overwrite").parquet(f"{out_dir}/location")

    with ThreadPoolExecutor(max_workers=1) as pool:
        location = pool.submit(inheritable_thread_target(spark)(write_location))
        write_parquet(
            q_weather_by_month(read_weather_csv(spark, weather_csv)),
            f"{out_dir}/weather",
            partition_cols=["year_month"],
            compression="snappy",
        )
    location.result()


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
