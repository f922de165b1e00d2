"""SparkSession factory tuned for this engine.

The reference hard-codes its physical strategy (container sizes, snappy
map-output compression — ``scripts/hadoop_spark_task2_3/hadoop.env``); here
the equivalent posture is a handful of Spark confs and we let Catalyst/AQE
pick plans at runtime.

Scale notes (100 TB posture):
* AQE on — runtime coalescing of small post-shuffle partitions and skew-join
  splitting replace hand-tuned reducer counts (the reference pins
  ``setNumReduceTasks(1)`` for its global argmax, Job2.java:100 — in Spark
  the argmax is a tiny second stage after a distributed partial agg).
* ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it ~2-3× total executor cores, or leave AQE's
  coalescing to right-size it from ``spark.sql.adaptive.advisoryPartitionSizeInBytes``.
* Session timezone pinned to UTC so date bucketing is reproducible across
  engines (the DuckDB oracle is UTC-naive).
* File-scan split floor ``spark.sql.files.openCostInBytes`` = 1 MiB
  (:data:`FILES_OPEN_COST_BYTES`; Spark's default is 4 MiB). Spark sizes a
  scan split as ``min(maxPartitionBytes, max(openCost, (bytes + files ×
  openCost) / cores))``, so the floor binds only when an input is smaller
  than about cores × floor: at 4 MiB the 4.9 MB weather CSV scanned as 2
  tasks on 4 cores, and the CSV parse is the costliest work of Job1, Job2
  and ``ingest``. At 100 TB the bytes-per-core term is far above the floor
  in both settings. For a directory of many small files packing does not
  depend on the floor either: each file is charged about one open cost
  against a budget of about files × open cost / cores, so the scan still
  gets about ``cores`` partitions. 1 MiB still keeps a split worth a task:
  about 0.15 s of CSV parsing on one core (SCALE.md, round 17).
* Stream checkpoints go through Spark's ``FileSystemBasedCheckpointFileManager``
  (:data:`CHECKPOINT_FILE_MANAGER`) instead of the default
  ``FileContextBasedCheckpointFileManager``. Both write every offsets,
  commits, sources, metadata, state-delta, state-schema and
  operator-metadata file as a temp file plus a rename. The default renames
  through ``FileContext.rename``, which on the local file system checks the
  destination with ``getFileLinkStatus``; without a native libhadoop (the
  pip pyspark ships none) that forks a ``readlink`` process for every
  checkpoint file and its ``.crc``, nearly half of them serially on the
  stream execution thread: 72 of the ~99 process forks of a warm
  availableNow drain of the two ``query_tail`` streams.
  The FileSystem manager renames with ``FileSystem.rename``
  (``File.renameTo`` locally: atomic on a POSIX file system, no fork). The
  checkpoint file checksums stay on. A cluster whose checkpoints live on
  another store sets the manager that store needs (SCALE.md, round 17).
"""

from __future__ import annotations

import os
from weakref import WeakSet

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Scan split floor of engine-built sessions (see "Scale notes" above).
# Posture, not correctness: ensure_session_conf leaves a foreign session's
# value alone.
FILES_OPEN_COST_BYTES = 1 << 20

# Stream checkpoint writer of engine-built sessions (see "Scale notes"
# above). Posture, like the split floor: builder only.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Sessions already pinned by ensure_session_conf (weak — a stopped
# session drops out). Pinning is idempotent, but each conf.set is a
# py4j roundtrip and the loader calls this on EVERY table load: across
# the 193-query bench that was ~5 RPCs x several loads x 2 draws per
# query of pure driver latency (r16 overhead profile). Once per live
# session is the semantic the contract needs ("queries pin the confs
# themselves" — against a session built elsewhere).
_CONF_PINNED: "WeakSet[SparkSession]" = WeakSet()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Idempotently pin the runtime-settable confs correctness depends on.

    Queries received an externally built session (the driver's); only
    runtime-mutable SQL confs are touched — never the master or memory.

    The pin runs once per live session, with no re-check afterwards:
    callers must not change the four pinned confs (session time zone,
    ``nanosAsLong``, ``inferTimestampNTZ.enabled``,
    ``shuffle.partitions``) mid-session. A session whose pinned conf was
    changed after the first query keeps the changed value, and later
    queries run under it.
    """
    if spark in _CONF_PINNED:
        return spark
    _CONF_PINNED.add(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores ts as TIMESTAMP(NANOS), which vanilla Spark
    # rejects (PARQUET_TYPE_ILLEGAL). Read nanos as int64; the table loader
    # rebuilds a microsecond timestamp (same truncation DuckDB applies).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Unadjusted-to-UTC parquet µs timestamps (isAdjustedToUTC=false) must
    # read as TIMESTAMP, not TIMESTAMP_NTZ: with NTZ inference off Spark
    # reinterprets the raw µs as UTC instants — numerically identical to
    # DuckDB's naive read, and unix_micros()/watermarks stay applicable.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Right-size shuffles for the host when an external session still runs
    # the 200-partition default (with AQE coalescing this only caps the
    # partition count; results are partitioning-independent by design).
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
    return spark


def get_spark(
    app_name: str = "mapreduce_weather_analysis_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session for tests and bench runs."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return ensure_session_conf(active)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.openCostInBytes", str(FILES_OPEN_COST_BYTES))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_conf(spark)
