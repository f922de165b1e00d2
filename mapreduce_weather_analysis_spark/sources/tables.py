"""Parquet fixture-table loaders (the engine's canonical columnar source).

The reference's only source is line-oriented CSV text on HDFS
(``Job1.java:143-144`` — SURVEY.md §2 O1); parquet is this engine's
equivalent canonical storage: columnar, predicate pushdown, column pruning,
and (at 100 TB) partition pruning on a month/key directory layout.
"""

from __future__ import annotations

import hashlib
import os
import stat
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_session_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Relation-handle memo — CATALOG METADATA, not data (r16, guide §1/§5:
# the suite is per-query constant-overhead-bound at sf0.1, and profiling
# put ~0.15-0.2 s of every query build inside spark.read.parquet's
# schema inference + relation setup; a catalog caches exactly this).
# The value is the LAZY resolved DataFrame — immutable plan metadata; no
# rows, no results, nothing is computed until the caller's own action,
# so every bench/oracle invocation still computes from the parquet
# inputs. Held per live session (weakly — a stopped session drops its
# entries) as one (identity, df, raw df) entry per path: a changed input
# replaces its entry instead of accumulating beside it. The identity is
# (size, mtime_ns) for a single file — one os.stat, the common case —
# and (relpath, size, mtime_ns) of every file under a directory, so a
# part file added or rewritten anywhere under it re-resolves the
# relation instead of serving a stale file listing.
_RELATION_CACHE: "WeakKeyDictionary[SparkSession, dict]" = (
    WeakKeyDictionary()
)


def _identity(path: str) -> tuple:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            fst = os.stat(full)
            files.append(
                (os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns)
            )
    return tuple(sorted(files))


def _stamp(path: str) -> str:
    """Input fingerprint for the persisted index paths: ``"{size}:{mtime_ns}"``
    of a file, or a digest of :func:`_identity`'s sorted listing of a
    directory, so a part file rewritten or added anywhere under a
    directory input changes the path instead of serving a stale index."""
    if os.path.isdir(path):
        return hashlib.md5(repr(_identity(path)).encode()).hexdigest()
    return "{}:{}".format(*_identity(path))


def _resolve(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """The memo entry of ``{sf_dir}/{name}.parquet``: (identity, table,
    raw) — ``raw`` is the relation as the parquet files declare it,
    ``table`` the one :func:`load_table` serves."""
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _identity(path)
    per_session = _RELATION_CACHE.setdefault(spark, {})
    hit = per_session.get(path)
    if hit is not None and hit[0] == key:
        return hit
    raw = df = spark.read.parquet(path)
    if name == "events" and isinstance(raw.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) read as int64 nanos (see session.py): rebuild a
        # µs timestamp — floor division matches DuckDB's ns→µs truncation.
        # integer `div`, not `/`: ns values (~1.7e18) exceed double precision
        df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[path] = (key, df, raw)
    return per_session[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _resolve(spark, sf_dir, name)[1]


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The table's schema as its parquet files declare it, before
    :func:`load_table`'s rebuilds (``events.ts`` as int64 nanos or as a
    µs timestamp). Read from the relation memo: once the table is
    resolved this runs no Spark job (PySpark keeps a DataFrame's schema
    after its first read, and ``load_table`` reads it for ``events``)."""
    return _resolve(spark, sf_dir, name)[2].schema


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}
