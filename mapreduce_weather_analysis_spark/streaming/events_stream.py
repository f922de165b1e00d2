"""Structured Streaming over the events table (SURVEY.md §2.2: streaming is
absent from the reference — pure-batch MapReduce — and a first-class
extension here).

The parquet fixture stands in for a real stream (Kafka/kinesis in prod):
``availableNow`` drains it as a bounded stream through the same watermark +
windowed-aggregation plan a live stream would run, which makes the result
deterministic and batch-equivalent — the DuckDB oracle of the batch twin
(plans/events_suite.py) applies unchanged.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_session_conf
from ..sources.tables import raw_schema

_DRAIN_ROOT: str | None = None


def _drain_scratch_root() -> str:
    """Lazily-created per-process scratch root for file-sink drains,
    shutil.rmtree'd via atexit so drained corpus-sized parquet and
    checkpoints don't accumulate across runs (ADVICE r9)."""
    global _DRAIN_ROOT
    if _DRAIN_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _DRAIN_ROOT = tempfile.mkdtemp(prefix="stream_drain_")
        atexit.register(shutil.rmtree, _DRAIN_ROOT, ignore_errors=True)
    return _DRAIN_ROOT


def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stream_table(
    spark: SparkSession, sf_dir: str, name: str, schema: T.StructType
) -> DataFrame:
    """File-source stream over ``{sf_dir}/{name}.parquet`` in either
    layout: a single parquet FILE (the testdata fixtures — streamed via a
    pathGlobFilter from the parent, since the streaming source requires a
    directory basePath) or a DIRECTORY of part files (scaled corpora, any
    Spark-written table — streamed directly). Real deployments are always
    the directory branch."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_conf(spark)
    # readStream needs an explicit schema; take the raw ts type from the
    # relation memo so the stream adapts to either fixture vintage —
    # TIMESTAMP(NANOS) → int64 under nanosAsLong (rebuilt to µs below,
    # DuckDB's truncation), or plain µs timestamps (read directly; NTZ
    # inference is off per session.py). The memo re-resolves a rewritten
    # file, and a memoized table costs no Spark job per build.
    ts_type = raw_schema(spark, sf_dir, "events")["ts"].dataType
    raw = _stream_table(
        spark, sf_dir, "events", _events_stream_schema(ts_type)
    )
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_window_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    q_events_tumbling (late data beyond the watermark is dropped on a live
    stream; in the bounded availableNow run nothing is late)."""
    return (
        events.withWatermark("ts", watermark)
        # group on the window STRUCT (not .start): append-mode emission
        # tracks watermark progress through the struct-typed grouping key
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running event count carried across micro-batches in explicit
    group state (the arbitrary-state API the built-in windows can't express;
    state is one int per user — bounded, shuffle-partitioned by user_id)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id bigint, n_events bigint",
        "n bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    agg: DataFrame, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Drain the bounded stream through a memory sink and return the
    materialized result."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_available_now_files(agg: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain a bounded APPEND-mode stream through a parquet FILE sink and
    read the result back — for drains whose row count scales with the
    corpus (exploded token/dimension relations). The memory sink ships
    every sink row through the driver as task results: at the 100×
    document pack the lexical-drift token drain exceeded
    spark.driver.maxResultSize (1 GiB) and killed the stream — a
    measured failure, not a hypothetical. The file sink is the
    production posture anyway (executors write their own partitions;
    the driver sees only commit metadata), and the downstream batch
    chain reads the files exactly as it read the memory table.

    The drain directory (data + checkpoint) lives under one per-process
    scratch root removed at interpreter exit (ADVICE r9: a bare mkdtemp
    per drain leaked corpus-sized parquet across runs). Deletion must
    wait for exit — the returned DataFrame reads the files lazily."""
    import tempfile

    out = tempfile.mkdtemp(prefix="drain_", dir=_drain_scratch_root())
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(agg.schema).parquet(os.path.join(out, "data"))


def run_foreach_batch_parquet(
    agg: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Idempotent aggregate sink via foreachBatch: COMPLETE mode gives each
    micro-batch the full aggregation state, and the batch function
    overwrites one snapshot directory — so a replayed batch (restart
    between sink write and checkpoint commit) rewrites the same snapshot
    instead of duplicating rows. Idempotent writes + checkpointed offsets =
    effective exactly-once for this sink.

    (For APPEND-mode pipelines the idempotent pattern is epoch-keyed
    subdirectories instead — each replayed epoch overwrites its own dir;
    an UPDATE-mode agg has no safe plain-parquet sink without a keyed
    MERGE target, which is why this helper runs complete mode.)"""

    def write_snapshot(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("_epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/latest")

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_snapshot)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def per_type_user_counts_tws(events: DataFrame) -> DataFrame:
    """Stateful streaming on the Spark 4 ``transformWithStateInPandas``
    API (the successor to applyInPandasWithState): per-user MAP state
    keyed by event_type, carried across micro-batches in the RocksDB
    state store. Emits every (user, type, n) entry each batch (update
    semantics). State is O(#types) per user — bounded; shuffle-partitioned
    by user_id like any keyed stateful op."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            batch_counts: dict[str, int] = {}
            for pdf in rows:
                for etype, n in pdf.groupby("event_type").size().items():
                    batch_counts[etype] = batch_counts.get(etype, 0) + int(n)
            for etype, n in batch_counts.items():
                prev = (
                    self._counts.getValue((etype,))[0]
                    if self._counts.containsKey((etype,))
                    else 0
                )
                self._counts.updateValue((etype,), (prev + n,))
            entries = [
                (k[0], v[0]) for k, v in self._counts.iterator()
            ]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(entries),
                    "event_type": [e[0] for e in entries],
                    "n_events": [e[1] for e in entries],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        PerTypeCounts(),
        "user_id bigint, event_type string, n_events bigint",
        "Update",
        "None",
    )


def user_idle_sessions_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Timer-driven session flush on ``transformWithStateInPandas``
    (EventTime mode) — the ``handleExpiredTimer`` path: per-user open
    session (n, last_ms) in ValueState; sessions closed by a LATER event
    of the same user emit from ``handleInputRows``, and the trailing open
    session emits from ``handleExpiredTimer`` once the (global) watermark
    passes last_ms + gap. One event-time timer per key, re-registered on
    every input batch (register-new-then-delete-old, so a processor crash
    between the two calls leaves an extra stale timer — which the expiry
    handler ignores via the expiry==last+gap check — rather than none).

    Emission is batch-structure independent: a session row appears exactly
    when something PROVES the session closed (a newer event, or watermark
    passage). Requires ``withWatermark`` upstream. Env-gated like
    :func:`per_type_user_counts_tws` (protobuf — see ENVIRONMENT.md)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60 * 1000

    class IdleSessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState(
                "open_session", "n bigint, last_ms bigint"
            )
            self._handle = handle

        def _emit(self, key, n, last_ms):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "session_end_ms": [last_ms],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            cur = self._open.get()
            n, last = (int(cur[0]), int(cur[1])) if cur is not None else (0, None)
            ts_all = []
            for pdf in rows:
                ts_all.extend(int(v) for v in pdf["ts_ms"].tolist())
            ts_all.sort()
            for ts in ts_all:
                if last is not None and ts - last > gap_ms:
                    yield self._emit(key, n, last)
                    n, last = 1, ts
                else:
                    n, last = n + 1, max(last, ts) if last is not None else ts
            self._open.update((n, last))
            # register-new-THEN-delete-old: a crash between the two calls
            # leaves an extra stale timer (harmless — the expiry==last+gap
            # guard in handleExpiredTimer ignores it) rather than none,
            # which would strand a trailing open session forever if no
            # further events arrive for the key
            new_timer = last + gap_ms
            self._handle.registerTimer(new_timer)
            for old in list(self._handle.listTimers()):
                if old != new_timer:
                    self._handle.deleteTimer(old)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._open.get()
            if cur is None:
                return
            n, last = int(cur[0]), int(cur[1])
            # stale-timer guard: only the timer matching the live session
            # flushes it (a newer event re-registered a later timer)
            if expiredTimerInfo.getExpiryTimeInMs() == last + gap_ms:
                yield self._emit(key, n, last)
                self._open.clear()

        def close(self) -> None:
            pass

    with_ms = events.select(
        "user_id", "ts", F.unix_millis("ts").alias("ts_ms")
    )
    return with_ms.groupBy("user_id").transformWithStateInPandas(
        IdleSessions(),
        "user_id bigint, n_events bigint, session_end_ms bigint",
        "Append",
        "EventTime",
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded stream over the documents fixture — the ingestion shape of a
    live corpus feed (the text-pipeline operators are stateless per row, so
    they lift onto this stream unchanged)."""
    ensure_session_conf(spark)
    return _stream_table(spark, sf_dir, "documents", DOCUMENTS_SCHEMA)


EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded stream over the embeddings fixture — the ingestion shape
    of a live embedding feed (an encoder writing vectors as documents
    arrive); the drift monitor consumes it."""
    ensure_session_conf(spark)
    return _stream_table(spark, sf_dir, "embeddings", EMBEDDINGS_SCHEMA)


def _merge_snapshot(target_dir: str) -> tuple[int, str | None]:
    """Resolve the merge target's current (version, snapshot-dir) from the
    ``_LATEST`` pointer file; (0, None) for an empty/new target."""
    import os

    ptr = os.path.join(target_dir, "_LATEST")
    if os.path.exists(ptr):
        with open(ptr, encoding="utf-8") as f:
            snap = f.read().strip()
        return int(snap.rsplit("-", 1)[1]), snap
    return 0, None


def merge_read(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the merge sink's current state (the snapshot ``_LATEST`` points
    at). Readers never see a mid-write state: the pointer only ever names
    a fully-written snapshot."""
    import os

    _, snap = _merge_snapshot(target_dir)
    if snap is None:
        raise FileNotFoundError(f"no _LATEST pointer under {target_dir}")
    return spark.read.parquet(os.path.join(target_dir, snap))


def run_foreach_batch_merge(
    updates_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key: str,
    ts: str,
) -> None:
    """Streaming MERGE sink: each micro-batch upserts into a parquet
    target via operators/merge.merge_upsert (anti-join + union — the
    lakehouse-less MERGE). Whole-row MERGE is naturally idempotent: a
    replayed batch (restart between target write and checkpoint commit)
    re-merges to the identical target, so checkpointed offsets + an
    idempotent merge give effective exactly-once without a transactional
    table format — PROVIDED the target swap itself is atomic. A plain
    ``mode("overwrite")`` of the target is not: a crash mid-overwrite
    leaves a truncated base that a replayed batch would merge against,
    permanently losing earlier batches' rows. So the target is a
    SNAPSHOT STORE: each batch writes a fresh ``snap-N`` directory and
    then atomically repoints the ``_LATEST`` file (``os.replace``);
    readers (:func:`merge_read`) and the next batch's base read always
    resolve the pointer, which only ever names a complete snapshot. The
    previous snapshot is retained (crash insurance), older ones pruned.
    At scale the target would be Delta/Iceberg MERGE INTO — whose commit
    protocol is exactly this pointer swap, done by the table format."""
    import os
    import shutil

    from ..operators.merge import merge_upsert

    def apply_merge(batch_df: DataFrame, _epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ver, snap = _merge_snapshot(target_dir)
        if snap is not None:
            base = spark.read.parquet(os.path.join(target_dir, snap))
        else:
            base = batch_df.limit(0)
        merged = merge_upsert(base, batch_df, key, ts).localCheckpoint()
        new_snap = f"snap-{ver + 1:06d}"
        merged.write.mode("overwrite").parquet(
            os.path.join(target_dir, new_snap)
        )
        tmp = os.path.join(target_dir, "_LATEST.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(new_snap)
        os.replace(tmp, os.path.join(target_dir, "_LATEST"))
        for d in os.listdir(target_dir):
            if d.startswith("snap-") and d not in (new_snap, snap):
                shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)

    q = (
        updates_stream.writeStream.outputMode("append")
        .foreachBatch(apply_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
