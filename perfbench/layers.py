"""Per-layer tracing for ``run.py --trace 1``, entirely from outside the
package: wrappers around the public functions each layer exposes, a
py4j send counter, a ``QueryExecutionListener`` for Catalyst phase times,
a ``StreamingQueryListener`` for state-store figures, and the app status
store for jobs, stages and task metrics.

Layers, named after the package's modules:

* ``plans``      registry query functions and ``plans.weather`` builders
* ``sources``    ``sources.*`` readers, the relation loader and the sinks
* ``operators``  public functions of every ``operators.*`` module
* ``streaming``  ``streaming.events_stream`` plus stream start and drain
* ``spark_exec`` DataFrame / writer actions (Spark jobs run inside them)
* ``spark_plan`` Catalyst analysis, optimization and physical planning,
                 taken out of the ``spark_exec`` spans they happen in
* ``session``    session start and warm-up (measured by ``run.py``)
* ``op``         the benchmark's own call around an op (the ``.write``
                 builder calls of the noop sink); reported with ``plans``

Spans are kept in memory (name, layer, start, end, parent, op id) and
written out by :meth:`Tracer.dump`. A span's self time is its duration
minus its children's, so each op's layer self times sum to its wall.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import time
from dataclasses import replace

from py4j.protocol import Py4JJavaError

PKG = "mapreduce_weather_analysis_spark"
LAYERS = ("plans", "sources", "operators", "streaming", "spark_plan", "spark_exec", "op")

_DF_ACTIONS = (
    "collect", "count", "toPandas", "take", "first", "head", "show",
    "localCheckpoint", "checkpoint", "toLocalIterator", "foreach",
    "foreachPartition",
)
_WRITER_ACTIONS = ("save", "parquet", "text", "csv", "json", "saveAsTable", "insertInto")
_RDD_ACTIONS = ("collect", "count", "take", "first", "reduce", "fold", "sum")


def _public_functions(mod):
    for name, obj in list(vars(mod).items()):
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
        ):
            yield name, obj


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = -1
        self.ops: list[dict] = []
        self.qe_events: list[tuple] = []
        self.progress: list = []
        self.written_paths: list[str] = []
        self.handles: dict = {}
        self.last_job = -1
        self.spark = None

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, layer: str) -> int:
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "start": time.perf_counter(),
                "epoch_ms": time.time() * 1000.0,
                "end": None,
                "parent": self.stack[-1] if self.stack else None,
                "op": self.op_id,
                "py4j": 0,
            }
        )
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self.stack.pop()

    def wrap(self, fn, name: str, layer: str, on_call=None):
        """Wrap ``fn`` in a span. ``on_call(idx, args, kwargs, result)`` runs
        after every call, with ``idx`` None while tracing is off."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                out = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(None, args, kwargs, out)
                return out
            idx = tracer._open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if on_call is not None:
                on_call(idx, args, kwargs, out)
            return out

        return wrapper

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        """Wrap the layer functions, then import the plan modules so the
        names they bind with ``from ... import`` are the wrappers."""
        from pyspark import RDD
        from pyspark.sql import DataFrame, DataFrameWriter
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

        src = importlib.import_module(f"{PKG}.sources")
        for info in pkgutil.iter_modules(src.__path__):
            mod = importlib.import_module(f"{PKG}.sources.{info.name}")
            for name, fn in _public_functions(mod):
                if name == "load_table":
                    span, hook = "sources.load_table", self._on_load_table
                elif name.startswith("read_") and name.endswith("_csv"):
                    span, hook = "sources.csv_read", None
                elif info.name == "sinks":
                    span, hook = "sources.write", None
                else:
                    span, hook = f"sources.{name}", None
                setattr(mod, name, self.wrap(fn, span, "sources", hook))
        ops = importlib.import_module(f"{PKG}.operators")
        for info in pkgutil.iter_modules(ops.__path__):
            mod = importlib.import_module(f"{PKG}.operators.{info.name}")
            for name, fn in _public_functions(mod):
                setattr(mod, name, self.wrap(fn, f"operators.{info.name}.{name}", "operators"))
        es = importlib.import_module(f"{PKG}.streaming.events_stream")
        for name, fn in _public_functions(es):
            setattr(es, name, self.wrap(fn, f"streaming.{name}", "streaming"))
        weather = importlib.import_module(f"{PKG}.plans.weather")
        for name, fn in _public_functions(weather):
            setattr(weather, name, self.wrap(fn, "plans.build", "plans"))

        for name in _DF_ACTIONS:
            setattr(DataFrame, name, self.wrap(getattr(DataFrame, name), f"spark.{name}", "spark_exec"))
        for name in _WRITER_ACTIONS:
            setattr(
                DataFrameWriter,
                name,
                self.wrap(getattr(DataFrameWriter, name), f"spark.write.{name}", "spark_exec", self._on_write),
            )
        for name in _RDD_ACTIONS:
            setattr(RDD, name, self.wrap(getattr(RDD, name), f"spark.rdd.{name}", "spark_exec"))
        DataStreamWriter.start = self.wrap(DataStreamWriter.start, "streaming.start", "streaming")
        StreamingQuery.awaitTermination = self.wrap(
            StreamingQuery.awaitTermination, "streaming.drain", "streaming"
        )

        registry = importlib.import_module(f"{PKG}.plans.registry")
        registry._import_plans()
        for name, spec in list(registry.REGISTRY.items()):
            registry.REGISTRY[name] = replace(spec, fn=self.wrap(spec.fn, "plans.build", "plans"))

    def _on_load_table(self, idx, args, kwargs, out) -> None:
        # a hit is the same lazy handle as the previous call returned
        key = (id(args[0]), args[1], args[2])
        if idx is not None:
            self.spans[idx]["hit"] = self.handles.get(key) is out
        self.handles[key] = out

    def _on_write(self, idx, args, kwargs, out) -> None:
        path = args[1] if len(args) > 1 else kwargs.get("path")
        if idx is not None and isinstance(path, str):
            self.written_paths.append(path)

    def attach(self, spark) -> None:
        """Hook the live session: py4j sends, Catalyst phases, stream progress."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        sc = spark.sparkContext
        client = sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted_send(*args, **kwargs):
            if tracer.enabled and tracer.stack:
                tracer.spans[tracer.stack[-1]]["py4j"] += 1
            return send(*args, **kwargs)

        client.send_command = counted_send
        ensure_callback_server_started(sc._gateway)

        class PhaseListener:
            def onSuccess(self, func_name, qe, duration_ns):
                if not tracer.enabled:
                    return
                phases = qe.tracker().phases()
                ms = {}
                for p in ("analysis", "optimization", "planning"):
                    opt = phases.get(p)
                    ms[p] = opt.get().durationMs() if opt.isDefined() else 0
                tracer.qe_events.append((tracer.op_id, func_name, ms))

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    tracer.progress.append((tracer.op_id, event.progress))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._phase_listener = PhaseListener()
        spark._jsparkSession.listenerManager().register(self._phase_listener)
        spark.streams.addListener(ProgressListener())

    def enable(self) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        listed = jsc.statusStore().jobsList(None)
        if listed.nonEmpty():
            self.last_job = listed.head().jobId()  # newest first
        self.enabled = True

    def disable(self) -> None:
        self.enabled = False

    # -- per-op bookkeeping (outside the timed region) ---------------------
    def begin_op(self, name: str) -> None:
        self.op_id = len(self.ops)
        self.ops.append({"name": name})
        self.written_paths = []
        self._root = self._open(f"op.{name}", "op")

    def end_op(self, wall: float) -> None:
        self._close(self._root)
        rec = self.ops[self.op_id]
        rec["wall"] = wall
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        rec["jobs"] = self._new_jobs()
        files, nbytes = 0, 0
        for path in self.written_paths:
            for dirpath, _, names in os.walk(path):
                for n in names:
                    if not n.startswith((".", "_")):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, n))
        rec["files_written"], rec["bytes_written"] = files, nbytes

    def _new_jobs(self) -> list[dict]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = []
        # job ids are sequential; the status tracker's group listing would
        # miss jobs run under a group, such as a stream's micro-batches
        while True:
            jid = self.last_job + 1
            try:
                j = store.job(jid)
            except Py4JJavaError:
                return jobs
            stages = {}
            for sid in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(j.stageIds()):
                try:
                    data = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # listed by the job but never submitted
                stages[sid] = {
                    "run_ms": data.executorRunTime(),
                    "cpu_ns": data.executorCpuTime(),
                    "gc_ms": data.jvmGcTime(),
                    "input_bytes": data.inputBytes(),
                    "shuffle_read_bytes": data.shuffleReadBytes(),
                    "shuffle_write_bytes": data.shuffleWriteBytes(),
                    "spill_bytes": data.memoryBytesSpilled() + data.diskBytesSpilled(),
                    "tasks": data.numTasks(),
                    "failed_tasks": data.numFailedTasks(),
                }
            sub = j.submissionTime()
            done = j.completionTime()
            jobs.append(
                {
                    "id": jid,
                    "submit_ms": sub.get().getTime() if sub.isDefined() else None,
                    "wall_s": (
                        (done.get().getTime() - sub.get().getTime()) / 1000.0
                        if sub.isDefined() and done.isDefined()
                        else 0.0
                    ),
                    "stages": stages,
                }
            )
            self.last_job = jid

    # -- aggregation -------------------------------------------------------
    def _op_layers(self, op_id: int) -> dict:
        spans = [s for s in self.spans if s["op"] == op_id and s["end"] is not None]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        by_id = {id(s): i for i, s in enumerate(self.spans)}
        out = {layer: 0.0 for layer in LAYERS}
        py4j = {layer: 0 for layer in LAYERS}
        for s in spans:
            i = by_id[id(s)]
            out[s["layer"]] += (s["end"] - s["start"]) - child.get(i, 0.0)
            py4j[s["layer"]] += s["py4j"]
        return {"self": out, "py4j": py4j, "spans": spans}

    def _in_build(self, spans: list[dict], submit_ms: float) -> bool:
        """True when a job was submitted inside a plans.build span."""
        for s in spans:
            if s["name"] == "plans.build":
                start = s["epoch_ms"]
                end = start + (s["end"] - s["start"]) * 1000.0
                if start <= submit_ms <= end:
                    return True
        return False

    def metrics(self, spark, traced: dict, untraced: dict, cold: dict) -> dict:
        """Per-layer metrics; ``traced`` and ``untraced`` map op name to
        its latencies in the two halves of the window."""
        # totals over the traced ops, scaled to one pass of the op list
        pass_size = len({rec["name"] for rec in self.ops})
        n_passes = len(self.ops) / pass_size
        totals: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            totals[key] = totals.get(key, 0.0) + v

        residual = 0.0
        hits = calls = 0
        seen_stages: set[int] = set()
        for op_id, rec in enumerate(self.ops):
            lay = self._op_layers(op_id)
            self_t = lay["self"]
            phases = {"analysis": 0, "optimization": 0, "planning": 0}
            for oid, _func, ms in self.qe_events:
                if oid == op_id:
                    for k in phases:
                        phases[k] += ms[k]
            plan_s = sum(phases.values()) / 1000.0
            carved = min(plan_s, self_t["spark_exec"])
            self_t["spark_exec"] -= carved
            self_t["spark_plan"] += carved
            add("spark_plan.analyze_s", phases["analysis"] / 1000.0)
            add("spark_plan.optimize_s", phases["optimization"] / 1000.0)
            add("spark_plan.physical_s", phases["planning"] / 1000.0)
            residual = max(residual, abs(sum(self_t.values()) - rec["wall"]) / rec["wall"])
            add("plans.build_s", self_t["plans"] + self_t["op"])
            add("plans.py4j_calls", lay["py4j"]["plans"] + lay["py4j"]["op"])
            add("py4j_calls", sum(lay["py4j"].values()))
            add("sources.s", self_t["sources"])
            add("operators.call_s", self_t["operators"])
            add("streaming.s", self_t["streaming"])
            add("spark_plan.s", self_t["spark_plan"])
            add("spark_exec.s", self_t["spark_exec"])
            for s in lay["spans"]:
                dur = s["end"] - s["start"]
                parent = self.spans[s["parent"]] if s["parent"] is not None else None
                if parent is not None and parent["name"] == s["name"]:
                    continue  # inclusive walls count the outermost span only
                if s["name"] == "sources.load_table":
                    calls += 1
                    hits += bool(s.get("hit"))
                    add("sources.load_table.calls", 1)
                    add("sources.load_table.s", dur)
                elif s["name"] == "sources.csv_read":
                    add("sources.csv_read.s", dur)
                elif s["name"] == "sources.write":
                    add("sources.write.s", dur)
                elif s["name"] == "streaming.drain":
                    add("streaming.drain_s", dur)
                elif s["layer"] == "operators" and (
                    parent is None or parent["layer"] != "operators"
                ):
                    add("operators.calls", 1)
            for job in rec["jobs"]:
                add("spark_exec.jobs", 1)
                if job["submit_ms"] is not None and self._in_build(lay["spans"], job["submit_ms"]):
                    add("plans.plan_jobs", 1)
                    add("plans.plan_job_s", job["wall_s"])
                for sid, st in job["stages"].items():
                    if sid in seen_stages:
                        continue  # a later job lists the stages it reused
                    seen_stages.add(sid)
                    add("spark_exec.stages", 1)
                    add("spark_exec.tasks", st["tasks"])
                    add("spark_exec.failed_tasks", st["failed_tasks"])
                    add("spark_exec.run_s", st["run_ms"] / 1000.0)
                    add("spark_exec.cpu_s", st["cpu_ns"] / 1e9)
                    add("spark_exec.gc_s", st["gc_ms"] / 1000.0)
                    add("spark_exec.input_bytes", st["input_bytes"])
                    add("spark_exec.shuffle_read_bytes", st["shuffle_read_bytes"])
                    add("spark_exec.shuffle_write_bytes", st["shuffle_write_bytes"])
                    add("spark_exec.spill_bytes", st["spill_bytes"])
            add("sources.files_written", rec["files_written"])
            add("sources.bytes_written", rec["bytes_written"])
        for _op, prog in self.progress:
            add("streaming.batches", 1)
            for so in prog.stateOperators:
                add("streaming.state_commit_ms", so.commitTimeMs)
                add("streaming.state_update_ms", so.allUpdatesTimeMs)
                add("streaming.state_rows", so.numRowsTotal)
                add("streaming.state_partitions", so.numStateStoreInstances)

        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        out = {k: v / n_passes for k, v in totals.items()}
        for name in PER_LAYER:
            out.setdefault(name, 0.0)
        # a drain span has no traced children: the rest of the streaming
        # self time is source and sink scaffolding
        out["streaming.setup_s"] = out["streaming.s"] - out["streaming.drain_s"]
        out["sources.load_table.hit_ratio"] = hits / calls if calls else 0.0
        out["session.start_s"] = cold["start_s"]
        out["session.warmup_s"] = cold["warmup_s"]
        out["session.jvm_heap_used_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        out["trace.overhead_s"] = sum(
            statistics.median(v) for v in traced.values() if v
        ) - sum(statistics.median(v) for v in untraced.values() if v)
        out["trace.max_residual_share"] = residual
        return {k: (out[k], PER_LAYER[k]) for k in PER_LAYER}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f, default=str)


# Per-layer metrics (per pass, averaged over the traced half) and units.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_heap_used_mb": "MB",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "plans.plan_jobs": "count",
    "plans.plan_job_s": "s",
    "py4j_calls": "count",
    "sources.s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.load_table.hit_ratio": "ratio",
    "sources.csv_read.s": "s",
    "sources.write.s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "operators.calls": "count",
    "operators.call_s": "s",
    "streaming.s": "s",
    "streaming.setup_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_partitions": "count",
    "spark_plan.s": "s",
    "spark_plan.analyze_s": "s",
    "spark_plan.optimize_s": "s",
    "spark_plan.physical_s": "s",
    "spark_exec.s": "s",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.tasks": "count",
    "spark_exec.failed_tasks": "count",
    "spark_exec.run_s": "s",
    "spark_exec.cpu_s": "s",
    "spark_exec.gc_s": "s",
    "spark_exec.input_bytes": "bytes",
    "spark_exec.shuffle_read_bytes": "bytes",
    "spark_exec.shuffle_write_bytes": "bytes",
    "spark_exec.spill_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.max_residual_share": "ratio",
}
