"""Per-query layer record of registered queries, on perfbench's tracer.

    python scripts/trace_queries.py [--sf DIR] [--reps N] [--out FILE]
                                    [--plans DIR] [q_name ...]

With no names every registered query runs, in registry order. For each
query, on one session:

1. one warm-up draw at sf0.001 (codegen and Python workers);
2. ``--reps`` untraced draws at ``--sf`` through the noop sink, as
   ``bench.py`` times them: ``best_s`` is the best wall;
3. with ``--plans DIR``, one more untraced build that writes
   ``<query>.formatted.txt`` (the formatted plan) and, when the query
   drains a stream, ``<query>.microbatch.txt`` (``explainInternal`` of
   each drain's last micro-batch), so explain time never enters a record;
4. one draw traced by ``perfbench/layers.py``: ``layers`` holds the 44
   figures of ``Tracer.metrics`` for that draw (build time and py4j
   calls, plan-time jobs, Catalyst phases, jobs/stages/tasks and shuffle
   bytes, operator self time, stream drain, batches and state-store
   figures, ``trace.max_residual_share``), and ``duration_ms`` the summed
   ``durationMs`` buckets of the draw's stream progress events.

``--out`` is rewritten after every query: ``{"sf", "reps", "session",
"queries": {name: record}}``. A query that raises gets ``{"error": ...}``
and makes the exit code 1. The tracer patches pyspark's ``DataFrame``
and the package's functions for the life of the process, so run this as
its own process.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.layers import Tracer  # noqa: E402

WARM_SF = "/root/testdata/sf0.001"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default="trace_queries.json")
    ap.add_argument("--plans", default=None, metavar="DIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    # before any plan module binds the functions it imports by name
    tracer = Tracer()
    tracer.install()
    from pyspark.sql.streaming import StreamingQuery

    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY
    from mapreduce_weather_analysis_spark.session import get_spark
    from perfbench.workloads import clear_persisted

    names = args.queries or list(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    plan_dir = Path(args.plans) if args.plans else None
    if plan_dir is not None:
        plan_dir.mkdir(parents=True, exist_ok=True)

    # micro-batch plans, collected only while a plan build sets the list
    micro: list[str] | None = None
    traced_await = StreamingQuery.awaitTermination

    def await_and_explain(self, *a, **kw):
        out = traced_await(self, *a, **kw)
        if micro is not None:
            micro.append(self._jsq.explainInternal(True))
        return out

    StreamingQuery.awaitTermination = await_and_explain

    t0 = time.perf_counter()
    spark = get_spark(app_name="trace-queries")
    t1 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cold = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
    tracer.attach(spark)

    def draw(fn, sf: str) -> float:
        start = time.perf_counter()
        fn(spark, sf).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - start
        clear_persisted(spark)
        return wall

    def trace_one(name: str) -> dict:
        nonlocal micro
        fn = REGISTRY[name].fn
        draw(fn, WARM_SF)
        walls = [draw(fn, args.sf) for _ in range(args.reps)]
        rec: dict = {"best_s": min(walls), "walls_s": walls}
        if plan_dir is not None:
            micro = []
            try:
                df = fn(spark, args.sf)
                plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            finally:
                plans, micro = micro, None
            clear_persisted(spark)
            files = {"formatted": plan}
            if plans:
                files["microbatch"] = "\n\n---- next drain ----\n\n".join(plans)
            rec["plans"] = []
            for kind, text in files.items():
                path = plan_dir / f"{name}.{kind}.txt"
                path.write_text(text)
                rec["plans"].append(str(path))
        tracer.ops, tracer.spans, tracer.qe_events, tracer.progress = [], [], [], []
        tracer.enable()
        tracer.begin_op(name)
        start = time.perf_counter()
        try:
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
        finally:
            wall = time.perf_counter() - start
            tracer.end_op(wall)
            tracer.disable()
            clear_persisted(spark)
        rec["traced_s"] = wall
        metrics = tracer.metrics(spark, {name: [wall]}, {name: [rec["best_s"]]}, cold)
        rec["layers"] = {k: v for k, (v, _unit) in metrics.items()}
        duration_ms: dict[str, int] = {}
        for _op, prog in tracer.progress:
            for k, v in prog.durationMs.items():
                duration_ms[k] = duration_ms.get(k, 0) + v
        rec["duration_ms"] = duration_ms
        return rec

    out = {"sf": args.sf, "reps": args.reps, "session": cold, "queries": {}}
    failed = 0
    for name in names:
        try:
            rec = trace_one(name)
            lay = rec["layers"]
            print(
                f"{name}: best {rec['best_s']:.3f}s traced {rec['traced_s']:.3f}s "
                f"build {lay['plans.build_s']:.3f}s drain {lay['streaming.drain_s']:.3f}s "
                f"jobs {lay['spark_exec.jobs']:.0f} py4j {lay['py4j_calls']:.0f} "
                f"residual {lay['trace.max_residual_share']:.4f}",
                flush=True,
            )
        except Exception as exc:
            failed += 1
            tracer.disable()
            tracer.stack.clear()
            traceback.print_exc(file=sys.stderr)
            rec = {"error": repr(exc)}
            print(f"{name}: FAILED {exc!r}", flush=True)
        out["queries"][name] = rec
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {args.out}: {len(names) - failed} traced, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
