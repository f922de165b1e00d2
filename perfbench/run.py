"""Closed-loop benchmark of the engine on one local session sized to nproc.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client runs one op at a time:

1. inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
   checkout, which is also the process cwd and temp dir, so Spark's
   warehouse, local dirs and stream drain roots stay out of the tree;
2. the session is started cold, then stopped and started again
   ``SETUP_REPS`` times (``setup_s`` is the median of those starts);
3. every op runs once untimed and its output is checked against DuckDB
   (this pass also warms codegen and the Python workers), then
   ``WARM_PASSES`` more untimed passes run;
4. passes over the ops, each in an order drawn from the seed, run until
   ``--seconds`` have elapsed; each op is timed from its call to its
   completed output. ``pass_s`` is the sum of the per-op medians. A
   host-speed probe runs before every op, and every end-to-end figure is
   scaled by the run's mean probe (see ``PROBE_REF_S``).

With ``--trace 1`` the measuring time is split: the first half runs with
the wrappers of ``perfbench/layers.py`` installed but disabled and the
second with them enabled, and the per-layer metrics come from the
enabled half.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Any op that raises or fails its check makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("weather_etl", "query_tail")
SETUP_REPS = 3
# Untimed passes after the checked pass. The second and third runs of an
# op are still 10-20% slower than later ones (JIT); left in the window
# they would weigh more or less on the medians depending on how many
# passes fit, and so on the host's load.
WARM_PASSES = 2
# Host speed. With no steal at all, the same fixed probe (a pure-Python
# loop and a 16 MiB allocate-and-copy) took 36 ms on average in some runs
# and 43 ms in others, and op latencies moved with it from run to run.
# Each end-to-end timing is scaled by PROBE_REF_S / the mean probe of its
# run: seconds at the speed where the probe takes 40 ms. The mean, not the
# median: single probes fall in two clusters (the vCPU shares a physical
# core with a busy guest or not), and the mean follows their mix where
# the median would jump between them.
PROBE_ITERS = 200_000
PROBE_BYTES = 16 << 20
PROBE_REF_S = 0.040
# Weather CSV shape: 27 x 4 locations over 3 years (118k rows, 4.9 MB, 36
# months). The reference span is 74 years, but ingest writes one directory
# per month: on 4 cores 888 months took ~40 s, more than a run can hold.
# At 27 x 12 locations only 1-2 passes fit the window.
WEATHER_MULT = 4
WEATHER_DAYS = 1096


def pin_environment(work: str) -> None:
    """Size Spark to this host and keep every file it writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py defaults to 16g; stay well below host RAM
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(4096, total_kb // 1024 // 4)}m"
    # a non-UTC zone: queries must pin their own session time zone
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # ANN index directories (a cache keyed by input fingerprint) start
    # empty in every run
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # hsperfdata would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)


def warm(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def cpu_times() -> tuple[int, int]:
    """(ran, stolen) CPU time of this VM so far, in jiffies, from /proc/stat:
    time its vCPUs ran, and time they were runnable while the hypervisor
    ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """``wall`` scaled by the share of runnable CPU time the VM was given.

    On a shared host the hypervisor takes 2-35% of this VM's runnable time
    (steal), and a run's walls move with it by up to 2x; scaling each op by
    ran / (ran + stolen) over its own interval removes that. With no steal
    the value is the wall itself."""
    ran, stolen = c1[0] - c0[0], c1[1] - c0[1]
    return wall * ran / (ran + stolen) if ran + stolen else wall


def probe() -> float:
    """Wall of a fixed pure-Python loop and a fresh allocate-and-copy,
    stolen time taken out: how fast this VM's cores and memory run right
    now, apart from the program."""
    c0 = cpu_times()
    t0 = time.perf_counter()
    x = 0
    for i in range(PROBE_ITERS):
        x += i * i
    bytes(bytearray(PROBE_BYTES))
    return unstolen(time.perf_counter() - t0, c0, cpu_times())


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def measure(spark, ops, rng, seconds, clear, tracer=None):
    """Run whole passes, each in a seeded order, until ``seconds`` have
    elapsed (at least one). Return per-op walls, the same with stolen CPU
    time taken out (see :func:`unstolen`), a :func:`probe` sample taken
    before each op, and the failure count.

    Only whole passes count, so every op has as many samples as the others
    and the pooled percentiles always fall on the same ops."""
    walls: dict[str, list[float]] = {op.name: [] for op in ops}
    lat: dict[str, list[float]] = {op.name: [] for op in ops}
    probes: list[float] = []
    failed = 0
    deadline = time.perf_counter() + seconds
    while True:
        order = list(ops)
        rng.shuffle(order)
        for op in order:
            probes.append(probe())
            if tracer is not None:
                tracer.begin_op(op.name)
            c0 = cpu_times()
            t0 = time.perf_counter()
            try:
                op.run()
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            c1 = cpu_times()
            if tracer is not None:
                tracer.end_op(dt)
            clear(spark)
            walls[op.name].append(dt)
            lat[op.name].append(unstolen(dt, c0, c1))
        if time.perf_counter() >= deadline:
            return walls, lat, probes, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    try:
        return run(args, work, base)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """Stop any live session and wait for the gateway JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, work: str, base: str) -> int:
    pin_environment(work)
    import datagen
    import workloads

    tracer = None
    if args.trace:
        import layers as layer_trace

        # before any plan module binds the functions it imports by name
        tracer = layer_trace.Tracer()
        tracer.install()
    from mapreduce_weather_analysis_spark.plans.registry import _import_plans
    from mapreduce_weather_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    if args.workload == "weather_etl":
        inputs = datagen.weather_csvs(
            os.path.join(work, "input"), args.seed, WEATHER_MULT, WEATHER_DAYS
        )
    else:
        inputs = {
            "tables": datagen.registry_tables(
                os.path.join(work, "tables"), args.seed
            )
        }
    gen_s = time.perf_counter() - t0
    _import_plans()

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    warm(spark)
    cold = {
        "cold_start_s": time.perf_counter() - T_PROCESS,
        "start_s": t1 - t0,
        "warmup_s": time.perf_counter() - t1,
    }
    setups = []
    for _ in range(SETUP_REPS):
        spark.stop()
        c0 = cpu_times()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        warm(spark)
        setups.append(unstolen(time.perf_counter() - t0, c0, cpu_times()))

    if args.workload == "weather_etl":
        ops = workloads.weather_ops(inputs, os.path.join(work, "out"))
    else:
        ops = workloads.registry_ops(
            spark, os.path.join(work, "tables"), workloads.QUERY_TAIL_OPS
        )
    if tracer is not None:
        tracer.attach(spark)

    # untimed checked pass: correctness once per op, and warm-up
    attempted, failed = 0, 0
    check_s = {}
    for op in ops:
        attempted += 1
        t0 = time.perf_counter()
        try:
            op.check()
        except Exception:
            failed += 1
            print(f"CHECK FAILED {op.name}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        workloads.clear_persisted(spark)
        check_s[op.name] = round(time.perf_counter() - t0, 3)

    rng = random.Random(args.seed)
    for _ in range(WARM_PASSES):
        warm_walls, _, _, f = measure(
            spark, ops, rng, 0, workloads.clear_persisted
        )
        failed += f
        attempted += sum(len(v) for v in warm_walls.values())
    if tracer is None:
        walls, lat, probes, f = measure(
            spark, ops, rng, args.seconds, workloads.clear_persisted
        )
    else:
        _, lat0, _, f0 = measure(
            spark, ops, rng, args.seconds / 2, workloads.clear_persisted
        )
        tracer.enable()
        walls, lat, probes, f = measure(
            spark, ops, rng, args.seconds / 2, workloads.clear_persisted,
            tracer=tracer,
        )
        tracer.disable()
        f += f0
        attempted += sum(len(v) for v in lat0.values())
    failed += f
    attempted += sum(len(v) for v in lat.values())
    pooled = [x for v in lat.values() for x in v]
    speed = PROBE_REF_S / statistics.mean(probes)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "inputs": inputs,
        "input_gen_s": round(gen_s, 3),
        "setup_samples_s": [round(x, 4) for x in setups],
        "cold": {k: round(v, 3) for k, v in cold.items()},
        "passes": len(pooled) // len(ops),
        "op_samples": len(pooled),
        "op_p90_samples_beyond": len(pooled) - math.ceil(0.9 * len(pooled)),
        "checked_pass_s": check_s,
        "op_walls_s": {k: [round(x, 4) for x in v] for k, v in walls.items()},
        "op_latencies_s": {k: [round(x, 4) for x in v] for k, v in lat.items()},
        "probe_s": [round(x, 4) for x in probes],
        "speed": round(speed, 4),
    }
    if tracer is None:
        metrics = {
            "setup_s": (statistics.median(setups) * speed, "s"),
            "pass_s": (
                sum(statistics.median(v) for v in lat.values()) * speed, "s"
            ),
            "op_p50_s": (statistics.median(pooled) * speed, "s"),
            "op_p90_s": (percentile(pooled, 0.9) * speed, "s"),
        }
    else:
        metrics = tracer.metrics(spark, lat, lat0, cold)
        os.makedirs(base, exist_ok=True)
        tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    detail["process_s"] = round(time.perf_counter() - T_PROCESS, 3)
    print(json.dumps(detail))
    correct = failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
