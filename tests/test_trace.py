"""The two consumers of perfbench's layer tracer: the per-query profiler
``scripts/trace_queries.py`` and the stream drain split of ``bench.py``'s
gated draws."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO_ROOT, SMOKE_SF


def test_trace_queries_records_layers_and_plans(tmp_path):
    """One batch and one stateful stream query through the profiler: each
    record's layer self times reconcile with its traced wall, the stream
    reports its drain and state store, and both queries get their plans.
    Run as a subprocess: the tracer patches ``DataFrame`` process-wide."""
    out = tmp_path / "t.json"
    plans = tmp_path / "plans"
    names = ["q_topk_global", "q_stream_minhash_ledger"]
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO_ROOT / "scripts" / "trace_queries.py"),
            "--sf", SMOKE_SF,
            "--reps", "1",
            "--plans", str(plans),
            "--out", str(out),
            *names,
        ],
        cwd=tmp_path,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "2g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    recs = json.loads(out.read_text())["queries"]
    assert sorted(recs) == sorted(names)
    for name, rec in recs.items():
        assert rec["layers"]["trace.max_residual_share"] <= 0.05, name
        assert (plans / f"{name}.formatted.txt").read_text().strip(), name
    stream = recs["q_stream_minhash_ledger"]
    assert stream["layers"]["streaming.drain_s"] > 0
    assert stream["layers"]["streaming.batches"] >= 1
    assert stream["layers"]["streaming.state_partitions"] > 0
    assert stream["duration_ms"]["addBatch"] > 0
    assert "StateStore" in (plans / "q_stream_minhash_ledger.microbatch.txt").read_text()
    assert recs["q_topk_global"]["layers"]["streaming.drain_s"] == 0
    assert not (plans / "q_topk_global.microbatch.txt").exists()


def test_bench_stream_split_comes_from_drain_spans(spark, monkeypatch):
    """bench.py's gate semantics: a stream query's best draw splits its
    wall into setup + drain, and a batch query records no split."""
    from pyspark.sql.streaming import StreamingQuery

    import bench
    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY

    monkeypatch.setattr(bench, "SF_DIR", SMOKE_SF)
    monkeypatch.setattr(bench, "STREAM_SPLIT", {})
    # restored at teardown, after _trace_drains wraps it
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", StreamingQuery.awaitTermination
    )
    bench._trace_drains()

    name = "q_stream_skew_profile"
    wall = bench._time_best_of_2(spark, REGISTRY[name].fn, name)
    split = bench.STREAM_SPLIT[name]
    assert split["drain_s"] > 0
    assert abs(split["setup_s"] + split["drain_s"] - wall) <= 0.002
    bench._time_best_of_2(spark, REGISTRY["q_topk_global"].fn, "q_topk_global")
    assert "q_topk_global" not in bench.STREAM_SPLIT
