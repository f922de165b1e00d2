"""CLI entry points (reference job mains) and the applyInPandas trend
operator (cross-validated against the closed-form builtin-agg solution)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_weather_analysis_spark.cli import main
from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, _import_plans

from .conftest import SMOKE_SF
from .test_weather_golden import fixture_paths  # noqa: F401

_import_plans()


def test_cli_job1(spark, fixture_paths, tmp_path):  # noqa: F811
    wx, loc = fixture_paths
    out = str(tmp_path / "job1_out")
    assert main(["job1", wx, loc, out]) == 0
    lines = {r.value for r in spark.read.text(out).collect()}
    assert "Colombo,2023-01\t6.000,15.000" in lines


def test_cli_job2_arg_quirk_and_format(spark, fixture_paths, tmp_path):  # noqa: F811
    """Q6: job2 takes 4 args, uses only weather_csv and job2_out; output is
    one line `month,<raw double string>` (Job2.java:76)."""
    wx, loc = fixture_paths
    out = str(tmp_path / "job2_out")
    assert main(["job2", wx, "IGNORED", "IGNORED", out]) == 0
    [line] = [r.value for r in spark.read.text(out).collect()]
    assert line == "2023-01,111.0"


def test_cli_ingest_matches_duckdb(spark, fixture_paths, tmp_path):  # noqa: F811
    """`ingest` writes month-partitioned weather parquet whose rows,
    months and exact decimal precipitation sum equal DuckDB's reading of
    the CSV (the perfbench ingest oracle's SQL), plus the location table."""
    import duckdb

    wx, loc = fixture_paths
    out = str(tmp_path / "ingest_out")
    assert main(["ingest", wx, loc, out]) == 0

    con = duckdb.connect()
    expected = con.execute(
        f"""
        SELECT count(*), count(DISTINCT strftime(strptime(date, '%m/%d/%Y'), '%Y-%m')),
               sum(COALESCE(TRY_CAST(precipitation_hours AS DOUBLE), 0.0)::DECIMAL(38,1))
        FROM read_csv('{wx}', header=true, all_varchar=true)
        WHERE location_id IS NOT NULL AND date IS NOT NULL AND date <> ''
        """
    ).fetchone()
    got = con.execute(
        f"""
        SELECT count(*), count(DISTINCT year_month),
               sum(precipitation_hours::DECIMAL(38,1))
        FROM read_parquet('{out}/weather/*/*.parquet', hive_partitioning=true)
        """
    ).fetchone()
    con.close()
    assert got == expected
    assert got[:2] == (6, 2)
    assert spark.read.parquet(f"{out}/location").count() == 3


def test_cli_jobs_on_multi_split_csv_match_benchmark_oracle(spark, tmp_path):
    """The path the benchmark times: ``cli.main`` job1, job2 and ingest on
    its multi-split weather CSV, checked by its own DuckDB oracle, plus
    the location table ingest writes beside the weather table."""
    from perfbench.datagen import weather_csvs
    from perfbench.workloads import WeatherOracle

    gen = weather_csvs(str(tmp_path / "in"), seed=17, mult=2, days=1096)
    wx, loc = gen["weather_csv"], gen["location_csv"]
    oracle = WeatherOracle(wx, loc)
    job1, job2, ingest = (str(tmp_path / d) for d in ("job1", "job2", "ingest"))

    assert main(["job1", wx, loc, job1]) == 0
    oracle.check_job1(job1)
    assert main(["job2", wx, loc, job1, job2]) == 0
    oracle.check_job2(job2)
    assert main(["ingest", wx, loc, ingest]) == 0
    oracle.check_ingest(ingest)
    assert spark.read.parquet(f"{ingest}/location").count() == gen["location_rows"]


def test_cli_ingest_raises_when_location_write_fails(fixture_paths, tmp_path):  # noqa: F811
    """The location table is written on a background thread; its error
    must reach the caller instead of dying with the thread."""
    from pyspark.errors import AnalysisException

    wx, _ = fixture_paths
    missing = str(tmp_path / "no_such_location.csv")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        main(["ingest", wx, missing, str(tmp_path / "ingest_out")])


def test_cli_unknown_command():
    assert main(["frobnicate"]) == 2


def test_group_trend_matches_closed_form(spark):
    """applyInPandas OLS must equal the sufficient-statistics closed form
    computed with builtin aggregates (the scale path it documents)."""
    got = {
        r.event_type: (r.n, r.slope, r.intercept)
        for r in REGISTRY["q_group_trend_pandas"].fn(spark, SMOKE_SF).collect()
    }
    from mapreduce_weather_analysis_spark.sources.tables import load_table

    e = load_table(spark, SMOKE_SF, "events")
    base = e.select(
        "event_type", (F.unix_micros("ts")).alias("ts_us"), "value"
    ).withColumn("xc", F.col("ts_us").cast("double"))
    stats = (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("xc").alias("mx"),
            F.avg("value").alias("my"),
            F.covar_pop("xc", "value").alias("cxy"),
            F.var_pop("xc").alias("vx"),
            F.min("ts_us").alias("ts0"),
        )
        .collect()
    )
    for r in stats:
        # slope in value-per-second; intercept = fitted value at the
        # group's FIRST event time (x = ts_us - min ts_us, see plan docstring)
        slope = (r.cxy / r.vx) * 1e6
        intercept = r.my - (r.cxy / r.vx) * (r.mx - r.ts0)
        n, got_slope, got_intercept = got[r.event_type]
        assert n == r.n
        assert math.isclose(got_slope, slope, rel_tol=1e-6), (got_slope, slope)
        assert math.isclose(got_intercept, intercept, rel_tol=1e-6)


def test_group_trend_degenerate_groups_match_oracle(spark, tmp_path):
    """Groups where the OLS denominator n·Σx² − (Σx)² is 0 (single-row
    group, or all-identical timestamps) must yield NULL slope/intercept on
    BOTH engines instead of crashing the whole query (ADVICE r2)."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, 5, 6, 7], pa.int64()),
            "ts": pa.array(
                [
                    t0,  # "solo": single-row group
                    t0, t0, t0,  # "same": identical timestamps
                    t0,
                    t0 + dt.timedelta(seconds=1),
                    t0 + dt.timedelta(seconds=2),  # "ok": well-posed
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * 7, pa.int64()),
            "event_type": pa.array(
                ["solo", "same", "same", "same", "ok", "ok", "ok"]
            ),
            "value": pa.array([1.5, 2.0, 3.0, 4.0, 1.0, 2.0, 4.0]),
            "props": pa.array([None] * 7, pa.string()),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        )
        from .oracle_harness import compare_query

        compare_query(
            spark, con, REGISTRY["q_group_trend_pandas"], str(tmp_path)
        )
        got = {
            r.event_type: r
            for r in REGISTRY["q_group_trend_pandas"].fn(spark, str(tmp_path)).collect()
        }
        assert got["solo"].slope is None and got["same"].slope is None
        assert got["ok"].slope is not None
    finally:
        con.close()
