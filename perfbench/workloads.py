"""Frozen op lists and output checks for each benchmark workload.

An op is one user-visible unit of work: a ``cli`` job for the weather
workload, or one registered query materialized through the ``noop`` sink
for the registry workload. ``run`` is the timed part; ``check`` does the
op's work once and verifies its output against an independent DuckDB
computation, and is never timed.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

import duckdb

# Paper workload: Job1 (join + per (city, month) aggregate + formatted text
# write), Job2 (global arg-max month) and the CSV -> month-partitioned
# parquet ingest, on one seeded weather CSV of 27 x 4 locations over 3
# years (see run.WEATHER_MULT).
WEATHER_OPS = ("job1", "job2", "ingest")

# Registry workload: light registered queries whose wall is dominated by
# per-query fixed cost (plan construction over py4j, Catalyst planning,
# job scheduling; q_epoch_plan is the most py4j-heavy builder), the GEMM
# top-k Arrow kernel, and two availableNow stream drains (the MinHash
# ledger is state-store-commit bound), at the sf0.01 table shape. Each
# has a DuckDB oracle. The op count is odd, so the pooled median falls
# inside the samples of the middle op rather than averaging the edges of
# two clusters that sit apart. Two ops run faster than the GEMM kernel
# and two slower, so the median falls on the kernel, not on
# q_epoch_plan, whose py4j round trips swing most with the host's load;
# the 90th percentile falls on the drains.
QUERY_TAIL_OPS = (
    "q_dedup_exact",
    "q_epoch_plan",
    "q_ann_gemm_topk",
    "q_stream_skew_profile",
    "q_stream_minhash_ledger",
)


@dataclass
class Op:
    name: str
    run: Callable[[], None]
    check: Callable[[], None]


def _part_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    for path in sorted(glob.glob(f"{out_dir}/part-*.txt")):
        with open(path) as f:
            lines.extend(line.rstrip("\n") for line in f)
    return lines


class WeatherOracle:
    """Reference semantics recomputed by DuckDB straight from the CSVs.

    The SQL is the logic of ``scripts/verify_weather_cli.py``: inner join,
    null -> 0 counted in AVG for Job1, Java ``%.3f`` HALF_UP emulated as
    varchar -> DECIMAL(28,3) -> varchar, and for Job2 unparseable
    precipitation dropped with the earliest month winning ties.
    """

    def __init__(self, weather_csv: str, location_csv: str):
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        con.execute(
            f"""
            CREATE VIEW w AS SELECT * FROM read_csv('{weather_csv}', header=true,
              all_varchar=true);
            CREATE VIEW l AS SELECT * FROM read_csv('{location_csv}', header=true,
              all_varchar=true);
            """
        )
        self.job1_lines = sorted(
            r[0]
            for r in con.execute(
                """
            WITH wx AS (
              SELECT location_id,
                     strftime(strptime(date, '%m/%d/%Y'), '%Y-%m') AS ym,
                     COALESCE(TRY_CAST(temperature_2m_mean AS DOUBLE), 0.0) AS temp,
                     COALESCE(TRY_CAST(precipitation_hours AS DOUBLE), 0.0) AS precip
              FROM w WHERE location_id IS NOT NULL AND date IS NOT NULL AND date <> ''
            ), agg AS (
              SELECT l.city_name, wx.ym,
                     SUM(precip) AS total, AVG(temp) AS avg_t
              FROM wx JOIN l ON wx.location_id = l.location_id
              GROUP BY 1, 2
            )
            SELECT city_name || ',' || ym || chr(9)
                   || CAST(CAST(CAST(total AS VARCHAR) AS DECIMAL(28,3)) AS VARCHAR)
                   || ','
                   || CAST(CAST(CAST(avg_t AS VARCHAR) AS DECIMAL(28,3)) AS VARCHAR)
            FROM agg
            """
            ).fetchall()
        )
        self.job2_month, self.job2_total = con.execute(
            """
            WITH wx AS (
              SELECT strftime(strptime(date, '%m/%d/%Y'), '%Y-%m') AS ym,
                     TRY_CAST(precipitation_hours AS DOUBLE) AS precip
              FROM w WHERE date IS NOT NULL AND date <> ''
            )
            SELECT ym, SUM(precip) AS total FROM wx WHERE precip IS NOT NULL
            GROUP BY 1 ORDER BY total DESC, ym ASC LIMIT 1
            """
        ).fetchone()
        # ingest writes the typed (null -> 0.0) relation partitioned by month
        self.ingest_summary = con.execute(
            """
            SELECT count(*), count(DISTINCT strftime(strptime(date, '%m/%d/%Y'), '%Y-%m')),
                   sum(COALESCE(TRY_CAST(precipitation_hours AS DOUBLE), 0.0)::DECIMAL(38,1))
            FROM w WHERE location_id IS NOT NULL AND date IS NOT NULL AND date <> ''
            """
        ).fetchone()
        con.close()

    def check_job1(self, out_dir: str) -> None:
        got = sorted(_part_lines(out_dir))
        if got != self.job1_lines:
            diff = sorted(set(got) ^ set(self.job1_lines))[:3]
            raise AssertionError(
                f"job1: {len(got)} lines vs {len(self.job1_lines)} expected; "
                f"first differing: {diff}"
            )

    def check_job2(self, out_dir: str) -> None:
        # Month exact; the raw Double.toString total within 1e-9 relative
        # (its last digits depend on summation order).
        got = _part_lines(out_dir)
        if len(got) != 1:
            raise AssertionError(f"job2: {len(got)} lines, expected 1")
        month, total = got[0].split(",")
        if month != self.job2_month or abs(float(total) - self.job2_total) > (
            1e-9 * abs(self.job2_total)
        ):
            raise AssertionError(
                f"job2: got {got[0]!r}, expected {self.job2_month},"
                f"{self.job2_total!r}"
            )

    def check_ingest(self, out_dir: str) -> None:
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        got = con.execute(
            f"""
            SELECT count(*), count(DISTINCT year_month),
                   sum(precipitation_hours::DECIMAL(38,1))
            FROM read_parquet('{out_dir}/weather/*/*.parquet', hive_partitioning=true)
            """
        ).fetchone()
        con.close()
        if tuple(got) != tuple(self.ingest_summary):
            raise AssertionError(
                f"ingest: (rows, months, precip) {got} != {self.ingest_summary}"
            )


def weather_ops(inputs: dict, out_root: str) -> list[Op]:
    from mapreduce_weather_analysis_spark import cli

    w, loc = inputs["weather_csv"], inputs["location_csv"]
    job1_out = os.path.join(out_root, "job1")
    job2_out = os.path.join(out_root, "job2")
    ingest_out = os.path.join(out_root, "ingest")
    oracle = WeatherOracle(w, loc)

    def make(verify: Callable[[str], None], *argv: str) -> Op:
        def run() -> None:
            rc = cli.main(list(argv))
            if rc != 0:
                raise RuntimeError(f"cli {argv[0]} exited {rc}")

        def check() -> None:
            run()
            verify(argv[-1])

        return Op(argv[0], run, check)

    return [
        make(oracle.check_job1, "job1", w, loc, job1_out),
        make(oracle.check_job2, "job2", w, loc, job1_out, job2_out),
        make(oracle.check_ingest, "ingest", w, loc, ingest_out),
    ]


def clear_persisted(spark) -> None:
    # Same release bench.py does between queries: iterative operators
    # localCheckpoint and never unpersist, which would tax later ops.
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def registry_ops(spark, tables_dir: str, names: tuple[str, ...]) -> list[Op]:
    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY
    from tests.oracle_harness import compare_query

    duck = duckdb.connect()
    duck.execute("SET threads TO 1")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )

    def make(spec) -> Op:
        def run() -> None:
            spec.fn(spark, tables_dir).write.mode("overwrite").format("noop").save()

        def check() -> None:
            compare_query(spark, duck, spec, tables_dir)

        return Op(spec.name, run, check)

    return [make(REGISTRY[n]) for n in names]
