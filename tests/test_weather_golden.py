"""Reference-semantics golden tests (SURVEY.md §5.2 item 3).

Tiny weather/location CSVs with hand-computed expected outputs for
Q-CITY-MONTH and Q-MAX-MONTH, exercising the semantics-critical quirks:
Q1 (divergent null handling between the two jobs), Q4 (inner-join drops both
ways), Q5 (argmax tie → earliest month).
"""

from __future__ import annotations

import math
import os

import pytest

from mapreduce_weather_analysis_spark.plans.weather import (
    q_city_month,
    q_city_month_formatted,
    q_max_month,
)
from mapreduce_weather_analysis_spark.session import FILES_OPEN_COST_BYTES
from mapreduce_weather_analysis_spark.sources.weather_csv import (
    read_location_csv,
    read_weather_csv,
    split_unioned_feed,
)

LOCATION_HEADER = (
    "location_id,latitude,longitude,elevation,utc_offset_seconds,"
    "timezone,timezone_abbreviation,city_name"
)
WEATHER_HEADER = "location_id,date," + ",".join(
    f"m{i}" for i in range(2, 5)
) + ",temperature_2m_mean," + ",".join(f"m{i}" for i in range(6, 13)) + ",precipitation_hours"


def _weather_line(loc, date, temp, precip):
    filler = ["0"] * 3, ["0"] * 7
    return ",".join([str(loc), date, *filler[0], temp, *filler[1], precip])


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("weather_fixture")
    loc = d / "location.csv"
    loc.write_text(
        "\n".join(
            [
                LOCATION_HEADER,
                "0,6.9,79.8,4,19800,Asia/Colombo,530,Colombo",
                "1,7.3,80.6,500,19800,Asia/Colombo,530,Kandy[1]",
                "2,6.0,80.2,10,19800,Asia/Colombo,530,Galle",  # no weather (Q4)
            ]
        )
        + "\n"
    )
    wx = d / "weather.csv"
    wx.write_text(
        "\n".join(
            [
                WEATHER_HEADER,
                _weather_line(0, "1/5/2023", "30.0", "2.0"),
                _weather_line(0, "1/15/2023", "", "4.0"),  # temp null → 0 in AVG (Q1)
                _weather_line(0, "2/1/2023", "20.0", ""),  # precip: 0 in Job1, dropped in Job2 (Q1)
                _weather_line(1, "1/5/2023", "25.0", "6.0"),
                _weather_line(1, "2/10/2023", "27.0", "6.0"),
                _weather_line(9, "1/5/2023", "99.0", "99.0"),  # unknown loc (Q4) — Job2 still counts it
            ]
        )
        + "\n"
    )
    return str(wx), str(loc)


def test_q_city_month_golden(spark, fixture_paths):
    wx_path, loc_path = fixture_paths
    wx = read_weather_csv(spark, wx_path)
    loc = read_location_csv(spark, loc_path)
    rows = {
        (r.city_name, r.year_month): (
            r.total_precipitation_hours,
            r.avg_temperature,
        )
        for r in q_city_month(wx, loc).collect()
    }
    assert rows == {
        ("Colombo", "2023-01"): (6.0, 15.0),  # avg = (30 + 0)/2 — null counted (Q1)
        ("Colombo", "2023-02"): (0.0, 20.0),  # precip null → 0.0 in Job1 (Q1)
        ("Kandy[1]", "2023-01"): (6.0, 25.0),
        ("Kandy[1]", "2023-02"): (6.0, 27.0),
        # Galle (no weather) and loc 9 (no city) dropped — inner join (Q4)
    }


def test_q_city_month_formatted_golden(spark, fixture_paths):
    wx_path, loc_path = fixture_paths
    wx = read_weather_csv(spark, wx_path)
    loc = read_location_csv(spark, loc_path)
    lines = {r.line for r in q_city_month_formatted(wx, loc).collect()}
    assert "Colombo,2023-01\t6.000,15.000" in lines
    assert "Colombo,2023-02\t0.000,20.000" in lines


def test_q_max_month_golden(spark, fixture_paths):
    wx_path, _ = fixture_paths
    wx = read_weather_csv(spark, wx_path)
    [row] = q_max_month(wx).collect()
    # Job2 reads weather only: unknown loc 9 counts (99.0); empty precip dropped.
    assert (row.year_month, row.total_precipitation_hours) == ("2023-01", 111.0)


def test_q_max_month_tie_break(spark, tmp_path):
    """Quirk Q5: strict > over ascending keys ⇒ earliest month wins a tie."""
    p = tmp_path / "tie.csv"
    p.write_text(
        "\n".join(
            [
                WEATHER_HEADER,
                _weather_line(0, "3/1/2023", "20.0", "5.0"),
                _weather_line(0, "1/1/2023", "20.0", "5.0"),
            ]
        )
        + "\n"
    )
    wx = read_weather_csv(spark, str(p))
    [row] = q_max_month(wx).collect()
    assert row.year_month == "2023-01"


def test_split_unioned_feed(spark, fixture_paths):
    """O4 arity dispatch (Job1.java:33,40) for heterogeneous single feeds."""
    wx_path, loc_path = fixture_paths
    lines = spark.read.text([wx_path, loc_path])
    loc, wx = split_unioned_feed(lines)
    assert loc.count() == 4  # 3 cities + location header (8 cols each)
    assert wx.count() == 7  # 6 weather rows + weather header


def test_multi_split_weather_csv_is_exact(spark, tmp_path):
    """A weather CSV scanned as several splits reads every row once.

    The golden fixture above is one split. This ~2.5 MB CSV is larger than
    the session's 1 MiB split floor, so on two or more cores it scans as
    several tasks: the header must be dropped exactly once and no row lost
    or doubled at a split boundary, and Job1/Job2 must still equal the
    DuckDB reference.
    """
    from perfbench.datagen import weather_csvs
    from perfbench.workloads import WeatherOracle

    gen = weather_csvs(str(tmp_path), seed=17, mult=2, days=1096)
    assert spark.conf.get("spark.sql.files.openCostInBytes") == str(
        FILES_OPEN_COST_BYTES
    )
    # Spark's FilePartition.maxSplitBytes; one file splits into
    # ceil(bytes / maxSplitBytes) partitions.
    cores = spark.sparkContext.defaultParallelism
    size = os.path.getsize(gen["weather_csv"])
    max_split = min(
        128 * 1024 * 1024,
        max(FILES_OPEN_COST_BYTES, (size + FILES_OPEN_COST_BYTES) // cores),
    )
    wx = read_weather_csv(spark, gen["weather_csv"])
    parts = wx.rdd.getNumPartitions()
    assert parts == math.ceil(size / max_split)
    if cores >= 2:
        assert parts > 1

    assert wx.count() == gen["weather_rows"]
    oracle = WeatherOracle(gen["weather_csv"], gen["location_csv"])
    loc = read_location_csv(spark, gen["location_csv"])
    lines = sorted(r.line for r in q_city_month_formatted(wx, loc).collect())
    assert lines == oracle.job1_lines
    [row] = q_max_month(wx).collect()
    assert row.year_month == oracle.job2_month
