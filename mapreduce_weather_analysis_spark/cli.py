"""CLI entry points mirroring the reference's two job mains (SURVEY.md §3).

    python -m mapreduce_weather_analysis_spark job1 <weather_csv> <location_csv> <out>
    python -m mapreduce_weather_analysis_spark job2 <weather_csv> <location_csv> <job1_out> <job2_out>
    python -m mapreduce_weather_analysis_spark ingest <weather_csv> <location_csv> <out_dir>

* ``job1`` = Q-CITY-MONTH (Job1.java:126-148): formatted ``%.3f`` text out
  (``q_city_month_formatted``).
* ``job2`` = Q-MAX-MONTH (Job2.java:80-106): one ``month,total`` line where
  total is the raw double string (``q_max_month_line``). Quirk Q6
  preserved: four args accepted, only <weather_csv> and <job2_out> used.
* ``ingest`` = the engine-canonical upgrade: typed, month-partitioned
  parquet (``q_weather_by_month``), with the location table written
  concurrently on a background thread.

Each plan is one SQL statement over the CSV reader DataFrames
(plans/weather.py), so a job's driver-side build is a few py4j calls.
"""

from __future__ import annotations

import sys


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print(__doc__)
        return 2
    cmd, args = argv[0], argv[1:]

    from .plans.weather import q_city_month_formatted, q_max_month_line
    from .session import get_spark
    from .sources.sinks import ingest_weather_to_parquet
    from .sources.weather_csv import read_location_csv, read_weather_csv

    spark = get_spark(app_name=f"mwa-spark-{cmd}")

    if cmd == "job1":
        weather_csv, location_csv, out = args
        lines = q_city_month_formatted(
            read_weather_csv(spark, weather_csv), read_location_csv(spark, location_csv)
        )
        lines.write.mode("overwrite").text(out)
        return 0
    if cmd == "job2":
        weather_csv, _location_csv, _job1_out, out = args  # Q6: middle two unused
        line = q_max_month_line(read_weather_csv(spark, weather_csv))
        line.coalesce(1).write.mode("overwrite").text(out)
        return 0
    if cmd == "ingest":
        weather_csv, location_csv, out_dir = args
        ingest_weather_to_parquet(spark, weather_csv, location_csv, out_dir)
        return 0
    print(f"unknown command: {cmd}", file=sys.stderr)
    return 2
