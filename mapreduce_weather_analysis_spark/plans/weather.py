"""The reference's two end-to-end queries, Spark-first (SURVEY.md §2).

These run over any DataFrames with the reference's weather/location shapes
(tests feed tiny CSVs; the fixture-table analogs live in plans/analog.py).

Physical posture vs. the reference:
* Job1's reduce-side repartition join shuffles every weather row
  (Job1.java:36,48-49); here the 27-row dimension broadcast-joins — zero
  shuffle of the fact side for the join, and the groupBy aggregation gets
  map-side partial aggregation (the reference sets no combiner).
* Job2 funnels ALL rows through one reducer (setNumReduceTasks(1),
  Job2.java:100); here the month-sum is a distributed hash agg and the
  argmax a one-row ``ORDER BY ... LIMIT 1`` over ~tens of month rows.

Each builder is one ``spark.sql`` statement over the reader DataFrames
(``sources/weather_csv.py``), passed in as ``{weather}`` / ``{location}``.
That is the same Catalyst tree the Column API builds (the optimized plans
are string-equal once expression ids are normalized), built with a
handful of py4j calls instead of one or more per expression node. The
reference's per-row rules are the SQL fragments below, each written once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# O8 month key, Job1's typed path (functions/datetime_fns.month_bucket):
# strict parse, so a malformed or out-of-range date buckets to NULL (Q2).
MONTH_BUCKET = "date_format(try_to_date(date, 'M/d/yyyy'), 'yyyy-MM')"
# O5 (Job1.java:46): drop rows with an empty date, and for Job1 an empty
# location_id too.
DATE_PRESENT = "date IS NOT NULL AND date != ''"
KEYS_PRESENT = f"location_id IS NOT NULL AND {DATE_PRESENT}"
# Job2's skip-on-parse-failure (Job2.java:38-45): filter, don't coerce.
PRECIP_PARSES = "try_cast(precipitation_hours AS DOUBLE) IS NOT NULL"
# O11 sink line: TextOutputFormat ``key<TAB>value`` with ``%.3f`` rounding
# (Job1.java:106-107,145).
O11_LINE = (
    "format_string('%s,%s\\t%.3f,%.3f', city_name, year_month, "
    "total_precipitation_hours, avg_temperature)"
)


def _zero_if_null(col: str) -> str:
    """Job1's ``parseDouble``-with-fallback (quirk Q1, Job1.java:116-123):
    ``try_cast`` mirrors the try/catch (malformed → null), ``coalesce``
    the catch-arm's ``return 0.0``. A 0.0 still counts in AVG."""
    return f"coalesce(try_cast({col} AS DOUBLE), 0.0D)"


CITY_MONTH = f"""
SELECT /*+ BROADCAST(l) */ city_name, year_month,
       sum(precip) AS total_precipitation_hours,
       avg(temp) AS avg_temperature
FROM (
  SELECT location_id, {MONTH_BUCKET} AS year_month,
         {_zero_if_null("temperature_2m_mean")} AS temp,
         {_zero_if_null("precipitation_hours")} AS precip
  FROM {{weather}}
  WHERE {KEYS_PRESENT}
) w
JOIN (SELECT location_id, city_name FROM {{location}}) l USING (location_id)
GROUP BY city_name, year_month
"""

MAX_MONTH = f"""
SELECT year_month, sum(precip) AS total_precipitation_hours
FROM (
  SELECT {MONTH_BUCKET} AS year_month,
         CAST(precipitation_hours AS DOUBLE) AS precip
  FROM {{weather}}
  WHERE {DATE_PRESENT} AND {PRECIP_PARSES}
) w
GROUP BY year_month
ORDER BY total_precipitation_hours DESC, year_month ASC
LIMIT 1
"""


def q_city_month(weather: DataFrame, location: DataFrame) -> DataFrame:
    """Q-CITY-MONTH (Job1.java end-to-end): per (city, yyyy-MM) total
    precipitation hours and mean temperature.

    Reference semantics preserved:
    * inner join on location_id (quirk Q4 — Job1.java:80 drops unmatched
      weather AND weatherless cities);
    * null/malformed numerics → 0.0 *including in the AVG count*
      (quirk Q1 — Job1.java:89-105,116-123): hence avg(coalesce(x, 0)),
      not Spark's default null-skipping avg.
    """
    return weather.sparkSession.sql(CITY_MONTH, weather=weather, location=location)


def q_city_month_formatted(weather: DataFrame, location: DataFrame) -> DataFrame:
    """O11 formatted sink rows: ``city,yyyy-MM<TAB>%.3f,%.3f``
    (TextOutputFormat layout + rounding, Job1.java:106-107,145)."""
    return weather.sparkSession.sql(
        f"SELECT {O11_LINE} AS line FROM ({CITY_MONTH}) agg",
        weather=weather,
        location=location,
    )


def q_max_month(weather: DataFrame) -> DataFrame:
    """Q-MAX-MONTH (Job2.java end-to-end): the month with the highest global
    precipitation-hour total.

    Reference semantics preserved:
    * unparseable precipitation rows are DROPPED, not zeroed (quirk Q1,
      Job2.java:38-45) — opposite of Job1;
    * rows with a present date count whatever their location_id
      (Job2 reads weather only);
    * tie-break: strict ``>`` over ascending sorted keys (Job2.java:65)
      ⇒ earliest month wins — hence the secondary ascending sort.
    """
    return weather.sparkSession.sql(MAX_MONTH, weather=weather)


def q_max_month_line(weather: DataFrame) -> DataFrame:
    """Job2's one output line ``yyyy-MM,<total>`` (column ``value``), the
    total as the raw double string (Job2.java:76 — Spark's double→string
    IS Java ``Double.toString``, so the byte format matches)."""
    return weather.sparkSession.sql(
        "SELECT concat_ws(',', year_month, "
        "CAST(total_precipitation_hours AS STRING)) AS value "
        f"FROM ({MAX_MONTH}) top",
        weather=weather,
    )


def q_weather_by_month(weather: DataFrame) -> DataFrame:
    """The typed relation ``ingest`` writes (sources/sinks.py): Job1's row
    filter and null→0.0 coercion over the four used columns, plus the
    ``year_month`` key the table is partitioned by."""
    return weather.sparkSession.sql(
        f"""
        SELECT location_id, date,
               {_zero_if_null("temperature_2m_mean")} AS temperature_2m_mean,
               {_zero_if_null("precipitation_hours")} AS precipitation_hours,
               {MONTH_BUCKET} AS year_month
        FROM {{weather}}
        WHERE {KEYS_PRESENT}
        """,
        weather=weather,
    )
