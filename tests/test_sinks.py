"""Sink round-trips: formatted text (O11), partitioned parquet ingestion
(incl. partition pruning working over the written layout)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_weather_analysis_spark.plans.weather import q_city_month_formatted
from mapreduce_weather_analysis_spark.sources.sinks import ingest_weather_to_parquet
from mapreduce_weather_analysis_spark.sources.weather_csv import (
    read_location_csv,
    read_weather_csv,
)

from .test_weather_golden import fixture_paths  # noqa: F401  (reuse fixture)


def test_formatted_text_sink_roundtrip(spark, fixture_paths, tmp_path):  # noqa: F811
    wx_path, loc_path = fixture_paths
    formatted = q_city_month_formatted(
        read_weather_csv(spark, wx_path), read_location_csv(spark, loc_path)
    )
    out = str(tmp_path / "text_out")
    formatted.write.mode("overwrite").text(out)
    lines = {r.value for r in spark.read.text(out).collect()}
    assert "Colombo,2023-01\t6.000,15.000" in lines
    assert len(lines) == 4


def test_ingest_weather_partitioned_parquet(spark, fixture_paths, tmp_path):  # noqa: F811
    wx_path, loc_path = fixture_paths
    out = str(tmp_path / "ingested")
    assert ingest_weather_to_parquet(spark, wx_path, loc_path, out) is None
    wx = spark.read.parquet(f"{out}/weather")
    loc = spark.read.parquet(f"{out}/location")

    assert set(wx.columns) >= {
        "location_id",
        "temperature_2m_mean",
        "precipitation_hours",
        "year_month",
    }
    assert loc.count() == 3
    # month-partitioned layout on disk → partition pruning applies
    import os

    parts = {p for p in os.listdir(f"{out}/weather") if p.startswith("year_month=")}
    assert parts == {"year_month=2023-01", "year_month=2023-02"}
    # rebalanced on year_month: one file per month at fixture size, not
    # one per (scan task x month)
    for part in parts:
        files = os.listdir(f"{out}/weather/{part}")
        assert len([f for f in files if f.endswith(".parquet")]) == 1, files

    pruned = wx.where(F.col("year_month") == "2023-01")
    # partition filter must appear in the scan, not a post-filter
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain(mode="formatted")
    assert "PartitionFilters: [isnotnull(year_month" in buf.getvalue()
    assert pruned.count() == 4  # 3 known-loc rows + 1 unknown-loc row (Jan)


def test_parquet_writer_matrix(spark, tmp_path):
    """Codec round-trip (zstd + snappy), maxRecordsPerFile splitting, and
    the partitioned write's rebalance: one file per partition value, not
    one per (input task x value)."""
    from mapreduce_weather_analysis_spark.sources.sinks import write_parquet

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    for codec in ("zstd", "snappy"):
        out = str(tmp_path / codec)
        write_parquet(df, out, compression=codec)
        back = spark.read.parquet(out)
        assert back.count() == 1000
        assert {r.id for r in back.collect()} == set(range(1000))
        files = [p for p in (tmp_path / codec).iterdir() if p.suffix == ".parquet"]
        assert files and all(f".{codec}." in p.name for p in files)

    capped = str(tmp_path / "capped")
    write_parquet(df.coalesce(1), capped, max_records_per_file=100)
    parts = [p for p in (tmp_path / "capped").iterdir() if p.suffix == ".parquet"]
    assert len(parts) == 10  # 1000 rows / 100-row cap
    assert spark.read.parquet(capped).count() == 1000

    parted = str(tmp_path / "parted")
    keyed = df.repartition(8).withColumn("k", F.col("id") % 3)
    write_parquet(keyed, parted, partition_cols=["k"])
    for k in range(3):
        part = tmp_path / "parted" / f"k={k}"
        files = [p for p in part.iterdir() if p.suffix == ".parquet"]
        assert len(files) == 1, files  # 8 without the rebalance
    assert spark.read.parquet(parted).count() == 1000


def test_json_and_orc_roundtrip(spark, tmp_path):
    """Source/sink matrix beyond CSV+parquet: JSON-lines (schema-enforced
    read — no runaway inference on a real pipeline) and ORC (built-in
    columnar alternative) both round-trip typed rows."""
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
    )
    jp = str(tmp_path / "j")
    df.write.mode("overwrite").json(jp)
    back_j = spark.read.schema("id long, v double, name string").json(jp)
    assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))

    op = str(tmp_path / "o")
    df.write.mode("overwrite").option("compression", "zstd").orc(op)
    back_o = spark.read.orc(op)
    assert sorted(map(tuple, back_o.collect())) == sorted(map(tuple, df.collect()))
    # ORC read-back relaxes nullability; names+types must survive
    assert [(f.name, f.dataType) for f in back_o.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]


def test_compact_parquet_dir_merges_small_files(spark, tmp_path):
    """200 tiny files -> a handful of ~target-size files, rows and
    values identical (the maintenance pass a streaming sink's output
    needs before it melts directory listings at scale)."""
    from mapreduce_weather_analysis_spark.sources.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "frag")
    df = spark.range(20_000).selectExpr("id", "id * 2 AS v")
    df.repartition(200).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    stats = compact_parquet_dir(spark, path, target_bytes=64 * 1024)
    assert stats["files_before"] >= 200
    assert stats["files_after"] < stats["files_before"] / 4
    after_df = spark.read.parquet(path)
    after = sorted(r.id for r in after_df.collect())
    assert after == before
    assert after_df.where("v != id * 2").count() == 0


def test_compact_parquet_dir_refuses_partitioned_table(spark, tmp_path):
    """A hive-partitioned directory is refused before anything is
    written: a flat rewrite would turn ``k`` into a data column and lose
    the partition layout and pruning."""
    import os

    import pytest

    from mapreduce_weather_analysis_spark.sources.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "parted")
    spark.range(300).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(
        path
    )

    def listing() -> list[str]:
        return sorted(
            os.path.relpath(os.path.join(root, f), path)
            for root, _dirs, files in os.walk(path)
            for f in files
        )

    before = listing()
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet_dir(spark, path, target_bytes=64 * 1024)
    assert listing() == before
    assert not os.path.exists(path + ".compact")
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert back.where("k = 1").count() == 100
