"""The ``file:`` file system of engine-built sessions: file modes set
in-process (no ``chmod`` fork), the same mode bits as the stock class,
and the fail-safe rule that a session always starts."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap

from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.find_spark_home import _find_spark_home

from mapreduce_weather_analysis_spark import session
from mapreduce_weather_analysis_spark.session import NIO_LOCAL_FS, build_nio_fs_jar

from .conftest import REPO_ROOT


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _modes(root) -> dict[str, int]:
    """Permission bits of every path under ``root``, itself included."""
    out = {".": stat.S_IMODE(os.stat(root).st_mode)}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = stat.S_IMODE(os.stat(path).st_mode)
    return out


def _run(tmp_path, *scripts: str, **env) -> subprocess.CompletedProcess:
    """Run ``scripts`` in one fresh interpreter (and so a fresh JVM) with
    the repo importable and a small session."""
    return subprocess.run(
        [sys.executable, "-c", "".join(textwrap.dedent(s) for s in scripts)],
        cwd=tmp_path,
        env={
            **os.environ,
            "PYTHONPATH": str(REPO_ROOT),
            "SPARK_DRIVER_MEMORY": "1g",
            "SPARK_GRAFT_CPUS": "2",
            **env,
        },
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_get_spark_resolves_file_scheme_to_nio_fs(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == NIO_LOCAL_FS
    assert fs.getRaw().getClass().getName() == NIO_LOCAL_FS + "$Raw"


def test_write_modes_match_stock(spark, tmp_path):
    """Hadoop sets every mode it creates explicitly (umask 022 applied to
    0777 / 0666), so the stock class writes 0755 directories and 0644
    files, ``.crc`` sidecars and ``_SUCCESS`` included."""
    from mapreduce_weather_analysis_spark.sources.sinks import write_parquet

    df = spark.createDataFrame(
        [(i, f"2023-0{1 + i % 3}") for i in range(30)], "v int, year_month string"
    )
    write_parquet(df, str(tmp_path / "pq"), partition_cols=["year_month"])
    df.selectExpr("concat(year_month, '\\t', v)").write.text(str(tmp_path / "txt"))
    for out in ("pq", "txt"):
        modes = _modes(tmp_path / out)
        dirs = {p for p in modes if os.path.isdir(tmp_path / out / p)}
        assert {p: m for p, m in modes.items() if p in dirs} == dict.fromkeys(dirs, 0o755)
        files = set(modes) - dirs
        assert {p: m for p, m in modes.items() if p in files} == dict.fromkeys(files, 0o644)
        names = {os.path.basename(p) for p in files}
        assert "_SUCCESS" in names and "._SUCCESS.crc" in names
        assert any(n.startswith("part-") for n in names)
        assert any(n.startswith(".part-") and n.endswith(".crc") for n in names)
    assert len([p for p in _modes(tmp_path / "pq") if p.startswith("year_month=")]) > 3


@pytest.mark.parametrize("mode", ["0751", "0640", "1777"])
def test_set_permission_bits(spark, tmp_path, mode):
    """rwx modes take the in-process path; the sticky bit falls back to
    the stock ``chmod`` and is set exactly."""
    target = tmp_path / "d"
    target.mkdir()
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    _local_fs(spark).setPermission(spark._jvm.org.apache.hadoop.fs.Path(str(target)), perm)
    assert stat.S_IMODE(os.stat(target).st_mode) == int(mode, 8)


def test_set_permission_on_missing_path_raises_file_not_found(spark, tmp_path):
    jvm = spark._jvm
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "absent"))
    with pytest.raises(Py4JJavaError) as err:
        _local_fs(spark).setPermission(
            missing, jvm.org.apache.hadoop.fs.permission.FsPermission("0644")
        )
    assert err.value.java_exception.getClass().getName() == "java.io.FileNotFoundException"


def test_rename_onto_existing_file_returns_false(spark, tmp_path):
    """The rename rule of the stock class (Hive's ProxyLocalFileSystem)."""
    jvm = spark._jvm
    (tmp_path / "a").write_text("a")
    (tmp_path / "b").write_text("b")
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = _local_fs(spark)
    assert not fs.rename(HPath(str(tmp_path / "a")), HPath(str(tmp_path / "b")))
    assert (tmp_path / "b").read_text() == "b"
    assert fs.rename(HPath(str(tmp_path / "a")), HPath(str(tmp_path / "c")))
    assert (tmp_path / "c").read_text() == "a"


def test_jar_build_is_cached_and_fails_safe(tmp_path, monkeypatch):
    [hadoop_jar] = Path(_find_spark_home(), "jars").glob("hadoop-client-api-*.jar")
    jar = build_nio_fs_jar(tmp_path / "build", hadoop_jar)
    assert jar is not None and jar.parent == tmp_path / "build"
    assert os.listdir(tmp_path / "build") == [jar.name]  # no temp leftovers
    # a compile that cannot resolve Hadoop fails, and writes nothing
    bogus = tmp_path / "hadoop-client-api-0.0.jar"
    bogus.write_bytes(b"")
    assert build_nio_fs_jar(tmp_path / "build", bogus) is None
    assert os.listdir(tmp_path / "build") == [jar.name]
    # the build directory cannot be created under a file
    (tmp_path / "c").write_text("")
    assert build_nio_fs_jar(tmp_path / "c" / "build", hadoop_jar) is None
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert build_nio_fs_jar(tmp_path / "build", hadoop_jar) == jar  # cached
    assert build_nio_fs_jar(tmp_path / "fresh", hadoop_jar) is None  # no javac


_WRITE_AND_REPORT = """
    df = spark.createDataFrame([(1, "2023-01"), (2, "2023-02")], "v int, year_month string")
    write_parquet(df, "out", partition_cols=["year_month"])
    assert spark.read.parquet("out").count() == 2
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    local = jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem")
    print("FS", fs.getClass().getName(), local.isInstance(fs))
"""


def test_session_starts_on_stock_fs_when_jvm_runs_without_jar(tmp_path):
    """A vanilla builder launched the gateway JVM without the jar: the
    engine session must start, write, and keep the stock class."""
    proc = _run(
        tmp_path,
        """
        from pyspark.sql import SparkSession
        SparkSession.builder.master("local[2]").config("spark.driver.memory", "1g") \\
            .getOrCreate().stop()
        from mapreduce_weather_analysis_spark.session import get_spark
        from mapreduce_weather_analysis_spark.sources.sinks import write_parquet
        spark = get_spark()
        """,
        _WRITE_AND_REPORT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("FS ")]
    name, is_local = line.split()[1:]
    assert name != NIO_LOCAL_FS and is_local == "True"


def test_session_starts_on_stock_fs_without_javac(tmp_path):
    """No ``javac`` and no cached jar: the session starts on the stock class."""
    proc = _run(
        tmp_path,
        f"""
        import shutil
        from pathlib import Path
        from mapreduce_weather_analysis_spark import session
        shutil.which = lambda name, *a, **k: None
        session._NIO_FS_BUILD_DIR = Path({str(tmp_path / "build")!r})
        from mapreduce_weather_analysis_spark.sources.sinks import write_parquet
        spark = session.get_spark()
        """,
        _WRITE_AND_REPORT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("FS ")]
    name, is_local = line.split()[1:]
    assert name != NIO_LOCAL_FS and is_local == "True"
    assert not (tmp_path / "build").exists()


def test_writes_and_stream_checkpoints_fork_no_chmod(tmp_path):
    """A ``chmod`` shim first on the JVM's PATH logs every fork Hadoop
    makes to set a mode. A month-partitioned parquet write and a stateful
    availableNow drain with a checkpoint location must make none (the
    stock file system forks once per created directory, file and
    ``.crc``)."""
    shim_dir = tmp_path / "shim"
    shim_dir.mkdir()
    log = tmp_path / "chmod.log"
    shim = shim_dir / "chmod"
    shim.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec /bin/chmod "$@"\n')
    shim.chmod(0o755)
    proc = _run(
        tmp_path,
        """
        from mapreduce_weather_analysis_spark.session import get_spark
        from mapreduce_weather_analysis_spark.sources.sinks import write_parquet
        spark = get_spark()
        df = spark.createDataFrame(
            [(i, f"2023-{1 + i % 12:02d}") for i in range(240)], "user_id int, year_month string"
        )
        write_parquet(df, "months", partition_cols=["year_month"])
        q = (
            spark.readStream.schema("user_id int, year_month string")
            .parquet("months")
            .groupBy("user_id")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("drain")
            .option("checkpointLocation", "ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table("drain").count() == 240
        """,
        PATH=f"{shim_dir}{os.pathsep}{os.environ['PATH']}",
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert (tmp_path / "ckpt" / "commits" / "0").is_file()
    forks = log.read_text().splitlines() if log.exists() else []
    assert forks == []
