from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

# Standing indexes the suite builds (fixture copies under tmp get a new
# fingerprint every run) go to one directory per session, removed at exit,
# not to the shared default cache. Set before any package import:
# ``operators.ann_store`` reads it once, at import.
_INDEX_DIR = tempfile.mkdtemp(prefix="spark_graft_index_")
os.environ["SPARK_GRAFT_INDEX_DIR"] = _INDEX_DIR
atexit.register(shutil.rmtree, _INDEX_DIR, ignore_errors=True)

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mapreduce_weather_analysis_spark.session import get_spark

    spark = get_spark(app_name="mwa-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views at the
    smoke SF — mirrors the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SMOKE_SF}/{name}.parquet')"
        )
    yield con
    con.close()
