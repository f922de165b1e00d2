"""Seeded inputs for the benchmark.

Two families, both written under a work directory the caller owns:

* the reference-shaped weather CSV pair (the row shape of
  ``scripts/gen_weather_scale.py``: one row per (location, day) from
  1950-01-01, ``m/d/yyyy`` dates, ~3% empty temperature cells, ~20% empty
  precipitation cells, 27 × mult locations), generated through DuckDB
  with the seed folded into every hash;
* the ten parquet tables the query registry reads (TPC-H-ish star schema
  plus ``events``, ``documents`` and ``embeddings``), with the column
  types, value ranges and planted near-duplicates of the fixture tables
  described in FIXTURES.md, drawn from ``numpy.random.default_rng(seed)``.

The same seed always yields byte-identical files.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_CITIES = 27


def weather_csvs(out_dir: str, seed: int, mult: int, days: int) -> dict:
    """Write ``weather.csv`` and ``location.csv``; return paths and sizes.

    ``days`` sets the span from 1950-01-01 and so the number of month
    partitions ``ingest`` writes; ``mult`` sets the rows per day.
    """
    os.makedirs(out_dir, exist_ok=True)
    weather = os.path.join(out_dir, "weather.csv")
    location = os.path.join(out_dir, "location.csv")
    n_loc = BASE_CITIES * mult
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer keeps the byte order fixed
    con.execute(
        f"""
        COPY (
          SELECT i AS location_id,
                 round(6.9 + (hash({seed}, i, 1) % 1000) / 100.0, 6) AS latitude,
                 round(79.9 + (hash({seed}, i, 2) % 1000) / 100.0, 6) AS longitude,
                 hash({seed}, i, 3) % 500 AS elevation,
                 19800 AS utc_offset_seconds,
                 'Asia/Colombo' AS timezone,
                 530 AS timezone_abbreviation,
                 'City_' || CAST(i % {BASE_CITIES} AS VARCHAR)
                   || '_' || CAST(i // {BASE_CITIES} AS VARCHAR) AS city_name
          FROM range({n_loc}) t(i)
        ) TO '{location}' (HEADER, DELIMITER ',')
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT l.i AS location_id,
                 CAST(EXTRACT(month FROM dd) AS VARCHAR) || '/'
                   || CAST(EXTRACT(day FROM dd) AS VARCHAR) || '/'
                   || CAST(EXTRACT(year FROM dd) AS VARCHAR) AS date,
                 0 AS c2, 0 AS c3, 0 AS c4,
                 CASE WHEN hash({seed}, l.i, d.j, 4) % 100 < 3 THEN NULL
                      ELSE round((hash({seed}, l.i, d.j, 5) % 450) / 10.0, 1)
                 END AS temperature_2m_mean,
                 0 AS c6, 0 AS c7, 0 AS c8, 0 AS c9, 0 AS c10, 0 AS c11,
                 0 AS c12,
                 CASE WHEN hash({seed}, l.i, d.j, 6) % 10 < 2 THEN NULL
                      ELSE round((hash({seed}, l.i, d.j, 7) % 240) / 10.0, 1)
                 END AS precipitation_hours
          FROM range({n_loc}) l(i)
          CROSS JOIN (
            SELECT j, DATE '1950-01-01' + INTERVAL (j) DAY AS dd
            FROM range({days}) t(j)
          ) d
          ORDER BY l.i, d.j
        ) TO '{weather}' (HEADER, DELIMITER ',')
        """
    )
    months = con.execute(
        f"SELECT count(DISTINCT date_trunc('month', DATE '1950-01-01' + "
        f"INTERVAL (j) DAY)) FROM range({days}) t(j)"
    ).fetchone()[0]
    con.close()
    return {
        "weather_csv": weather,
        "location_csv": location,
        "weather_rows": n_loc * days,
        "months": months,
        "weather_bytes": os.path.getsize(weather),
        "location_rows": n_loc,
    }


# Row counts per table: the sf0.01 fixture shape.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_PART_ADJ = "blue cold hot red small new old large".split()
_PART_NOUN = "ring plate gear rod bolt anvil widget pipe".split()


def _ts_us(start: str, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + micros, type=pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    # ~5% near-duplicates (another document plus one trailing token) and a
    # handful of exact copies, as planted in the fixture corpus
    n_near = max(1, n // 20)
    near = rng.choice(n, n_near, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _LANGS[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def registry_tables(out_dir: str, seed: int) -> dict:
    """Write the ten registry tables as ``<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = ROWS
    n_users = max(1, n["customer"] // 10)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": np.array(
                ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
            )[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": np.array(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
            )[rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    flags = rng.integers(0, 6, li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["O", "F"])[flags % 2],
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, span_us, e))),
            "user_id": rng.integers(0, n_users, e).astype(np.int64),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, e)
            ],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
