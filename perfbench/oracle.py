"""DuckDB oracle check for the snapshot_query specs.

The value normalization is the one ``tests/test_oracle_parity.py`` uses
(doubles at 6 dp, timestamps as ISO strings, columns sorted by name,
rows sorted), copied so the benchmark does not import the test suite.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    FIXTURE_TABLES,
)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        if r == int(r) and abs(r) < 1e15:
            return str(int(r))
        return f"{r:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    return str(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return sorted(cols), out


def connect(fixture_dir: str):
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _same(a: str, b: str) -> bool:
    """Equal normalized cells, or decimals one unit apart in their last
    place: a sum the SQL rounds can fall on either side of a rounding
    boundary, because the two engines add in different orders."""
    if a == b:
        return True
    places = min(len(x.partition(".")[2]) for x in (a, b))
    if not places:
        return False
    try:
        return abs(float(a) - float(b)) <= 1.000001 * 10.0 ** -places
    except ValueError:
        return False


def compare(con, oracle_sql: str, cols, rows) -> str | None:
    """None when the Spark result equals the oracle's, else the reason."""
    res = con.execute(oracle_sql)
    d_cols = [d[0] for d in res.description]
    sc, sr = normalize(cols, rows)
    dc, dr = normalize(d_cols, res.fetchall())
    if sc != dc:
        return f"columns {sc} vs oracle {dc}"
    if len(sr) != len(dr):
        return f"{len(sr)} rows vs oracle {len(dr)}"
    bad = [(a, b) for a, b in zip(sr, dr) if not all(map(_same, a, b))][:3]
    return f"value mismatches {bad}" if bad else None
