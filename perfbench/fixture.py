"""Seeded analytic fixture: the ten tables the query registry reads.

Same table names, column names and Parquet types as the driver's
TPC-H-like fixtures (``region`` ... ``embeddings``), with values drawn
from a ``numpy`` generator seeded by the caller, so the benchmark never
reads data from outside its own checkout. Row counts scale with ``sf``
like the driver's (``lineitem`` has 6M x sf rows). Every predicate
constant the headline specs use ('ASIA', 'BUILDING', 'Brand#13',
'PROMO', the 1995-2001 date range, 'purchase'/'click') occurs, and a
tenth of the documents are near-duplicates of another so the LSH specs
return pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group stream filter big vector snapshot commit delete file"
).split()
_P_WORDS = ("red", "blue", "small", "large", "steel", "ring", "widget", "bolt")


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _days(rng, start: str, span_days: int, n: int):
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days, type=pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**63)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), f64),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), f64),
    })
    w = np.asarray(_P_WORDS, dtype=object)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(
            w[rng.integers(0, len(w), n_part)] + " " + w[rng.integers(0, len(w), n_part)]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.uniform(0, 100, n_evt), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[int(rng.integers(0, len(words)))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.standard_normal((n_docs, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32),
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
