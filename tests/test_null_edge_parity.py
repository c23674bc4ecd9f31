"""NULL-edge differential parity (round-12 continuation).

The driver's correctness gate runs on the fixture parquet, which carries
NO NULL text, NULL timestamps, NULL users, or NULL event types — so an
engine/oracle divergence on those rows is invisible to it forever. This
module closes the class: every declared (and staged) spec in the three
NULL-sensitive families (documents, events, orders/lineitem) is re-run
engine-vs-oracle on a miniature fixture that DOES carry the NULLs, and
the results must match exactly.

This sweep found four live oracle bugs when first run (all fixed):
- text_rolling_hash: list_prepend(0, NULL) -> [0] -> fold 0, conflating
  NULL docs with EMPTY docs;
- multimodal_resize_batch: DuckDB greatest() IGNORES a NULL argument
  (new dims 1 vs the engine's NULL) and array_to_string over an empty
  transform yields NULL (vs the engine's md5(''));
- ten events/window specs diverged on NULL-ts ordering (Spark windows
  default ASC NULLS FIRST, DuckDB NULLS LAST — identical dual-run SQL,
  different frames) or on NULL-user/-type equi-joins silently dropping
  groups a window formulation kept. Fixed with explicit NULLS FIRST and
  explicit domain filters (timestamped/typed/identified events) applied
  identically on both sides.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# slow assurance lane (round-17): degenerate-fixture parity sweeps over the whole registry (~13 min);
# skipped in the default verify lane, run with SPARK_GRAFT_FULL_TESTS=1
pytestmark = pytest.mark.slow

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import (
    QUERY_SPECS,
)

_SRC_SF = "/root/testdata/sf0.001"
_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# fixture-pinned or minimum-corpus specs the sweep cannot run on a
# miniature table (each is exercised on the real fixtures elsewhere):
# - ANN specs require >= n_centroids / codebook vectors and raise a
#   clear contract error on a near-empty embeddings table;
# - sketch_hll_union / text_compression_ratio pin their oracle to the
#   REAL fixture (hardcoded langs / python-zlib VALUES).
_EXCLUDE = {
    "similarity_ann_ivf", "similarity_ann_pq",
    # composes ivf_topk: same >= n_centroids minimum-corpus contract
    "similarity_ivf_recall_audit",
    "sketch_hll_union", "text_compression_ratio",
    # reads a partitioned COPY of events; an empty sibling events table
    # writes zero files and the re-read cannot infer a schema — the
    # proof needs a non-degenerate corpus (exercised on real fixtures)
    "dpp_partitioned_scan_proof",
}




def _mk_dir(tmp_path, **tables) -> str:
    d = str(tmp_path / "sf_null")
    os.makedirs(d, exist_ok=True)
    for t in _TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if t in tables:
            pq.write_table(tables[t], p)
        else:
            schema = pq.read_schema(os.path.join(_SRC_SF, f"{t}.parquet"))
            pq.write_table(schema.empty_table(), p)
    return d


def _norm(v):
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return repr(v)


def _assert_parity(spark, sf_dir, names):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    bad = []
    for name in sorted(names):
        spec = QUERY_SPECS[name]
        sdf = spec.run_spark(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted(
            tuple(_norm(r[c]) for c in scols) for r in sdf.collect()
        )
        o = spec.oracle_text()
        if o is None:
            continue
        res = con.execute(o)
        ocols_raw = [x[0] for x in res.description]
        idx = [ocols_raw.index(c) for c in sorted(ocols_raw)]
        orows = sorted(
            tuple(_norm(r[i]) for i in idx) for r in res.fetchall()
        )
        if scols != sorted(ocols_raw) or srows != orows:
            only_s = [r for r in srows if r not in set(orows)][:3]
            only_o = [r for r in orows if r not in set(srows)][:3]
            bad.append(f"{name}: spark-only {only_s} oracle-only {only_o}")
    con.close()
    assert not bad, "NULL-edge engine/oracle divergence:\n" + "\n".join(bad)


def test_null_text_documents_parity(spark, tmp_path):
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "text": pa.array(
            ["the cat sat on the mat here now",
             "el el la la and and the the",
             None, "", "a b c d e f g h i j k l m n o p"],
            pa.string(),
        ),
        "lang": pa.array(["en", "es", "en", "fr", "de"], pa.string()),
        "source": pa.array(["s1", "s1", "s2", "s2", "s3"], pa.string()),
        "n_chars": pa.array([31, 27, 0, 0, 31], pa.int64()),
    })
    d = _mk_dir(tmp_path, documents=docs)
    names = [
        n for n, s in QUERY_SPECS.items()
        if any(t in s.tags for t in ("llm", "text", "dedup"))
        and "streaming" not in s.tags
        and not s.no_oracle
        and n not in _EXCLUDE
    ]
    assert len(names) > 30
    _assert_parity(spark, d, names)


def test_null_orders_lineitem_parity(spark, tmp_path):
    """Third fixture class: NULL keys, dates, prices, and flags in the
    relational tables. First run found nine more divergences (all
    fixed): min_by/max_by vs the oracle's ROW_NUMBER argmin disagreed
    on NULL-price placement (Spark struct ordering sorts a NULL field
    SMALLEST), the stats-moments oracle's equi-join dropped the
    NULL-returnflag group, ROUND(SUM(revenue), 2) sat exactly on an
    .xx5 boundary (now exact 1e-4-dollar integer units in both join
    specs), four window specs ordered NULL dates/prices differently
    (explicit NULLS FIRST), the RFM oracle's ntile keys diverged on a
    NULL custkey tiebreak, and the freq-items build crashed outright
    on an empty relation (bare collect()[0])."""
    def _ts(s):
        return dt.datetime.fromisoformat(s)

    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "o_custkey": pa.array([10, 10, 20, None, 20, 30], pa.int64()),
        "o_orderstatus": pa.array(["O", "F", None, "O", "F", "O"], pa.string()),
        "o_totalprice": pa.array([10.5, 20.25, None, 5.0, 7.75, 1.25], pa.float64()),
        "o_orderdate": pa.array(
            [_ts("2024-01-01"), _ts("2024-02-01"), _ts("2024-01-15"),
             _ts("2024-03-01"), None, _ts("2024-01-20")],
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(
            ["1-URGENT", None, "2-HIGH", "3-MEDIUM", "2-HIGH", "1-URGENT"],
            pa.string(),
        ),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array([1, 1, 2, 3, 4, None], pa.int64()),
        "l_partkey": pa.array([100, None, 100, 200, 200, 300], pa.int64()),
        "l_suppkey": pa.array([1, 2, None, 1, 2, 1], pa.int64()),
        "l_linenumber": pa.array([1, 2, 1, 1, 1, 1], pa.int32()),
        "l_quantity": pa.array([5.0, 3.0, None, 2.0, 4.0, 1.0], pa.float64()),
        "l_extendedprice": pa.array([50.5, 30.25, 20.0, None, 40.0, 10.0], pa.float64()),
        "l_discount": pa.array([0.05, 0.0, 0.1, 0.02, None, 0.0], pa.float64()),
        "l_tax": pa.array([0.01, 0.02, 0.0, 0.03, 0.01, None], pa.float64()),
        "l_returnflag": pa.array(["N", "R", None, "A", "N", "R"], pa.string()),
        "l_linestatus": pa.array(["O", "F", "O", None, "F", "O"], pa.string()),
        "l_shipdate": pa.array(
            [_ts("2024-01-05"), None, _ts("2024-02-05"), _ts("2024-01-25"),
             _ts("2024-03-05"), _ts("2024-01-30")],
            pa.timestamp("us"),
        ),
    })
    d = _mk_dir(tmp_path, orders=orders, lineitem=lineitem)
    names = [
        n for n, s in QUERY_SPECS.items()
        if any(
            t in s.tags
            for t in ("agg", "join", "sort", "window", "pivot", "setops",
                      "subquery", "analytics")
        )
        and "streaming" not in s.tags
        and "events" not in s.tags
        and not s.no_oracle
        and n not in _EXCLUDE
    ]
    assert len(names) > 50
    _assert_parity(spark, d, names)


def test_nonfinite_value_parity(spark, tmp_path):
    """Fifth fixture class: NaN and +-Infinity in the events value
    column. First run found the two milli-unit digitizing specs
    (gap-fill interpolate, weighted moving average) ABORTING the whole
    job — round(value * k)::BIGINT of Infinity is a CAST_OVERFLOW under
    ANSI — the classic one-poisoned-row operational hazard. Both now
    declare a finite-or-NULL value domain (isfinite on the oracle side)
    filtered identically on both sides; every other events/window spec
    already handles NaN/Inf grouping, ordering, and aggregation
    identically across engines (NaN sorts greatest and groups with
    itself on both)."""
    def _ts(s):
        return dt.datetime.fromisoformat(s)

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.5, "{}"),
        (2, _ts("2024-01-01T11:00:00"), 1, "purchase", 9.5, "{}"),
        (3, _ts("2024-01-02T10:00:00"), 2, "view", float("inf"), "{}"),
        (4, _ts("2024-01-08T10:00:00"), 2, "click", float("-inf"), "{}"),
        (5, _ts("2024-01-08T11:00:00"), 3, "view", float("nan"), "{}"),
        (6, _ts("2024-01-09T10:00:00"), 3, "view", 2.5, "{}"),
    ]
    events = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    d = _mk_dir(tmp_path, events=events)
    names = [
        n for n, s in QUERY_SPECS.items()
        if any(
            t in s.tags
            for t in ("events", "window", "asof", "timeseries", "analytics")
        )
        and "streaming" not in s.tags
        and not s.no_oracle
        and n not in _EXCLUDE
    ]
    _assert_parity(spark, d, names)


def test_multibyte_text_parity(spark, tmp_path):
    """Fourth fixture class: multibyte text (accents, CJK, emoji). First
    run found the three byte-payload multimodal specs diverging: their
    oracles fake BYTE arithmetic with ascii(char), which only coincides
    with the engine's utf-8 payload bytes for 1-byte chars (and an
    emoji codepoint squared overflowed DuckDB's INT32). Those specs now
    declare an ASCII-payload spec domain (strlen = length, NULL rows
    kept), filtered identically on both sides; everything else must
    take multibyte text in stride."""
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "text": pa.array(
            ["h\u00e9llo w\u00f6rld caf\u00e9 na\u00efve fa\u00e7ade \u00fcber",
             "\u4f60\u597d \u4e16\u754c \u6a5f\u68b0 \u5b66\u7fd2 \u30c7\u30fc\u30bf",
             "emoji \U0001F600 mix \U0001F680 text the and",
             "plain ascii words the cat sat here",
             "z\u00e4lgo \u00e7ombining m\u0301arks the"],
            pa.string(),
        ),
        "lang": pa.array(["fr", "zh", "en", "en", "en"], pa.string()),
        "source": pa.array(["s"] * 5, pa.string()),
        "n_chars": pa.array([34, 13, 24, 34, 25], pa.int64()),
    })
    d = _mk_dir(tmp_path, documents=docs)
    names = [
        n for n, s in QUERY_SPECS.items()
        if any(t in s.tags for t in ("llm", "text", "dedup"))
        and "streaming" not in s.tags
        and not s.no_oracle
        and n not in _EXCLUDE
    ]
    _assert_parity(spark, d, names)


def test_null_events_parity(spark, tmp_path):
    def _ts(s):
        return dt.datetime.fromisoformat(s)

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.5, '{"k": 1}'),
        (2, _ts("2024-01-01T11:00:00"), 1, "purchase", 9.5, '{"k": 2}'),
        (3, _ts("2024-01-02T10:00:00"), 2, "view", 2.5, "{}"),
        (4, _ts("2024-01-08T10:00:00"), 2, "click", 3.5, "{}"),
        (5, _ts("2024-01-08T11:00:00"), 3, "view", 4.5, "{}"),
        (6, _ts("2024-01-02T12:00:00"), None, "view", 1.0, "{}"),
        (7, _ts("2024-01-02T13:00:00"), 3, None, 1.0, "{}"),
        (8, _ts("2024-01-02T14:00:00"), 3, "view", None, None),
        (9, None, 3, "view", 1.0, "{}"),
    ]
    events = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    d = _mk_dir(tmp_path, events=events)
    names = [
        n for n, s in QUERY_SPECS.items()
        if any(
            t in s.tags
            for t in ("events", "window", "asof", "timeseries", "analytics")
        )
        and "streaming" not in s.tags
        and not s.no_oracle
        and n not in _EXCLUDE
    ]
    assert len(names) > 30
    _assert_parity(spark, d, names)


# ---------------------------------------------------------------------------
# Sixth fixture class (round-13): degenerate relations — empty, single-
# row, and tie-heavy (constant attribute values, duplicate text, one
# shared embedding; PKs stay unique). First run found SIX live bugs
# (all fixed): four empty-relation engine crashes (approx percentile
# ANSI divide-by-zero, shallow-clone int(None), partition-evolution
# None//2, observe-metrics toPyRow on an unmaterialized metrics row),
# the Spark-vs-DuckDB empty-CUBE/ROLLUP grand-total row (Spark emits
# none; oracles now HAVING COUNT(*) > 0), and Spark 4 ANSI CORR
# aborting the whole job on ONE zero-variance group (rewritten as the
# NULLIF-guarded covar/stddev identity).
# ---------------------------------------------------------------------------

# physical-lifecycle proof specs whose behavioral constants (file
# pruning, version-expiry file work) depend on how many scratch-table
# versions a PARTICULAR corpus slicing produces — well-defined on the
# empty corpus (oracles carry explicit emptiness gates) but
# coincidence-dependent on 1-to-200-row slices (e.g. whether any order
# key lands in [400, 800) decides whether a third snapshot exists).
# Their degenerate-INPUT robustness is covered by the empty sweep.
_LIFECYCLE_TAGS = {"lake", "cdc", "maintenance", "timetravel", "source",
                   "observability", "sink", "udtf"}


def _sweep_names(skip_tags=frozenset()):
    return [
        n for n, s in QUERY_SPECS.items()
        if not s.no_oracle
        and s.oracle_text() is not None
        and "streaming" not in s.tags
        and not (skip_tags & set(s.tags))
        and n not in _EXCLUDE
    ]


def test_empty_relations_parity(spark, tmp_path):
    """EVERY oracled spec against all-empty tables: the class where
    collect()[0]-scalar builds crash (the r12 freq-items / BM25 class)
    and where grouping-analytics grand-total semantics diverge."""
    d = _mk_dir(tmp_path)  # every table empty
    names = _sweep_names()
    assert len(names) > 200
    _assert_parity(spark, d, names)


def _slice_fixture(tmp_path, subdir, transform):
    d = str(tmp_path / subdir)
    os.makedirs(d, exist_ok=True)
    for t in _TABLES:
        tb = pq.read_table(os.path.join(_SRC_SF, f"{t}.parquet"))
        pq.write_table(transform(t, tb), os.path.join(d, f"{t}.parquet"))
    return d


def test_single_row_relations_parity(spark, tmp_path):
    """Every analytic spec against 1-row tables: the minimal non-empty
    regime — global windows, ntiles, medians, percentiles, and scalar
    subqueries all collapse to their boundary behavior."""
    d = _slice_fixture(tmp_path, "sf_single", lambda t, tb: tb.slice(0, 1))
    names = _sweep_names(skip_tags=_LIFECYCLE_TAGS)
    assert len(names) > 150
    _assert_parity(spark, d, names)


def _tie_heavy(t, tb):
    tb = tb.slice(0, 200)

    def const(tb, name, value):
        i = tb.schema.get_field_index(name)
        if i < 0:
            return tb
        f = tb.schema.field(i)
        return tb.set_column(i, f, pa.array([value] * tb.num_rows, f.type))

    def repeat_first(tb, name):
        i = tb.schema.get_field_index(name)
        if i < 0 or tb.num_rows == 0:
            return tb
        f = tb.schema.field(i)
        v = tb.column(i)[0].as_py()
        return tb.set_column(i, f, pa.array([v] * tb.num_rows, f.type))

    if t == "orders":
        for c, v in [("o_orderstatus", "O"), ("o_orderpriority", "3-MEDIUM"),
                     ("o_totalprice", 1000.55)]:
            tb = const(tb, c, v)
        tb = repeat_first(tb, "o_orderdate")
    if t == "lineitem":
        for c, v in [("l_quantity", 25.0), ("l_extendedprice", 5000.25),
                     ("l_discount", 0.05), ("l_tax", 0.04),
                     ("l_returnflag", "N"), ("l_linestatus", "O"),
                     ("l_shipmode", "AIR")]:
            tb = const(tb, c, v)
        tb = repeat_first(tb, "l_shipdate")
    if t == "events":
        tb = repeat_first(tb, "ts")  # EVERY event at the same instant
        for c, v in [("event_type", "view"), ("value", 7.5)]:
            tb = const(tb, c, v)
        i = tb.schema.get_field_index("user_id")
        f = tb.schema.field(i)
        users = [u.as_py() for u in tb.column(i)]
        tb = tb.set_column(
            i, f, pa.array([users[j % 3] for j in range(len(users))], f.type)
        )
    if t == "documents":
        # 20 distinct texts x ~10 copies each: heavy duplication that
        # stays INSIDE the LSH max_bucket=64 cap, where the unbounded-
        # clique oracle is exactly equivalent (the >cap hub-spoke trade
        # is pinned separately in tests/test_lsh_bounds.py). Variant
        # texts are SHINGLE-DISJOINT (each built from one letter of the
        # alphabet): near-identical variants would share their common
        # shingles' bands across ALL 200 docs, blowing those buckets
        # past the cap and re-entering the documented recall trade.
        i = tb.schema.get_field_index("text")
        f = tb.schema.field(i)
        tb = tb.set_column(
            i, f,
            pa.array(
                [" ".join([chr(97 + j % 20) * 4] * 8)
                 for j in range(tb.num_rows)],
                f.type,
            ),
        )
        for c, v in [("lang", "en"), ("source", "s1")]:
            tb = const(tb, c, v)
    if t == "embeddings":
        tb = repeat_first(tb, "embedding")  # one shared vector: all ties
    return tb


def test_tie_heavy_relations_parity(spark, tmp_path):
    """Every analytic spec against maximal-tie tables (constant values,
    same-instant events, duplicated text, one shared embedding):
    ordering tiebreaks, zero-variance aggregates, and identical-score
    rankings must resolve identically on both engines."""
    d = _slice_fixture(tmp_path, "sf_ties", _tie_heavy)
    names = _sweep_names(skip_tags=_LIFECYCLE_TAGS)
    assert len(names) > 150
    _assert_parity(spark, d, names)


def test_dpp_no_hot_rows_yields_null_cents(spark, tmp_path):
    """Round-15 sweep finding: a NON-empty events table with zero hot
    (click/view) rows made the dpp build crash on int(None) over the
    NULL SUM, while its oracle yields a NULL cents cell. Pin the
    aligned NULL behavior on a purchase-only corpus (the spec stays
    excluded from the generic empty sweep for the documented
    empty-partitioned-write reason — this is the non-degenerate
    hot-free case)."""
    import pyarrow as pa

    events = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 1, 11)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([1, 2], pa.int64()),
        "event_type": pa.array(["purchase", "error"], pa.string()),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 2}'], pa.string()),
    })
    d = _mk_dir(tmp_path, events=events)
    spec = QUERY_SPECS["dpp_partitioned_scan_proof"]
    rows = {r["fact"]: r["n"] for r in spec.run_spark(spark, d).collect()}
    assert rows["1_hot_rows"] == 0
    assert rows["2_hot_cents"] is None
