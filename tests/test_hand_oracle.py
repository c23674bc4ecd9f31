"""Hand-computed oracle audit (round-10 verdict item 3).

The driver's correctness gate compares the Spark operator against the
spec's DuckDB oracle — a bug SHARED by operator and oracle is invisible
to it (r10's adjacent-word undercount was exactly this class). These
tests close that hole for the most intricate shared-SQL specs: a tiny
fixture small enough to compute BY HAND, the full expected output
derived in comments from first principles, and BOTH engines checked
against the hand result (spark == hand AND duckdb(oracle) == hand).

Fixture mechanics: each test writes its own miniature sf-dir (every
fixture table present — empty but schema-correct for the unused ones —
so ``QuerySpec.run_spark``'s ``register_views`` works unchanged), then
runs the REAL spec build and the REAL oracle SQL against it.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import (
    QUERY_SPECS,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries.extended import (
    UNREGISTERED_SPECS,
)

_SRC_SF = "/root/testdata/sf0.001"
_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _mk_sf(tmp_path, **hand_tables) -> str:
    """Write a miniature sf-dir: hand tables as given, everything else
    an EMPTY table with the real fixture schema."""
    d = str(tmp_path / "sf_hand")
    os.makedirs(d, exist_ok=True)
    for t in _TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if t in hand_tables:
            pq.write_table(hand_tables[t], p)
        else:
            schema = pq.read_schema(os.path.join(_SRC_SF, f"{t}.parquet"))
            pq.write_table(schema.empty_table(), p)
    return d


def _events(rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _documents(rows):
    """rows: (doc_id, text, source)"""
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else 0 for r in rows], pa.int64()
            ),
        }
    )


def _run_both(spark, name, sf_dir):
    """(spark rows, duckdb rows) as lists of plain tuples, column order
    normalized to the SPARK result's column order for both engines."""
    spec = QUERY_SPECS.get(name) or next(
        s for s in UNREGISTERED_SPECS if s.name == name
    )
    sdf = spec.run_spark(spark, sf_dir)
    cols = sdf.columns
    spark_rows = [tuple(r[c] for c in cols) for r in sdf.collect()]
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    res = con.execute(spec.oracle_text())
    ora_cols = [d[0] for d in res.description]
    ora_rows = [
        tuple(dict(zip(ora_cols, r))[c] for c in cols) for r in res.fetchall()
    ]
    con.close()
    return spark_rows, ora_rows


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_hand_gap_fill_interpolate(spark, tmp_path):
    """Derivation (integer milli-units, FLOOR over double division):

    user 1: obs 00:30 v=1.0, 00:45 v=2.0 -> hour 00 avg floor((1000+2000)/2)=1500
            obs 03:15 v=4.5 -> hour 03 = 4500
      grid 00..03; gaps 01,02 between (1500@00, 4500@03), slope +3000/3h:
        h01: 1500 + floor(3000*1/3) = 2500 ; h02: 1500 + floor(3000*2/3) = 3500
    user 2 (NEGATIVE slope, the floor-vs-truncate trap): obs 00:10 v=5.0
            -> hour 00 = 5000 ; obs 02:20 v=1.999 -> hour 02 = 1999
      gap 01 between (5000@00, 1999@02): 5000 + floor(-3001*1/2)
        = 5000 + floor(-1500.5) = 5000 - 1501 = 3499
      (integer `div`/truncation would give 3500 — both engines must floor)
    """
    d = _mk_sf(tmp_path, events=_events([
        (1, _ts("2024-01-01T00:30:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:45:00"), 1, "view", 2.0),
        (3, _ts("2024-01-01T03:15:00"), 1, "view", 4.5),
        (4, _ts("2024-01-01T00:10:00"), 2, "view", 5.0),
        (5, _ts("2024-01-01T02:20:00"), 2, "view", 1.999),
    ]))
    hand = [
        (1, _ts("2024-01-01T00:00:00"), 1500, 0),
        (1, _ts("2024-01-01T01:00:00"), 2500, 1),
        (1, _ts("2024-01-01T02:00:00"), 3500, 1),
        (1, _ts("2024-01-01T03:00:00"), 4500, 0),
        (2, _ts("2024-01-01T00:00:00"), 5000, 0),
        (2, _ts("2024-01-01T01:00:00"), 3499, 1),
        (2, _ts("2024-01-01T02:00:00"), 1999, 0),
    ]
    got_spark, got_ora = _run_both(spark, "events_gap_fill_interpolate", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_funnel_stages(spark, tmp_path):
    """view -> first click strictly after -> first purchase strictly
    after that; per-user firsts, then global counts/sums.

    u1: view@10 click@20 purchase@30      -> vt=10 ct=20 pt=30
    u2: click@8 view@10 purchase@20       -> vt=10, click was BEFORE the
        view so ct=NULL, purchase can't follow a NULL click -> pt=NULL
    u3: click@5 purchase@6 (no view)      -> all NULL
    u4: view@0 click@10 purchase@5 purchase@15
        -> vt=0 ct=10; purchase@5 precedes the click, pt=15
    n_view=3 (u1,u2,u4); n_click=2 (u1,u4); n_purchase=2 (u1,u4)
    view_to_click = (20-10)+(10-0) = 20 s
    click_to_purchase = (30-20)+(15-10) = 15 s
    """
    base = _ts("2024-03-01T00:00:00")
    sec = lambda s: base + dt.timedelta(seconds=s)
    d = _mk_sf(tmp_path, events=_events([
        (1, sec(10), 1, "view", 0.0), (2, sec(20), 1, "click", 0.0),
        (3, sec(30), 1, "purchase", 0.0),
        (4, sec(8), 2, "click", 0.0), (5, sec(10), 2, "view", 0.0),
        (6, sec(20), 2, "purchase", 0.0),
        (7, sec(5), 3, "click", 0.0), (8, sec(6), 3, "purchase", 0.0),
        (9, sec(0), 4, "view", 0.0), (10, sec(10), 4, "click", 0.0),
        (11, sec(5), 4, "purchase", 0.0), (12, sec(15), 4, "purchase", 0.0),
    ]))
    hand = [(3, 2, 2, 20, 15)]
    got_spark, got_ora = _run_both(spark, "events_funnel_stages", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_duplicated_spans(spark, tmp_path):
    """Word-8-gram duplicate spans, islands merged per doc.

    doc0 'a..h x y z w' (12 toks): only gram [a..h] (pos 0) repeats
         (docs 1,3) -> span (0,7): 1 span, 8 toks, floor(800/12)=66%
    doc1 'a..h' (8): its single gram repeats -> (0,7): 8/8 = 100%
    doc2 'p q r' (3): under 8 tokens -> no grams -> 0,0,0
    doc3 'a..h i' (9): hits (0,7) [a..h] and (1,8) [b..i] OVERLAP ->
         merged island (0,8): 1 span, 9 toks, 100%
    doc4 'b..i' (8): gram [b..i] repeats (doc3) -> (0,7): 100%
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (0, "a b c d e f g h x y z w", "s"),
        (1, "a b c d e f g h", "s"),
        (2, "p q r", "s"),
        (3, "a b c d e f g h i", "s"),
        (4, "b c d e f g h i", "s"),
    ]))
    hand = [
        (0, 12, 1, 8, 66),
        (1, 8, 1, 8, 100),
        (2, 3, 0, 0, 0),
        (3, 9, 1, 9, 100),
        (4, 8, 1, 8, 100),
    ]
    got_spark, got_ora = _run_both(spark, "dedup_exact_substring_spans", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_temperature_mixture(spark, tmp_path):
    """T=2 mixture, target 40%: quota_d = ceil(round(0.40 * total *
    sqrt(n_d) / sum_sqrt, 9)).

    sources: webA n=4, webB n=1 -> total=5, sum_sqrt = 2+1 = 3
    quota_A = ceil(40*5*2/300)  = ceil(1.333...) = 2 -> kept 2/4 = 50%
    quota_B = ceil(40*5*1/300)  = ceil(0.666...) = 1 -> kept 1/1 = 100%
    (which docs fill the quota depends on the md5 order; the REPORTED
    counts do not)
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (0, "t zero", "webA"), (1, "t one", "webA"),
        (2, "t two", "webA"), (3, "t three", "webA"),
        (4, "t four", "webB"),
    ]))
    hand = [("webA", 4, 2, 50), ("webB", 1, 1, 100)]
    got_spark, got_ora = _run_both(spark, "sample_temperature_mixture", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_bigram_fluency(spark, tmp_path):
    """Corpus-wide bigram counts; per-bigram score floor(1e6 * c(prev,
    tok) / (c(prev) + V)); per-doc mean (floor) and min. V = distinct
    continuation token over the PAIR table.

    doc0 'a b a b': bigrams (a,b),(b,a),(a,b) ; doc1 'a b': (a,b)
    pair counts: (a,b)=3, (b,a)=1 ; prev counts: a=3, b=1
    V = |{a, b}| = 2
    score(a,b) = floor(3e6 / (3+2)) = 600000
    score(b,a) = floor(1e6 / (1+2)) = 333333
    doc0: n=3, mean=floor((600000+333333+600000)/3)=511111, min=333333
    doc1: n=1, mean=600000, min=600000
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (0, "a b a b", "s"),
        (1, "a b", "s"),
    ]))
    hand = [(0, 3, 511111, 333333), (1, 1, 600000, 600000)]
    got_spark, got_ora = _run_both(spark, "text_bigram_fluency", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_pack_sequences(spark, tmp_path):
    """Concat-and-chunk, budget 64, per-source shard in doc_id order.

    shard s: n_tokens 50, 30, 64, 1 -> cum_before 0, 50, 80, 144
      doc0: packs floor(0/64)=0 .. floor(49/64)=0   -> 1 span
      doc1: floor(50/64)=0 .. floor(79/64)=1        -> 2
      doc2: floor(80/64)=1 .. floor(143/64)=2       -> 2
      doc3: floor(144/64)=2 .. floor(144/64)=2      -> 1
    shard t: doc4 64 toks: 0 .. floor(63/64)=0      -> 1
    """
    w = lambda n: " ".join(f"x{i}" for i in range(n))
    d = _mk_sf(tmp_path, documents=_documents([
        (0, w(50), "s"), (1, w(30), "s"), (2, w(64), "s"),
        (3, w(1), "s"), (4, w(64), "t"),
    ]))
    hand = [
        (0, "s", 50, 0, 0, 0, 1),
        (1, "s", 30, 50, 0, 1, 2),
        (2, "s", 64, 80, 1, 2, 2),
        (3, "s", 1, 144, 2, 2, 1),
        (4, "t", 64, 0, 0, 0, 1),
    ]
    got_spark, got_ora = _run_both(spark, "pack_sequences_concat_chunk", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_rare_token_fraction(spark, tmp_path):
    """Rarity = corpus-wide occurrence count <= 2, share of OCCURRENCES.

    doc0 'a a a b', doc1 'a c' -> counts a=4, b=1, c=1 ; rare = {b, c}
    doc0: 4 tokens, 1 rare -> floor(100/4) = 25%
    doc1: 2 tokens, 1 rare -> 50%
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (0, "a a a b", "s"),
        (1, "a c", "s"),
    ]))
    hand = [(0, 4, 1, 25), (1, 2, 1, 50)]
    got_spark, got_ora = _run_both(spark, "text_rare_token_fraction", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_retention_cohorts(spark, tmp_path):
    """Monday-week cohorts by first event; (cohort, offset) distinct
    actives. 2024-01-01 is a Monday.

    u1: events Mon 01-01 and Wed 01-10 -> cohort 01-01, offsets 0 and 1
    u2: single event Wed 01-03         -> cohort 01-01, offset 0
    cells: (01-01, 0) -> {u1,u2} = 2 ; (01-01, 1) -> {u1} = 1
    """
    d = _mk_sf(tmp_path, events=_events([
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 0.0),
        (2, _ts("2024-01-10T10:00:00"), 1, "view", 0.0),
        (3, _ts("2024-01-03T10:00:00"), 2, "view", 0.0),
    ]))
    hand = [
        (dt.date(2024, 1, 1), 0, 2),
        (dt.date(2024, 1, 1), 1, 1),
    ]
    got_spark, got_ora = _run_both(spark, "events_retention_cohorts", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_decontaminate_ngram_overlap(spark, tmp_path):
    """3-gram overlap vs the benchmark partition (doc_id < 20);
    contaminated iff overlap >= 5% of the doc's distinct grams.

    bench doc5 'q w e r t' -> grams {q w e, w e r, e r t}
    corp doc20 'q w e r a b c' -> 5 distinct grams, 2 in bench
        -> 2*20=40 >= 5 -> contaminated 1
    corp doc21 'm n o p q' -> 3 grams, 0 overlap -> 0
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (5, "q w e r t", "s"),
        (20, "q w e r a b c", "s"),
        (21, "m n o p q", "s"),
    ]))
    hand = [(20, 5, 2, 1), (21, 3, 0, 0)]
    got_spark, got_ora = _run_both(spark, "decontaminate_ngram_overlap", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_pack_sequences_null_text(spark, tmp_path):
    """NULL-text docs are ZERO-token stream positions (round-10 NULL
    contract) with writer-safe bounds: pack_last = pack_first (where
    the first token WOULD land) and n_packs_spanned = 0 — never -1 or
    inverted ranges (review round 11), and the oracle moves in
    lockstep.

    shard s: doc0 NULL (cum 0 -> packs 0..0 span 0),
             doc1 64 toks (cum 0 -> packs 0..0 span 1),
             doc2 NULL at the pack boundary (cum 64 -> packs 1..1
             span 0; the old last-token formula gave 1..0 inverted),
             doc3 10 toks (cum 64 -> packs 1..1 span 1)
    """
    w = lambda n: " ".join(f"x{i}" for i in range(n))
    d = _mk_sf(tmp_path, documents=_documents([
        (0, None, "s"), (1, w(64), "s"), (2, None, "s"), (3, w(10), "s"),
    ]))
    hand = [
        (0, "s", 0, 0, 0, 0, 0),
        (1, "s", 64, 0, 0, 0, 1),
        (2, "s", 0, 64, 1, 1, 0),
        (3, "s", 10, 64, 1, 1, 1),
    ]
    got_spark, got_ora = _run_both(spark, "pack_sequences_concat_chunk", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_temperature_mixture_null_domain(spark, tmp_path):
    """A NULL-domain group is a real group on BOTH engines (engine:
    eqNullSafe; oracle: IS NOT DISTINCT FROM — review round 11, the
    plain USING join dropped it while it still consumed quota).

    webA n=4, NULL n=1 -> total 5, sum_sqrt 3
    quota_A = ceil(1.333) = 2 -> 2/4 = 50% ; quota_NULL = ceil(0.667)
    = 1 -> 1/1 = 100%
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (0, "t a", "webA"), (1, "t b", "webA"),
        (2, "t c", "webA"), (3, "t d", "webA"),
        (4, "t e", None),
    ]))
    hand = [(None, 1, 1, 100), ("webA", 4, 2, 50)]
    got_spark, got_ora = _run_both(spark, "sample_temperature_mixture", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_duplicated_spans_null_text(spark, tmp_path):
    """NULL text = zero tokens, 0 spans, 0% — a defined row on both
    engines (the oracle previously emitted NULL n_tokens and a NULL
    dup_frac_pct for it — review round 11)."""
    d = _mk_sf(tmp_path, documents=_documents([
        (0, None, "s"),
        (1, "a b c d e f g h", "s"),
        (2, "a b c d e f g h", "s"),
    ]))
    hand = [(0, 0, 0, 0, 0), (1, 8, 1, 8, 100), (2, 8, 1, 8, 100)]
    got_spark, got_ora = _run_both(spark, "dedup_exact_substring_spans", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def _orders(rows):
    """rows: (o_orderkey, o_custkey, o_orderstatus)"""
    return pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
        }
    )


def test_hand_not_in_null_semantics(spark, tmp_path):
    """ANSI tri-state: ONE NULL in the NOT IN list -> zero rows; NOT
    EXISTS ignores it; filtering the NULL restores the complement.

    customers 1..5; orders custkeys {2:'O', 3:'F', 7:'P'} — the 'P' row
    becomes NULL in the CASE list.
    1_not_in_with_null: 0 ; 2_not_exists: {1,4,5} = 3 ;
    3_not_in_null_filtered: custkeys not in {2,3,7} = 3
    """
    cust = pa.table({"c_custkey": pa.array([1, 2, 3, 4, 5], pa.int64())})
    d = _mk_sf(
        tmp_path,
        customer=cust,
        orders=_orders([(10, 2, "O"), (11, 3, "F"), (12, 7, "P")]),
    )
    hand = [
        ("1_not_in_with_null", 0),
        ("2_not_exists", 3),
        ("3_not_in_null_filtered", 3),
    ]
    got_spark, got_ora = _run_both(spark, "subq_not_in_null_semantics", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_bitmap_distinct(spark, tmp_path):
    """Bitmap exact-distinct across bucket boundaries and the 1-based
    bit-position shift: custkey 0 AND 1 both present must count as TWO
    (an unshifted bitmap_bit_position collides them), and ids straddling
    the 32k bucket boundary exercise the outer OR-merge.

    status O custkeys {0, 1, 32767, 32768, 100000, 100000dup} -> 5
    status F custkeys {5} -> 1
    """
    d = _mk_sf(tmp_path, orders=_orders([
        (1, 0, "O"), (2, 1, "O"), (3, 32767, "O"), (4, 32768, "O"),
        (5, 100000, "O"), (6, 100000, "O"), (7, 5, "F"),
    ]))
    hand = [("F", 1), ("O", 5)]
    got_spark, got_ora = _run_both(spark, "agg_bitmap_distinct", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_transition_matrix(spark, tmp_path):
    """lead() journeys with a same-timestamp event_id tiebreak.

    u1: a@1 -> b@2 -> a@3   : transitions (a,b), (b,a)
    u2: b@1 -> b@2          : (b,b)
    u3: x and y at the SAME ts, event_ids 10 < 11 -> (x,y)
    per-source totals: a=1, b=2, x=1
    """
    base = _ts("2024-05-01T00:00:00")
    m = lambda k: base + dt.timedelta(minutes=k)
    d = _mk_sf(tmp_path, events=_events([
        (1, m(1), 1, "a", 0.0), (2, m(2), 1, "b", 0.0), (3, m(3), 1, "a", 0.0),
        (4, m(1), 2, "b", 0.0), (5, m(2), 2, "b", 0.0),
        (10, m(5), 3, "x", 0.0), (11, m(5), 3, "y", 0.0),
    ]))
    hand = [
        ("a", "b", 1, 10000),
        ("b", "a", 1, 5000),
        ("b", "b", 1, 5000),
        ("x", "y", 1, 10000),
    ]
    got_spark, got_ora = _run_both(spark, "events_transition_matrix", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_window_distinct_running(spark, tmp_path):
    """Running distinct = running sum of first-day new users.

    type 'a': day1 {u1,u2}, day2 {u2,u3}, day3 {u1}
    cum distinct: d1=2, d2=3 (u3 new), d3=3 (u1 seen)
    """
    d0 = _ts("2024-06-01T10:00:00")
    day = lambda n: d0 + dt.timedelta(days=n)
    d = _mk_sf(tmp_path, events=_events([
        (1, day(0), 1, "a", 0.0), (2, day(0), 2, "a", 0.0),
        (3, day(1), 2, "a", 0.0), (4, day(1), 3, "a", 0.0),
        (5, day(2), 1, "a", 0.0),
    ]))
    hand = [
        ("a", dt.date(2024, 6, 1), 2),
        ("a", dt.date(2024, 6, 2), 3),
        ("a", dt.date(2024, 6, 3), 3),
    ]
    got_spark, got_ora = _run_both(spark, "window_distinct_running", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_anomaly_zscore_daily(spark, tmp_path):
    """Integer z-score algebra: (7x-sum)^2*6 > 28*(7*sumsq-sum^2),
    flagged only with a full 7-day history.

    type 'a': 2 events/day for 7 days (windows with zero variance and
    x == mean -> never anomalous; short-history days never flag), then
    day 8 with 9 events: window [2,2,2,2,2,2,9] -> sum=21, sumsq=105,
    (63-21)^2*6 = 10584 > 28*(735-441) = 8232 -> anomaly.
    """
    d0 = _ts("2024-07-01T12:00:00")
    rows = []
    eid = 0
    for day in range(7):
        for k in range(2):
            eid += 1
            rows.append((eid, d0 + dt.timedelta(days=day, minutes=k), 1, "a", 0.0))
    for k in range(9):
        eid += 1
        rows.append((eid, d0 + dt.timedelta(days=7, minutes=k), 1, "a", 0.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [("a", dt.date(2024, 7, 1 + i), 2, 0) for i in range(7)]
    hand.append(("a", dt.date(2024, 7, 8), 9, 1))
    got_spark, got_ora = _run_both(spark, "events_anomaly_zscore_daily", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_interval_overlap_binned(spark, tmp_path):
    """Binned interval join == plain range predicate, incl. the
    half-open touch boundary.

    duration = (1 + floor(value) % 29) * 360 s from the second-truncated
    start. user 1:
      P1 [0, 360)      (value 0)
      E1 [100, 460)    -> P1xE1 overlap [100,360) = 260 s
      E2 [360, 720)    -> TOUCHES P1 at 360: half-open, NO pair
      P2 [400, 1120)   (value 1 -> 720 s) -> P2xE1 [400,460) = 60 s,
                          P2xE2 [400,720) = 320 s
    user 2: a lone error -> no output row.
    totals user 1: n=3, seconds=640, first purchase id 1
    """
    base = _ts("2024-08-01T00:00:00")
    s = lambda k: base + dt.timedelta(seconds=k)
    d = _mk_sf(tmp_path, events=_events([
        (1, s(0), 1, "purchase", 0.0),
        (2, s(100), 1, "error", 0.0),
        (3, s(360), 1, "error", 0.0),
        (4, s(400), 1, "purchase", 1.0),
        (5, s(50), 2, "error", 0.0),
    ]))
    hand = [(1, 3, 640, 1)]
    got_spark, got_ora = _run_both(spark, "join_interval_overlap_binned", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_repetition_fingerprints_decode_null_text(spark, tmp_path):
    """The three llmops specs whose oracles had drifted from the
    NULL-text contract (review round 11): repetition emits a (NULL
    metrics, keep=0) row instead of vanishing; fingerprints yield a
    NULL fp_bag group (absent content has no fingerprint — it must NOT
    merge with EMPTY text's md5('')); decode reports NULL n_frames.

    docs: 1 NULL text, 2 '' (empty), 3 'a a a a b' (repetitious:
    distinct 2*10=20 < 5*3=15? no: 20 >= 15 -> first test passes;
    bigrams: [aa,aa,aa,ab] n=4 <10 -> keep=1), 4 'a' (keep=1).
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (1, None, "s"), (2, "", "s"), (3, "a a a a b", "s"), (4, "a", "s"),
    ]))
    # repetition: (doc, n_tokens, distinct, top_tok, n_bigrams, top_bg, keep)
    hand_rep = [
        (1, None, None, None, None, None, 0),
        (2, 1, 1, 1, 0, 0, 1),      # ''.split -> ['']
        (3, 5, 2, 4, 4, 3, 1),
        (4, 1, 1, 1, 0, 0, 1),
    ]
    got_spark, got_ora = _run_both(spark, "text_repetition_filters", d)
    assert got_spark == hand_rep, "SPARK diverges from the hand derivation"
    assert got_ora == hand_rep, "ORACLE diverges from the hand derivation"

    got_spark, got_ora = _run_both(spark, "text_fingerprints", d)
    # groups: NULL fp_bag (doc 1), md5('') (doc 2), md5('a') (doc 4),
    # md5('a a a a b') (doc 3) — NULL text and empty text are SEPARATE
    assert len(got_spark) == 4 and got_spark[0][0] is None, got_spark
    assert got_spark[0][1:] == (1, 1, 0)  # NULL group: fp_exact NULL too
    assert got_spark == got_ora

    got_spark, got_ora = _run_both(spark, "multimodal_decode_features", d)
    by_id = {r[0]: r for r in got_spark}
    assert by_id[1][5] is None, "NULL payload must decode to NULL n_frames"
    assert by_id[2][5] == 1 and by_id[3][5] == 1
    assert got_spark == got_ora


def test_hand_containment_asymmetric(spark, tmp_path):
    """Broder containment over 12-char shingles, 80% threshold.

    B = 'abcdefghijklmnopqrstuvwxyz' (15 shingles)
    A = 'abcdefghijklmnop' (5 shingles, ALL in B)  -> A in B: 100%
    D = 'abcdefghijklmnoq' (5 shingles, 4 shared with A and B)
        -> D in A: 80%, D in B: 80%, A in D: 80% (exact boundary)
    B in anything: 5/15 or 4/15 -> never
    C = reversed alphabet: no shared shingles, no pairs
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (1, "abcdefghijklmnop", "s"),
        (2, "abcdefghijklmnopqrstuvwxyz", "s"),
        (3, "abcdefghijklmnoq", "s"),
        (4, "zyxwvutsrqponmlkjihgfedcba", "s"),
    ]))
    hand = [(1, 2, 100), (1, 3, 80), (3, 1, 80), (3, 2, 80)]
    got_spark, got_ora = _run_both(spark, "dedup_containment_asymmetric", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_peak_concurrency(spark, tmp_path):
    """+1/-1 sweep over 30-min intervals, half-open at the touch point.

    type 'a': starts 0, 10, 50 min -> [0,30) [10,40) [50,80):
      running 1,2,1,0,1,0 -> peak 2, n=3
    type 'b': starts 0 and EXACTLY 30 min -> [0,30) [30,60) touch:
      the end's -1 sorts before the start's +1 at t=30 -> peak 1, n=2
    """
    base = _ts("2024-09-01T00:00:00")
    m = lambda k: base + dt.timedelta(minutes=k)
    d = _mk_sf(tmp_path, events=_events([
        (1, m(0), 1, "a", 0.0), (2, m(10), 1, "a", 0.0), (3, m(50), 1, "a", 0.0),
        (4, m(0), 2, "b", 0.0), (5, m(30), 2, "b", 0.0),
    ]))
    hand = [("a", 2, 3), ("b", 1, 2)]
    got_spark, got_ora = _run_both(spark, "events_peak_concurrency", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_streak_longest_daily(spark, tmp_path):
    """Gaps-and-islands streaks with a same-day duplicate and an
    equal-length tie.

    u1 days: Jan 1 (x2 events), 2, 3 | 5 | 10, 11
      -> streaks len 3 (start Jan1), 1 (Jan5), 2 (Jan10):
         longest 3, n_streaks 3, longest_start Jan1
    u2 days: Jan 1, 2 | 5, 6 -> two len-2 streaks: tie resolves to the
      EARLIEST start -> (2, 2, 2, Jan1)
    u3: Jan 7 only (duplicated event) -> (1, 1, Jan7)
    """
    D = lambda day: _ts(f"2024-01-{day:02d}T12:00:00")
    d = _mk_sf(tmp_path, events=_events([
        (1, D(1), 1, "v", 0.0), (2, D(1), 1, "v", 0.0), (3, D(2), 1, "v", 0.0),
        (4, D(3), 1, "v", 0.0), (5, D(5), 1, "v", 0.0), (6, D(10), 1, "v", 0.0),
        (7, D(11), 1, "v", 0.0),
        (8, D(1), 2, "v", 0.0), (9, D(2), 2, "v", 0.0),
        (10, D(5), 2, "v", 0.0), (11, D(6), 2, "v", 0.0),
        (12, D(7), 3, "v", 0.0), (13, D(7), 3, "v", 0.0),
    ]))
    hand = [
        (1, 3, 3, dt.date(2024, 1, 1)),
        (2, 2, 2, dt.date(2024, 1, 1)),
        (3, 1, 1, dt.date(2024, 1, 7)),
    ]
    got_spark, got_ora = _run_both(spark, "events_streak_longest_daily", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_rolling_distinct_users_7d(spark, tmp_path):
    """7-day rolling distinct actives, report days = observed days only.

    (day, user) actives: Jan1 {u1 (x2 events), u2}, Jan5 {u1},
    Jan9 {u3, u4}.
    Jan1 window [Dec26..Jan1]: {u1, u2} -> 2
    Jan5 window [Dec30..Jan5]: Jan1 {u1,u2} + Jan5 {u1} -> {u1,u2} -> 2
    Jan9 window [Jan3..Jan9]: Jan5 {u1} + Jan9 {u3,u4} -> 3
    (Jan2..4, 6..8 are NOT report days — no events observed there.)
    """
    D = lambda day: _ts(f"2024-01-{day:02d}T08:00:00")
    d = _mk_sf(tmp_path, events=_events([
        (1, D(1), 1, "v", 0.0), (2, D(1), 1, "v", 0.0), (3, D(1), 2, "v", 0.0),
        (4, D(5), 1, "v", 0.0),
        (5, D(9), 3, "v", 0.0), (6, D(9), 4, "v", 0.0),
    ]))
    hand = [
        (dt.date(2024, 1, 1), 2),
        (dt.date(2024, 1, 5), 2),
        (dt.date(2024, 1, 9), 3),
    ]
    got_spark, got_ora = _run_both(spark, "events_rolling_distinct_users_7d", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_pareto_abc_class(spark, tmp_path):
    """Integer-cents ABC cut at EXACT boundaries, equal-revenue tie.

    per-customer cents: c1=800, c2=150 (two orders), c4=150, c3=50;
    total=1150. Ranked desc (custkey tiebreak): c1 rc=800, c2 rc=950,
    c4 rc=1100, c3 rc=1150.
    A: rc*100 <= 1150*80 = 92000 -> c1 (80000) only.
    B: rc*100 <= 1150*95 = 109250 -> c2 (95000).
    C: c4 (110000), c3 (115000).
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "o_custkey": pa.array([1, 2, 2, 3, 4], pa.int64()),
        "o_totalprice": pa.array([8.00, 1.00, 0.50, 0.50, 1.50], pa.float64()),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [("A", 1, 800), ("B", 1, 150), ("C", 2, 200)]
    got_spark, got_ora = _run_both(spark, "orders_pareto_abc_class", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def _embeddings(rows):
    """rows: (vec_id, embedding: list[float] | None, label)"""
    return pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })


def test_hand_matryoshka_truncate(spark, tmp_path):
    """First-8-dim truncation + L2 renorm, exact-in-float32 values.

    v1 = [3,4,0,0,0,0,0,0,99]: 9th dim ignored; norm sqrt(25)=5
         -> dim0 = floor(3/5 * 1e6) = 600000, norm_ppm = 5000000
    v2 = [0,0,0]: norm 0 -> dim0 NULL (zero-vector guard), norm_ppm 0
    v3 = [1]: shorter than 8 dims -> slice is [1]; 1000000 / 1000000
    v4 = [0.5]*4: norm sqrt(1)=1 -> 500000 / 1000000
    v5 = NULL embedding: NULL / NULL (flows, never crashes)
    """
    d = _mk_sf(tmp_path, embeddings=_embeddings([
        (1, [3.0, 4.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 99.0], 0),
        (2, [0.0, 0.0, 0.0], 1),
        (3, [1.0], 0),
        (4, [0.5, 0.5, 0.5, 0.5], 1),
        (5, None, 0),
    ]))
    hand = [
        (1, 0, 600000, 5000000),
        (2, 1, None, 0),
        (3, 0, 1000000, 1000000),
        (4, 1, 500000, 1000000),
        (5, 0, None, None),
    ]
    got_spark, got_ora = _run_both(spark, "embedding_truncate_renormalize", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_shot_boundaries(spark, tmp_path):
    """Frame-energy deltas over the utf-8 payload bytes, window=64,
    cut iff |delta| > 400 (STRICT).

    doc1 = 'a'*64+'b'*64+'z'*64: energies 97^2=9409, 98^2=9604,
      122^2=14884 -> deltas 195 (no), 5280 (cut) -> 3 frames, 1 cut
    doc2 = 'a'*100: frames of 64 and 36 samples, both energy 9409 -> 0
    doc3 = 'c'*64+'e'*64: 9801 vs 10201 -> delta EXACTLY 400 -> no cut
    doc4 = 'hi': one partial frame (104^2+105^2)//2 = 10920 -> 1 frame
    doc5 = NULL text: no payload -> no windows -> absent from output
    """
    d = _mk_sf(tmp_path, documents=_documents([
        (1, "a" * 64 + "b" * 64 + "z" * 64, "s"),
        (2, "a" * 100, "s"),
        (3, "c" * 64 + "e" * 64, "s"),
        (4, "hi", "s"),
        (5, None, "s"),
    ]))
    hand = [(1, 3, 1), (2, 2, 0), (3, 2, 0), (4, 1, 0)]
    got_spark, got_ora = _run_both(spark, "multimodal_shot_boundaries", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_rfm_segmentation(spark, tmp_path):
    """ntile(4) over 4 customers -> one per quartile, every tiebreak
    deterministic. gmax = Jan 20.

    c1: 1 order Jan10 10.00 -> rec 10, freq 1, mon 1000
    c2: Jan5 2.00 + Jan20 3.00 -> rec 0, freq 2, mon 500
    c3: Jan20 8.00 -> rec 0, freq 1, mon 800
    c4: Jan1 1.00 -> rec 19, freq 1, mon 100
    r (rec asc, custkey): c2=1 c3=2 c1=3 c4=4
    f (freq desc, custkey): c2=1 c1=2 c3=3 c4=4
    m (mon desc, custkey): c1=1 c3=2 c2=3 c4=4
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "o_custkey": pa.array([1, 2, 2, 3, 4], pa.int64()),
        "o_totalprice": pa.array([10.0, 2.0, 3.0, 8.0, 1.0], pa.float64()),
        "o_orderdate": pa.array(
            [_ts("2024-01-10"), _ts("2024-01-05"), _ts("2024-01-20"),
             _ts("2024-01-20"), _ts("2024-01-01")],
            pa.timestamp("us"),
        ),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [
        (1, 1, 3, 1, 500),
        (2, 3, 2, 1, 800),
        (3, 2, 1, 1, 1000),
        (4, 4, 4, 1, 100),
    ]
    got_spark, got_ora = _run_both(spark, "orders_rfm_segmentation", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_market_basket_pairs(spark, tmp_path):
    """Distinct collapse (duplicate (o1, p10) line) + support cut.

    o1 {10,20,30} (p10 twice), o2 {10,20}, o3 {10,20}, o4 {30}
    pair counts: (10,20)=3, (10,30)=1, (20,30)=1 -> only (10,20,3)
    """
    li = pa.table({
        "l_orderkey": pa.array([1, 1, 1, 1, 2, 2, 3, 3, 4], pa.int64()),
        "l_partkey": pa.array([10, 10, 20, 30, 10, 20, 10, 20, 30], pa.int64()),
    })
    d = _mk_sf(tmp_path, lineitem=li)
    hand = [(10, 20, 3)]
    got_spark, got_ora = _run_both(spark, "orders_market_basket_pairs", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_dau_wau_stickiness(spark, tmp_path):
    """Week of Mon Jan 1 2024: Mon {u1,u2}, Tue {u1} (u1 twice, distinct
    collapse) -> sum_dau 3, n_days 2, wau 2 -> 3e6 // 4 = 750000.
    Week of Jan 8: one day {u3} -> 1000000.
    """
    d = _mk_sf(tmp_path, events=_events([
        (1, _ts("2024-01-01T10:00:00"), 1, "v", 0.0),
        (2, _ts("2024-01-01T11:00:00"), 2, "v", 0.0),
        (3, _ts("2024-01-02T10:00:00"), 1, "v", 0.0),
        (4, _ts("2024-01-02T12:00:00"), 1, "v", 0.0),
        (5, _ts("2024-01-08T09:00:00"), 3, "v", 0.0),
    ]))
    hand = [
        (dt.date(2024, 1, 1), 2, 2, 750000),
        (dt.date(2024, 1, 8), 1, 1, 1000000),
    ]
    got_spark, got_ora = _run_both(spark, "events_dau_wau_stickiness", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_inactivity_churn_boundaries(spark, tmp_path):
    """Exact bucket boundaries in ELAPSED hours (floor of micros):
    gmax 2024-01-30T12:00. u1 @12:00 -> 0h, u2 @06:00 -> exactly 6h
    (active boundary), u5 @05:30 -> 6.5h floors to 6 (active),
    u4 Jan29@12:00 -> exactly 24h (lapsed boundary), u3 Jan29@11:00
    -> 25h (churned)."""
    d = _mk_sf(tmp_path, events=_events([
        (1, _ts("2024-01-30T12:00:00"), 1, "v", 0.0),
        (2, _ts("2024-01-30T06:00:00"), 2, "v", 0.0),
        (3, _ts("2024-01-29T11:00:00"), 3, "v", 0.0),
        (4, _ts("2024-01-29T12:00:00"), 4, "v", 0.0),
        (5, _ts("2024-01-30T05:30:00"), 5, "v", 0.0),
    ]))
    hand = [
        ("active", 3, 0, 6),
        ("churned", 1, 25, 25),
        ("lapsed", 1, 24, 24),
    ]
    got_spark, got_ora = _run_both(spark, "events_inactivity_churn", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_weighted_moving_avg(spark, tmp_path):
    """Weights 3,2,1 over the last three ACTIVE days, short frames at
    the series head, same-day events summing into one daily total.

    u1 daily cents: d1=100 (0.4+0.6), d2=200, d3=300, d4=400
    rn1: 100 -> 100000
    rn2: (1*300 + 500) / (1*2 + 3) = 800/5 = 160 -> 160000
    rn3: 1400/6 = 233.333... -> 233333
    rn4: weights 3,2,1 on 400,300,200 = 2000/6 -> 333333
    """
    d = _mk_sf(tmp_path, events=_events([
        (11, _ts("2024-01-01T08:00:00"), 1, "v", 0.4),
        (12, _ts("2024-01-01T09:00:00"), 1, "v", 0.6),
        (21, _ts("2024-01-02T08:00:00"), 1, "v", 2.0),
        (31, _ts("2024-01-03T08:00:00"), 1, "v", 3.0),
        (41, _ts("2024-01-04T08:00:00"), 1, "v", 4.0),
    ]))
    hand = [
        (1, dt.date(2024, 1, 1), 100000),
        (1, dt.date(2024, 1, 2), 160000),
        (1, dt.date(2024, 1, 3), 233333),
        (1, dt.date(2024, 1, 4), 333333),
    ]
    got_spark, got_ora = _run_both(spark, "events_weighted_moving_avg", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_first_touch_attribution(spark, tmp_path):
    """Same-timestamp first events tiebreak on event_id; purchase as
    the FIRST event attributes to 'purchase' itself.

    u1: click(id1)@T0 and view(id2)@T0 tie -> first = click; later
        purchase -> converted
    u2: view, never converts
    u3: purchase first -> first_touch purchase, converted
    """
    T0 = _ts("2024-01-05T10:00:00")
    d = _mk_sf(tmp_path, events=_events([
        (1, T0, 1, "click", 0.0),
        (2, T0, 1, "view", 0.0),
        (3, _ts("2024-01-06T10:00:00"), 1, "purchase", 0.0),
        (4, _ts("2024-01-05T11:00:00"), 2, "view", 0.0),
        (5, _ts("2024-01-05T12:00:00"), 3, "purchase", 0.0),
    ]))
    hand = [
        ("click", 1, 1, 1000000),
        ("purchase", 1, 1, 1000000),
        ("view", 1, 0, 0),
    ]
    got_spark, got_ora = _run_both(spark, "events_first_touch_attribution", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_interpurchase_gap_stats(spark, tmp_path):
    """Gaps [3,6,0,7]: same-day repeat order contributes a 0 gap;
    median = quantile_cont(0.5) of [0,3,6,7] = 4.5 -> 4500 milli;
    p90 at index 2.7 = 6 + 0.7*(7-6) = 6.7 -> 6700; avg 16000//4=4000.
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 2, 2, 2], pa.int64()),
        "o_totalprice": pa.array([1.0] * 6, pa.float64()),
        "o_orderdate": pa.array(
            [_ts("2024-01-01"), _ts("2024-01-04"), _ts("2024-01-10"),
             _ts("2024-01-01"), _ts("2024-01-01"), _ts("2024-01-08")],
            pa.timestamp("us"),
        ),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [(4, 0, 7, 4500, 6700, 4000)]
    got_spark, got_ora = _run_both(spark, "orders_interpurchase_gap_stats", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_variant_props_agg(spark, tmp_path):
    """Missing '$.k' and NULL props yield NULL (skipped by COUNT/SUM,
    never a crash); even test: k=4 even, k=3 odd, NULL k -> 0."""
    ev = pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array([_ts("2024-01-01T00:00:00")] * 4, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": pa.array(["a", "a", "a", "b"], pa.string()),
        "value": pa.array([0.0] * 4, pa.float64()),
        "props": pa.array(['{"k": 4}', '{"k": 3}', '{"j": 1}', None], pa.string()),
    })
    d = _mk_sf(tmp_path, events=ev)
    hand = [("a", 2, 7, 4, 1), ("b", 0, None, None, 0)]
    got_spark, got_ora = _run_both(spark, "json_variant_props_agg", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_phash_hamming_pairs(spark, tmp_path):
    """48-bit above-mean byte hash; Hamming boundary at EXACTLY 5.

    doc1 = 'z'+47a -> ph=1 (only the z byte is above mean)
    doc2 = same    -> ph=1: (1,2,0)
    doc3 = a,z,46a -> ph=2: (1,3) hamming 2
    doc4 = 7z+41a  -> ph=127: vs 1/2/3 hamming 6 -> EXCLUDED
    doc5 = 6z+42a  -> ph=63: vs doc4 hamming 1; vs doc1/2 hamming 5
           (exact boundary, included); vs doc3 hamming 5
    doc6 = 48*'y'  -> all bytes equal the mean -> ph=0: hamming 1 to
           doc1/2/3; 6 to doc5 (excluded); 7 to doc4 (excluded)
    All hashes < 2^16 so every pair is a band candidate (b1=b2=0).
    """
    a = "a"
    d = _mk_sf(tmp_path, documents=_documents([
        (1, "z" + a * 47, "s"),
        (2, "z" + a * 47, "s"),
        (3, a + "z" + a * 46, "s"),
        (4, "z" * 7 + a * 41, "s"),
        (5, "z" * 6 + a * 42, "s"),
        (6, "y" * 48, "s"),
    ]))
    hand = [
        (1, 2, 0), (1, 3, 2), (1, 5, 5), (1, 6, 1),
        (2, 3, 2), (2, 5, 5), (2, 6, 1),
        (3, 5, 5), (3, 6, 1),
        (4, 5, 1),
    ]
    got_spark, got_ora = _run_both(spark, "multimodal_phash_hamming_pairs", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_containment_boilerplate_recall(spark, tmp_path):
    """The doc-frequency cap must not zero the DENOMINATOR's recall: a
    doc whose text is header-boilerplate (capped, shared by 33+ docs)
    plus a unique tail, fully contained in a longer doc, must still
    flag 100% containment over its INFORMATIVE (filtered) shingles —
    the unfiltered denominator made it 10/39 = 25% and silently missed
    the pair (review round 12).

    header = 40 chars shared by 35 docs -> its 29 pure-header 12-gram
    shingles all exceed max_doc_freq=32 and are capped. A = header +
    10-char tail (filtered size 10: the boundary+tail shingles, unique
    to A and B). B = A + 5-char suffix -> contains every A shingle.
    Filler docs are pure header: filtered size 0, no pairs among them.
    """
    header = "h" * 20 + "abcdefghij" + "k" * 10  # 40 chars, lowercase
    a_text = header + "qrstuvwxyz"
    b_text = a_text + "12345"
    docs = [(1, a_text, "s"), (2, b_text, "s")]
    docs += [(100 + i, header, "s") for i in range(33)]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    hand = [(1, 2, 100)]
    got_spark, got_ora = _run_both(spark, "dedup_containment_asymmetric", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_sample_hash_topk(spark, tmp_path):
    """Expected order derived INDEPENDENTLY via hashlib (python's md5 of
    the decimal-string id — the exact bytes both engines hash): 7 'en'
    docs keep exactly the 5 smallest hex digests; 2 'fr' docs keep both
    (k larger than the group). The doc_id tiebreak never fires (no md5
    collisions in a 9-doc fixture)."""
    import hashlib

    docs = [(i, f"text {i}", "s") for i in range(1, 10)]
    tbl = _documents(docs)
    langs = ["en"] * 7 + ["fr"] * 2
    tbl = tbl.set_column(2, "lang", pa.array(langs, pa.string()))
    d = _mk_sf(tmp_path, documents=tbl)

    def h(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    en = sorted(range(1, 8), key=lambda i: (h(i), i))[:5]
    fr = sorted(range(8, 10), key=lambda i: (h(i), i))
    hand = [("en", rk + 1, i) for rk, i in enumerate(en)]
    hand += [("fr", rk + 1, i) for rk, i in enumerate(fr)]
    got_spark, got_ora = _run_both(spark, "sample_hash_topk_per_group", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_rolling_median_cents(spark, tmp_path):
    """One customer, three orders; k2 and k3 share a date so the
    (od, o_orderkey) tiebreak fixes frame order k1, k2, k3 with cents
    100, 301, 200 (3.01*100 = 300.999... must ROUND to 301, not floor):

      k1: frame [100]            -> 100.0, n=1
      k2: frame [100,301]        -> even count, (100+301)/2 = 200.5, n=2
      k3: frame [100,301,200]    -> sorted [100,200,301], median 200.0
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3], pa.int64()),
        "o_custkey": pa.array([1, 1, 1], pa.int64()),
        "o_totalprice": pa.array([1.00, 3.01, 2.00], pa.float64()),
        "o_orderdate": pa.array(
            [_ts("2024-01-01"), _ts("2024-01-02"), _ts("2024-01-02")],
            pa.timestamp("us"),
        ),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [(1, 1, 100.0, 1), (1, 2, 200.5, 2), (1, 3, 200.0, 3)]
    got_spark, got_ora = _run_both(spark, "window_rolling_median_cents", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_binary_decay_smoothing(spark, tmp_path):
    """Calendar-gap decay with the 31-day reach boundary pinned:

    'view':  Jan1 x2, Jan2 x1, Feb15 x4 (44-day gap, OUTSIDE reach)
      Jan1  -> 2.0 ; Jan2 -> 1 + 2*0.5 = 2.0 ; Feb15 -> 4.0 (no carry)
    'click': Jan1 x3, Jan31 x1 (gap EXACTLY 30 -> included at 2^-30)
      Jan31 -> 1 + 3*2^-30  (exact in doubles; computed independently
      below as 1 + 3*(0.5**30))
    """
    rows = []
    eid = 0
    for day, n, typ in [
        ("2024-01-01", 2, "view"), ("2024-01-02", 1, "view"),
        ("2024-02-15", 4, "view"),
        ("2024-01-01", 3, "click"), ("2024-01-31", 1, "click"),
    ]:
        for _ in range(n):
            eid += 1
            rows.append((eid, _ts(day + "T12:00:00"), 1, typ, 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    dt_ = dt.date
    hand = [
        ("click", dt_(2024, 1, 1), 3, 3.0),
        ("click", dt_(2024, 1, 31), 1, 1.0 + 3.0 * (0.5 ** 30)),
        ("view", dt_(2024, 1, 1), 2, 2.0),
        ("view", dt_(2024, 1, 2), 1, 2.0),
        ("view", dt_(2024, 2, 15), 4, 4.0),
    ]
    got_spark, got_ora = _run_both(spark, "events_binary_decay_smoothing", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_cohort_retention(spark, tmp_path):
    """Linear month index ym = year*12 + month (2024-01 -> 24289).

    c1: Jan 10.00 ; Mar 2.00 + 3.00  -> cohort 24289
      (24289, offset 0): 1 active, 1000 cents
      (24289, offset 2): 1 active, 500 cents (both March orders)
    c2: Feb 7.00 -> (24290, 0): 1 active, 700
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 2], pa.int64()),
        "o_totalprice": pa.array([10.0, 2.0, 3.0, 7.0], pa.float64()),
        "o_orderdate": pa.array(
            [_ts("2024-01-15"), _ts("2024-03-01"), _ts("2024-03-20"),
             _ts("2024-02-10")],
            pa.timestamp("us"),
        ),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [
        (24289, 0, 1, 1000),
        (24289, 2, 1, 500),
        (24290, 0, 1, 700),
    ]
    got_spark, got_ora = _run_both(spark, "orders_cohort_retention", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_audience_overlap(spark, tmp_path):
    """Distinct collapse + truncating basis points + absent zero-overlap
    pairs:

    A users {1,2,3} (u1 twice -> distinct), B {2,3,4,5}, C {9},
    D {7,8}, E {8,9}. A/C, A/D, A/E, B/C, B/D, B/E, C/D share no user
    -> NO output row for any of them.
      (A,B): both {2,3}=2, union 3+4-2=5 -> 20000//5 = 4000 bp
      (C,E): both {9}=1,  union 1+2-1=2 -> 10000//2 = 5000 bp
      (D,E): both {8}=1,  union 2+2-1=3 -> 10000//3 = 3333 bp (trunc)
    """
    rows = []
    eid = 0
    for typ, users in [("A", [1, 1, 2, 3]), ("B", [2, 3, 4, 5]),
                       ("C", [9]), ("D", [7, 8]), ("E", [8, 9])]:
        for u in users:
            eid += 1
            rows.append((eid, _ts("2024-01-01T00:00:00"), u, typ, 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        ("A", "B", 2, 3, 4, 4000),
        ("C", "E", 1, 1, 2, 5000),
        ("D", "E", 1, 2, 2, 3333),
    ]
    got_spark, got_ora = _run_both(spark, "events_audience_overlap", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_wow_top_movers(spark, tmp_path):
    """Monday-start weeks + the floor-vs-truncate trap on negative
    percent change:

    V: Jan1(Mon) + Jan7(Sun) -> week Jan1 cnt 2 (Sunday belongs to the
       PRECEDING Monday week); Jan8 x5 -> week Jan8; Jan15 x1.
      w2: delta +3, 30000 DIV 2 = 15000 ; w3: delta -4, -40000 DIV 5 = -8000
    W: week Jan1 x3, week Jan8 x2 -> delta -1, -10000/3 = -3333.33 ->
       TRUNCATES to -3333 (floor division would give -3334).
    Rank by abs(delta) desc: V w3 (4), V w2 (3), W w2 (1).
    """
    rows = []
    eid = 0
    for day, n, typ in [
        ("2024-01-01", 1, "V"), ("2024-01-07", 1, "V"),
        ("2024-01-08", 5, "V"), ("2024-01-15", 1, "V"),
        ("2024-01-02", 3, "W"), ("2024-01-09", 2, "W"),
    ]:
        for _ in range(n):
            eid += 1
            rows.append((eid, _ts(day + "T10:00:00"), 1, typ, 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    dt_ = dt.date
    hand = [
        ("V", dt_(2024, 1, 15), 1, 5, -4, -8000),
        ("V", dt_(2024, 1, 8), 5, 2, 3, 15000),
        ("W", dt_(2024, 1, 8), 2, 3, -1, -3333),
    ]
    got_spark, got_ora = _run_both(spark, "events_wow_top_movers", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_quality_profile(spark, tmp_path):
    """NULLs counted per column; numeric min/max computed numerically
    BEFORE stringification (string-min of {1,2,3} and {10,20} would be
    '1' and '10' regardless — the 9-vs-10 trap needs 2-digit ids):

      k {1,2,3}: 0 nulls, 3 distinct, '1'/'3'
      c {10,10,20}: 0 nulls, 2 distinct, '10'/'20'
      status {'O',NULL,'F'}: 1 null, 2 distinct, 'F'/'O'
      priority {'1-URGENT','2-HIGH',NULL}: 1 null, 2 distinct
    """
    orders = pa.table({
        "o_orderkey": pa.array([1, 2, 3], pa.int64()),
        "o_custkey": pa.array([10, 10, 20], pa.int64()),
        "o_orderstatus": pa.array(["O", None, "F"], pa.string()),
        "o_orderpriority": pa.array(["1-URGENT", "2-HIGH", None], pa.string()),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [
        ("o_custkey", 3, 0, 2, "10", "20"),
        ("o_orderkey", 3, 0, 3, "1", "3"),
        ("o_orderpriority", 3, 1, 2, "1-URGENT", "2-HIGH"),
        ("o_orderstatus", 3, 1, 2, "F", "O"),
    ]
    got_spark, got_ora = _run_both(spark, "quality_profile_columns", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_bm25_rank(spark, tmp_path):
    """Scores recomputed INDEPENDENTLY below with math.log (k1=1.2,
    b=0.75). Corpus: doc1 'spark spark merge' (dl 3), doc2 'spark x y z'
    (dl 4), doc3 'x y' (dl 2, no query terms -> absent from output),
    doc4 NULL (absent everywhere, excluded from N and avgdl).

      N=3, avgdl=(3+4+2)/3=3.0 ; df: spark=2, merge=1
      doc1 = ln(1.6)*2*2.2/(2+1.2) + ln(1+2.5/1.5)*1*2.2/(1+1.2)
      doc2 = ln(1.6)*1*2.2/(1+1.2*(0.25+0.75*4/3))
    """
    import math

    docs = [(1, "spark spark merge", "s"), (2, "spark x y z", "s"),
            (3, "x y", "s"), (4, None, "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    idf_spark = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    idf_merge = math.log(1.0 + (3.0 - 1 + 0.5) / (1 + 0.5))
    # per-term 1e-6 floor BEFORE the per-doc sum (round-13 advice fix:
    # an order-insensitive integer ranking key — a whole-sum floor can
    # flip across engines when the sum lands within 1 ulp of the grid)
    c1_spark = idf_spark * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 3.0))
    c1_merge = idf_merge * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 3.0))
    s2 = idf_spark * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 4 / 3.0))
    hand = sorted(
        [
            (1, math.floor(c1_spark * 1e6) + math.floor(c1_merge * 1e6)),
            (2, math.floor(s2 * 1e6)),
        ],
        key=lambda r: (-r[1], r[0]),
    )
    got_spark, got_ora = _run_both(spark, "text_bm25_rank", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_char_entropy(spark, tmp_path):
    """H = log2(N) - sum(c log2 c)/N, recomputed with math.log2:

      'aaaa' -> log2(4) - 4*2/4 = 0.0      (1 distinct)
      'ab'   -> 1.0                        (2 x p=1/2)
      'abcd' -> 2.0                        (4 x p=1/4)
      'aab'  -> log2(3) - (2*1 + 0)/3 = 0.918296 (rounded to 6)
      NULL and '' docs are absent (no distribution to measure).
    """
    import math

    docs = [(1, "aaaa", "s"), (2, "ab", "s"), (3, "abcd", "s"),
            (4, "aab", "s"), (5, None, "s"), (6, "", "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    h_aab = round(math.log2(3) - (2 * math.log2(2) + 1 * math.log2(1)) / 3, 6)
    hand = [
        (1, 4, 1, 0.0),
        (2, 2, 2, 1.0),
        (3, 4, 4, 2.0),
        (4, 3, 2, h_aab),
    ]
    got_spark, got_ora = _run_both(spark, "text_char_entropy", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_active_time_union(spark, tmp_path):
    """5-minute intervals, merge overlapping OR touching:

    u1: 00:00, 00:02 (overlap), 00:10 (gap: prev max end 00:07 < 00:10)
        -> [00:00,00:07) 420s + [00:10,00:15) 300s = 720s, 2 sessions
    u2: 00:00, 00:05 EXACTLY touching (s == prev max end -> NOT s > pmax
        -> merged) -> [00:00,00:10) = 600s, 1 session
    u3: one event -> 300s
    """
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:02:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T00:10:00"), 1, "view", 1.0),
        (4, _ts("2024-01-01T00:00:00"), 2, "view", 1.0),
        (5, _ts("2024-01-01T00:05:00"), 2, "view", 1.0),
        (6, _ts("2024-01-01T00:00:00"), 3, "view", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [(1, 2, 720), (2, 1, 600), (3, 1, 300)]
    got_spark, got_ora = _run_both(spark, "events_active_time_union", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_mad_dispersion(spark, tmp_path):
    """Odd group: cents {100,200,400} -> median 200, |dev| {100,0,200}
    -> MAD 100. Even group: {100,200,300,1000} -> median 250 (exact
    interpolated half), |dev| {150,50,50,750} -> sorted {50,50,150,750}
    -> MAD (50+150)/2 = 100.
    """
    orders = pa.table({
        "o_orderkey": pa.array(list(range(1, 8)), pa.int64()),
        "o_totalprice": pa.array(
            [1.00, 2.00, 4.00, 1.00, 2.00, 3.00, 10.00], pa.float64()
        ),
        "o_orderpriority": pa.array(
            ["1-ODD"] * 3 + ["2-EVEN"] * 4, pa.string()
        ),
    })
    d = _mk_sf(tmp_path, orders=orders)
    hand = [
        ("1-ODD", 3, 200.0, 100.0),
        ("2-EVEN", 4, 250.0, 100.0),
    ]
    got_spark, got_ora = _run_both(spark, "orders_mad_dispersion", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_quantized_centroids(spark, tmp_path):
    """x64 quantization and scale-free L1:

    label 0: v1 [1.0, -0.5] -> q [64, -32]; v2 [0.5, 0.5] -> q [32, 32]
      centroid sums s = [96, 0], n = 2
      d1 = |64*2-96| + |-64-0| = 32 + 64 = 96 ; d2 = |64-96| + |64-0| = 96
      -> l1n_sum 192, l1n_avg 96
    label 1: v3 [1/128, -1/128] -> v*64 = +-0.5 EXACTLY -> rounds away
      from zero to [1, -1] on both engines; single vector -> distance 0
    """
    d = _mk_sf(tmp_path, embeddings=_embeddings([
        (1, [1.0, -0.5], 0),
        (2, [0.5, 0.5], 0),
        (3, [0.0078125, -0.0078125], 1),
    ]))
    hand = [(0, 2, 192, 96), (1, 1, 0, 0)]
    got_spark, got_ora = _run_both(spark, "embedding_quantized_centroids", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_conversion_latency(spark, tmp_path):
    """Quartiles over integer microsecond latencies {0, 1e6, 10e6}
    (linear interpolation at idx q*(n-1)):

    u1 view@t0 purchase@t0+10s -> 10e6 ; u2 -> 1e6
    u3 purchase BEFORE first view -> excluded ; u4 view only -> excluded
    u5 purchase at the SAME us as view -> 0 (>= boundary included)
    p25: idx 0.5 -> 500000.0 ; p50 -> 1e6 ; p75: idx 1.5 -> 5.5e6
    """
    t0 = _ts("2024-01-01T00:00:00")
    rows = [
        (1, t0, 1, "view", 1.0),
        (2, _ts("2024-01-01T00:00:10"), 1, "purchase", 1.0),
        (3, t0, 2, "view", 1.0),
        (4, _ts("2024-01-01T00:00:01"), 2, "purchase", 1.0),
        (5, t0, 3, "purchase", 1.0),
        (6, _ts("2024-01-01T00:00:10"), 3, "view", 1.0),
        (7, t0, 4, "view", 1.0),
        (8, t0, 5, "view", 1.0),
        (9, t0, 5, "purchase", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [(3, 500000.0, 1000000.0, 5500000.0)]
    got_spark, got_ora = _run_both(
        spark, "events_conversion_latency_quantiles", d
    )
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_hhi_concentration(spark, tmp_path):
    """Truncated-bp shares keep HHI integer and order-independent:

    A: u1 x3, u2 x1 -> shares 7500, 2500 -> HHI 56250000 + 6250000
       = 62500000, top 7500
    B: 3 users x1 -> share 3333 each (truncated) -> HHI 3*3333^2
       = 33326667, top 3333
    """
    rows = []
    eid = 0
    for typ, users in [("A", [1, 1, 1, 2]), ("B", [7, 8, 9])]:
        for u in users:
            eid += 1
            rows.append((eid, _ts("2024-01-01T00:00:00"), u, typ, 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        ("A", 2, 62500000, 7500),
        ("B", 3, 3 * 3333 * 3333, 3333),
    ]
    got_spark, got_ora = _run_both(spark, "events_hhi_concentration", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_basket_lift(spark, tmp_path):
    """Rule metrics in truncated bp, N = 4 baskets:

    baskets: o1{10,20}, o2{10,20}, o3{10,30}, o4{20}
    supports: n_10 = 3, n_20 = 3, n_30 = 1
    pairs: (10,20) in 2 baskets (kept), (10,30) in 1 (support cut)
    conf(10->20) = 20000 // 3 = 6666 bp
    lift = (10000 * 2 * 4) // (3 * 3) = 80000 // 9 = 8888 bp
    """
    li = pa.table({
        "l_orderkey": pa.array([1, 1, 2, 2, 3, 3, 4], pa.int64()),
        "l_partkey": pa.array([10, 20, 10, 20, 10, 30, 20], pa.int64()),
    })
    d = _mk_sf(tmp_path, lineitem=li)
    hand = [(10, 20, 2, 3, 3, 6666, 8888)]
    got_spark, got_ora = _run_both(spark, "orders_basket_lift", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_dow_seasonality(spark, tmp_path):
    """Weekday mapping pinned cross-engine (Spark dayofweek Sunday=1;
    DuckDB dayofweek Sunday=0, offset +1 in the oracle): 2024-01-01 is
    a MONDAY (dow 2), 2024-01-07 a SUNDAY (dow 1).

    V: Mon x3, Sun x1 -> tot 4: Mon share 30000//4 = 7500 (dev 6072),
       Sun share 2500 (dev |2500-1428| = 1072)
    """
    rows = []
    eid = 0
    for day, n in [("2024-01-01", 3), ("2024-01-07", 1)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, _ts(day + "T12:00:00"), 1, "V", 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        ("V", 1, 1, 2500, 1072),
        ("V", 2, 3, 7500, 6072),
    ]
    got_spark, got_ora = _run_both(spark, "events_dow_seasonality", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_tfidf_top_terms(spark, tmp_path):
    """tf * ln(N/df) recomputed with math.log; N counts EVERY doc under
    the id<100 restriction INCLUDING the NULL-text doc (both engines
    count docs, not tokenizable docs), and the id>=100 doc is outside
    the corpus (excluded from N and df):

      corpus: d1 'apple apple banana', d2 'banana cherry',
              d3 'cherry cherry cherry date', d50 NULL, (d100 excluded)
      N = 4 ; df: apple 1, banana 2, cherry 2, date 1
      d2's two terms TIE on the rounded score -> token-order tiebreak.
    """
    import math

    docs = [(1, "apple apple banana", "s"), (2, "banana cherry", "s"),
            (3, "cherry cherry cherry date", "s"), (50, None, "s"),
            (100, "zebra zebra", "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    ln = math.log
    hand = [
        (1, "apple", 2, 1, round(2 * ln(4 / 1), 4), 1),
        (1, "banana", 1, 2, round(ln(4 / 2), 4), 2),
        (2, "banana", 1, 2, round(ln(2.0), 4), 1),
        (2, "cherry", 1, 2, round(ln(2.0), 4), 2),
        (3, "cherry", 3, 2, round(3 * ln(2.0), 4), 1),
        (3, "date", 1, 1, round(ln(4.0), 4), 2),
    ]
    got_spark, got_ora = _run_both(spark, "text_tfidf_top_terms", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_window_fill_forward(spark, tmp_path):
    """last_value IGNORE NULLS over the running frame; NULLs planted at
    event_id % 7 == 0:

    u1: e7(planted NULL, nothing before -> stays NULL), e8 v=1.5,
        e14(NULL -> carries 1.5), e15 v=2.25
    u2: e21(NULL -> NULL), e22 v=3.0 (same-partition later row)
    """
    rows = [
        (7, _ts("2024-01-01T00:00:00"), 1, "view", 9.99),
        (8, _ts("2024-01-01T01:00:00"), 1, "view", 1.5),
        (14, _ts("2024-01-01T02:00:00"), 1, "view", 8.88),
        (15, _ts("2024-01-01T03:00:00"), 1, "view", 2.25),
        (21, _ts("2024-01-01T00:00:00"), 2, "view", 7.77),
        (22, _ts("2024-01-01T01:00:00"), 2, "view", 3.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        (7, 1, None), (8, 1, 1.5), (14, 1, 1.5), (15, 1, 2.25),
        (21, 2, None), (22, 2, 3.0),
    ]
    got_spark, got_ora = _run_both(spark, "window_fill_forward", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_chunk_windows(spark, tmp_path):
    """200-char windows at stride 150; md5 recomputed via hashlib:

    d1 (200 chars): floor(199/150)=1 -> chunk0 = chars 1..200 (len 200),
      chunk1 = chars 151..200 (len 50)
    d2 (151 chars): chunk0 len 151, chunk1 = char 151 alone (len 1)
    d3 NULL and d4 '' -> filtered (no chunks)
    """
    import hashlib

    t1 = "ab" * 100
    t2 = "x" * 151
    docs = [(1, t1, "s"), (2, t2, "s"), (3, None, "s"), (4, "", "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    hand = [
        (1, 0, 1, 200, h(t1[0:200])),
        (1, 1, 151, 50, h(t1[150:200])),
        (2, 0, 1, 151, h(t2)),
        (2, 1, 151, 1, h("x")),
    ]
    got_spark, got_ora = _run_both(spark, "text_chunk_windows", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_rolling_hash(spark, tmp_path):
    """Polynomial fold (acc*31 + ord) % 1000003 recomputed in Python:

    'ab' -> 97*31 + 98 = 3105; shorter than the 8-char window ->
    fp_winnow_min folds the whole doc (one clamped window) = 3105.
    'abcdefghij' (10 chars) -> three 8-char windows (i = 1..3),
    winnow = min of their folds. '' -> (0, 0) by the explicit guard.
    NULL text -> NULL fingerprints on both engines.
    """
    P = 1000003

    def fold(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    t2 = "abcdefghij"
    docs = [(1, "ab", "s"), (2, t2, "s"), (3, "", "s"), (4, None, "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    win2 = min(fold(t2[i:i + 8]) for i in range(0, 3))
    hand = [
        (1, 3105, 3105),
        (2, fold(t2), win2),
        (3, 0, 0),
        (4, None, None),
    ]
    got_spark, got_ora = _run_both(spark, "text_rolling_hash", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_quantize_int8(spark, tmp_path):
    """codes = floor(x/scale*127 + 0.5), scale = max-abs (all exact
    float32 values so the doubles are exact):

    v1 [1.0, -0.5]: scale 1 -> [127, floor(-63.0) = -63]
       sum 64, min -63, max 127, saturated 1
    v2 [0.5, 0.25]: scale 0.5 -> [127, floor(64.0) = 64] -> sum 191
    v4 [-1.0]: floor(-126.5) = -127 -> NEGATIVE saturation counts
    v3 all-zero (scale 0) and v5 NULL embedding are filtered out.
    """
    d = _mk_sf(tmp_path, embeddings=_embeddings([
        (1, [1.0, -0.5], 0),
        (2, [0.5, 0.25], 0),
        (3, [0.0, 0.0], 1),
        (4, [-1.0], 1),
        (5, None, 1),
    ]))
    hand = [
        (1, 1.0, 64, -63, 127, 1),
        (2, 0.5, 191, 64, 127, 1),
        (4, 1.0, -127, -127, -127, 1),
    ]
    got_spark, got_ora = _run_both(spark, "embedding_quantize_int8", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_resize_null_empty_payload(spark, tmp_path):
    """NULL payload -> uniformly NULL metrics (DuckDB's greatest()
    IGNORES a NULL argument and said new dims = 1; the oracle now
    CASE-wraps). EMPTY payload -> real metrics with md5('') content
    (DuckDB's array_to_string over an empty transform yields NULL; the
    oracle now coalesces). Found by the round-12-continuation NULL/empty
    differential sweep.

    'abcd' (len 4): width 4%64+1=5, height 28%64+1=29, new 2/14,
      n_bytes (4+1)//2 = 2, content = chars 1,3 = 'ac'.
    """
    import hashlib

    docs = [(1, "abcd", "s"), (2, None, "s"), (3, "", "s")]
    d = _mk_sf(tmp_path, documents=_documents(docs))
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    hand = [
        (1, 5, 29, 2, 14, 2, h("ac")),
        (2, None, None, None, None, None, None),
        (3, 1, 1, 1, 1, 0, h("")),
    ]
    got_spark, got_ora = _run_both(spark, "multimodal_resize_batch", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def _orders_full(rows):
    """rows: (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
    o_orderdate, o_orderpriority)"""
    return pa.table({
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
        "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
        "o_orderdate": pa.array([r[4] for r in rows], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in rows], pa.string()),
    })


def test_hand_gini_coefficient(spark, tmp_path):
    """Segment P: customer cents {100, 100, 200} sorted with custkey
    tiebreak -> i*x = 1*100 + 2*100 + 3*200 = 900; n=3, S=400;
    G_bp = (2*900 - 4*400) * 10000 // (3*400) = 2000000 // 1200 = 1666.
    Segment Q: one customer -> 2*100 - 2*100 = 0 -> 0 bp (perfect
    equality at n=1). Unpriced order excluded by the domain filter."""
    orders = _orders_full([
        (1, 11, "O", 1.00, _ts("2024-01-01T00:00:00"), "P"),
        (2, 12, "O", 1.00, _ts("2024-01-02T00:00:00"), "P"),
        (3, 13, "O", 2.00, _ts("2024-01-03T00:00:00"), "P"),
        (4, 21, "O", 1.00, _ts("2024-01-04T00:00:00"), "Q"),
        (5, 22, "O", None, _ts("2024-01-05T00:00:00"), "Q"),
    ])
    d = _mk_sf(tmp_path, orders=orders)
    hand = [("P", 3, 400, 1666), ("Q", 1, 100, 0)]
    got_spark, got_ora = _run_both(spark, "orders_gini_coefficient", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_funnel_any_order(spark, tmp_path):
    """Day 1: u1 completes all three OUT OF ORDER (purchase first),
    u2 views only, u3 does view+click+signup (signup is not a stage)
    -> 3 active, 1 completed, 3333 bp. Day 2: u1 view+click only
    (no purchase: sequence-free but still needs all three THAT day)
    -> 1 active, 0 completed, 0 bp. NULL-user event excluded."""
    rows = [
        (1, _ts("2024-01-01T01:00:00"), 1, "purchase", 1.0),
        (2, _ts("2024-01-01T02:00:00"), 1, "click", 1.0),
        (3, _ts("2024-01-01T03:00:00"), 1, "view", 1.0),
        (4, _ts("2024-01-01T04:00:00"), 2, "view", 1.0),
        (5, _ts("2024-01-01T05:00:00"), 3, "view", 1.0),
        (6, _ts("2024-01-01T06:00:00"), 3, "click", 1.0),
        (7, _ts("2024-01-01T07:00:00"), 3, "signup", 1.0),
        (8, _ts("2024-01-02T01:00:00"), 1, "view", 1.0),
        (9, _ts("2024-01-02T02:00:00"), 1, "click", 1.0),
        (10, _ts("2024-01-01T08:00:00"), None, "purchase", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        (dt.date(2024, 1, 1), 3, 1, 3333),
        (dt.date(2024, 1, 2), 1, 0, 0),
    ]
    got_spark, got_ora = _run_both(spark, "events_funnel_any_order", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_zipf_rank_frequency(spark, tmp_path):
    """Corpus tokens: a x4, b x2, c x2, d x1. Rank ties (b, c) break by
    token ascending. rel_freq_bp = freq * 10000 // 4."""
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(["a a b c", "a b c a", None], pa.string()),
        "lang": pa.array(["en", "en", "en"], pa.string()),
        "source": pa.array(["s", "s", "s"], pa.string()),
        "n_chars": pa.array([7, 7, 0], pa.int64()),
    })
    d = _mk_sf(tmp_path, documents=docs)
    hand = [
        (1, "a", 4, 10000),
        (2, "b", 2, 5000),
        (3, "c", 2, 5000),
        (4, "d", 1, 2500),
    ]
    # 'd' appears once: add a doc carrying it
    docs2 = pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": pa.array(["a a b c", "a b c a", None, "d"], pa.string()),
        "lang": pa.array(["en"] * 4, pa.string()),
        "source": pa.array(["s"] * 4, pa.string()),
        "n_chars": pa.array([7, 7, 0, 1], pa.int64()),
    })
    d = _mk_sf(tmp_path, documents=docs2)
    got_spark, got_ora = _run_both(spark, "text_zipf_rank_frequency", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_fuzzy_invoice_pairs(spark, tmp_path):
    """Cust 1: orders on day 1, day 5, day 20 -> pairs (1,2) gap 4;
    (1,3)/(2,3) exceed 7 days. EXACT 7-day boundary kept (cust 2:
    day 1 vs day 8). Cross-customer never pairs; cents delta exact."""
    orders = _orders_full([
        (1, 1, "O", 100.00, _ts("2024-01-01T00:00:00"), "P"),
        (2, 1, "O", 101.50, _ts("2024-01-05T00:00:00"), "P"),
        (3, 1, "O", 100.00, _ts("2024-01-20T00:00:00"), "P"),
        (4, 2, "O", 50.00, _ts("2024-01-01T00:00:00"), "P"),
        (5, 2, "O", 49.00, _ts("2024-01-08T00:00:00"), "P"),
        (6, 3, "O", 100.00, _ts("2024-01-01T00:00:00"), "P"),
    ])
    d = _mk_sf(tmp_path, orders=orders)
    hand = [(1, 1, 2, 4, 150), (2, 4, 5, 7, 100)]
    got_spark, got_ora = _run_both(spark, "orders_fuzzy_invoice_pairs", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_boundary_overlap(spark, tmp_path):
    """doc1 ends 'ABCDEFGHIJKL' (12 chars), doc2 starts with exactly
    those 12 -> pair (1,2). doc3 starts with an 11-char prefix of it
    then diverges -> no pair. Short doc (<12 chars) excluded. Self-pair
    (a doc whose head equals its own tail) excluded by doc_a <> doc_b."""
    docs = _documents([
        (1, "xxxxABCDEFGHIJKL", "s"),
        (2, "ABCDEFGHIJKLyyyy", "s"),
        (3, "ABCDEFGHIJKZzzzz", "s"),
        (4, "short", "s"),
    ])
    d = _mk_sf(tmp_path, documents=docs)
    hand = [(1, 2, 16, 16)]
    got_spark, got_ora = _run_both(spark, "dedup_boundary_overlap_pairs", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_boundary_overlap_hot_gram_cap(spark, tmp_path):
    """Degenerate boilerplate boundary (r15 judge finding #1): 20 docs
    END with the same 12-char gram and 20 docs START with it — combined
    frequency 40 > the cap of 32, so the gram is dropped and contributes
    ZERO pairs instead of 20 x 20 = 400 (quadratic in the hot-group
    size). A rare boundary in the same corpus still pairs, proving the
    cap is per-gram, not a global kill-switch."""
    rows = []
    # 20 tail-side boilerplate docs: unique 12-char heads, shared tail
    for i in range(20):
        rows.append((i, f"head{i:08d}" + "BOILERPLATE!", "s"))
    # 20 head-side boilerplate docs: shared head, unique 12-char tails
    for i in range(20):
        rows.append((100 + i, "BOILERPLATE!" + f"tail{i:08d}", "s"))
    # the rare continuation pair that must survive the cap
    rows.append((900, "xxxxABCDEFGHIJKL", "s"))
    rows.append((901, "ABCDEFGHIJKLyyyy", "s"))
    d = _mk_sf(tmp_path, documents=_documents(rows))
    hand = [(900, 901, 16, 16)]
    got_spark, got_ora = _run_both(spark, "dedup_boundary_overlap_pairs", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_survival_curve(spark, tmp_path):
    """u1 spans day0..day2 (lifespan 2), u2 day0 only (0), u3 day0..day1
    (1). Histogram {0:1, 1:1, 2:1}; suffix sums: d0=3, d1=2, d2=1;
    bp over 3 users: 10000, 6666, 3333."""
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-03T00:00:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T00:00:00"), 2, "view", 1.0),
        (4, _ts("2024-01-01T00:00:00"), 3, "view", 1.0),
        (5, _ts("2024-01-02T00:00:00"), 3, "view", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [(0, 3, 10000), (1, 2, 6666), (2, 1, 3333)]
    got_spark, got_ora = _run_both(spark, "events_survival_curve", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_norm_outlier_audit(spark, tmp_path):
    """Norms: [1.0]*6 vectors (norm_e6=1_000_000) plus one zero vector
    (0) and one doubled vector ([2,0,...] -> 2_000_000). Quartiles over
    {0, 1e6 x6, 2e6}: q1 = 1e6 (pos 2.75 interpolates within the 1e6
    run), q3 = 1e6; IQR 0 -> fences collapse to [1e6, 1e6]: the zero
    vector is low, the doubled one high."""
    dim = 8
    unit = [1.0] + [0.0] * (dim - 1)
    rows = (
        [(i, unit, 0) for i in range(1, 7)]
        + [(7, [0.0] * dim, 0), (8, [2.0] + [0.0] * (dim - 1), 0)]
    )
    d = _mk_sf(tmp_path, embeddings=_embeddings(rows))
    hand = [(8, 1000000.0, 1000000.0, 1, 1)]
    got_spark, got_ora = _run_both(spark, "embedding_norm_outliers", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_length_histogram_log2(spark, tmp_path):
    """Token counts: 1 -> bucket 0, 2 and 3 -> bucket 1, 8 -> bucket 3;
    empty text ('' splits to one empty token, size 1 -> bucket 0);
    NULL text excluded."""
    docs = _documents([
        (1, "a", "s"),
        (2, "a b", "s"),
        (3, "a b c", "s"),
        (4, " ".join(["t"] * 8), "s"),
        (5, "", "s"),
        (6, None, "s"),
    ])
    d = _mk_sf(tmp_path, documents=docs)
    hand = [(0, 1, 2), (1, 2, 2), (3, 8, 1)]
    got_spark, got_ora = _run_both(
        spark, "documents_length_histogram_log2", d
    )
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_benford_first_digit(spark, tmp_path):
    """Cents: 12345 (digit 1), 199 (1), 2050 (2), 999 (9) -> counts
    {1: 2, 2: 1, 9: 1}; shares 5000, 2500, 2500 bp. A zero total
    (digit 0) is excluded from the profile."""
    orders = _orders_full([
        (1, 1, "O", 123.45, _ts("2024-01-01T00:00:00"), "P"),
        (2, 1, "O", 1.99, _ts("2024-01-01T00:00:00"), "P"),
        (3, 1, "O", 20.50, _ts("2024-01-01T00:00:00"), "P"),
        (4, 1, "O", 9.99, _ts("2024-01-01T00:00:00"), "P"),
        (5, 1, "O", 0.00, _ts("2024-01-01T00:00:00"), "P"),
    ])
    d = _mk_sf(tmp_path, orders=orders)
    hand = [(1, 2, 5000), (2, 1, 2500), (9, 1, 2500)]
    got_spark, got_ora = _run_both(spark, "orders_benford_first_digit", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_payload_dedup(spark, tmp_path):
    """Three docs; the 10-smallest re-ingestion copies ALL of them
    (corpus < 10): every text forms a (orig, copy) group of 2 with the
    original as keeper. doc2 and doc3 share text, so their group holds
    2 originals + 2 copies = 4 with keeper 2."""
    docs = _documents([
        (1, "unique text one", "s"),
        (2, "shared text", "s"),
        (3, "shared text", "s"),
    ])
    d = _mk_sf(tmp_path, documents=docs)
    import hashlib

    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    hand = sorted([
        (md5("unique text one"), 2, 1),
        (md5("shared text"), 4, 2),
    ])
    got_spark, got_ora = _run_both(spark, "multimodal_payload_dedup", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_semantic_cluster_audit(spark, tmp_path):
    """8-dim vectors; sign bucket = 8 leading signs (0 counts as '1').

    v1=[1,0..], v2=[2,0..], v3=[0,1,0..], v4=[1,1,0..]: all bucket
    '11111111'. Cosines: (1,2)=1, (1,4)=(2,4)=(3,4)=1/sqrt(2)=.707107,
    (1,3)=(2,3)=0 -> edges chain {1,2,3,4} through v4: cluster 1,
    4 members, keeper MAX id 4, labels {0,0,1,1} -> 2.
    v5=[-1,0..]: bucket '01111111' singleton -> no pairs, absent.
    v6=[-1,-1,0..], v7=[-2,-2,0..]: bucket '00111111', cos 1 -> cluster
    6, 2 members, keeper 7, labels {2,2} -> 1.
    """
    z6 = [0.0] * 6
    emb = _embeddings([
        (1, [1.0, 0.0] + z6, 0),
        (2, [2.0, 0.0] + z6, 0),
        (3, [0.0, 1.0] + z6, 1),
        (4, [1.0, 1.0] + z6, 1),
        (5, [-1.0, 0.0] + z6, 0),
        (6, [-1.0, -1.0] + z6, 2),
        (7, [-2.0, -2.0] + z6, 2),
    ])
    d = _mk_sf(tmp_path, embeddings=emb)
    hand = [(1, 4, 4, 2), (6, 2, 7, 1)]
    got_spark, got_ora = _run_both(spark, "dedup_semantic_cluster_audit", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_stratified_proportional(spark, tmp_path):
    """102 'en' docs + 1 'de' doc (103 total, budget 100):
    quota(en) = 100*102//103 = 99, quota(de) = 100*1//103 = 0.
    Expected sample: the 99 lowest (md5(doc_id), doc_id) en docs —
    ranks derived with hashlib.md5 as an independent third
    implementation; no de rows."""
    import hashlib

    import pyarrow as pa

    ids = list(range(1, 103)) + [500]
    langs = ["en"] * 102 + ["de"]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(["t"] * 103, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["s"] * 103, pa.string()),
        "n_chars": pa.array([1] * 103, pa.int64()),
    })
    d = _mk_sf(tmp_path, documents=docs)
    ranked = sorted(
        range(1, 103), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    hand = sorted(("en", i, 99) for i in ranked[:99])
    got_spark, got_ora = _run_both(spark, "sample_stratified_proportional", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_greedy_firstfit_bins(spark, tmp_path):
    """Budget 256, shard = doc_id % 8.

    Shard 0 (ids 0,8,16,24,32; tokens 100,100,100,300,10):
      0 -> bin0 fill 100; 8 -> 200; 16 would make 300 > 256 -> bin1
      fill 100; 24 (oversized 300) -> bin2 alone; 32 -> 300+10 > 256 ->
      bin3. Bins: (2 docs,200), (1,100), (1,300), (1,10).
    Shard 1 (ids 1,9; tokens 256,1): 256 fills bin0 EXACTLY (not >),
      then 257 > 256 -> bin1. Bins: (1,256), (1,1).
    """
    def toks(k):
        return " ".join(["t"] * k)

    docs = _documents([
        (0, toks(100), "s"), (8, toks(100), "s"), (16, toks(100), "s"),
        (24, toks(300), "s"), (32, toks(10), "s"),
        (1, toks(256), "s"), (9, toks(1), "s"),
    ])
    d = _mk_sf(tmp_path, documents=docs)
    hand = [
        (0, 0, 2, 200), (0, 1, 1, 100), (0, 2, 1, 300), (0, 3, 1, 10),
        (1, 0, 1, 256), (1, 1, 1, 1),
    ]
    got_spark, got_ora = _run_both(spark, "pack_greedy_firstfit_bins", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_bot_rate_flags(spark, tmp_path):
    """user 1: 6 events one minute, 2 types -> peak 6 >= 5 -> bot.
    user 2: 4 + 1 across two minutes, 1 type -> n=5 < 2*3=6 -> clean.
    user 3: 3 events one minute -> peak 3 < 5 BUT 3 >= 1*3 -> bot.
    user 4: 1 event -> clean. NULL user/ts rows dropped."""
    rows = []
    eid = 0
    for s, ty in zip(range(6), ["a", "a", "a", "b", "b", "b"]):
        eid += 1
        rows.append((eid, _ts(f"2024-01-01T10:00:{s:02d}"), 1, ty, 1.0))
    for s in range(4):
        eid += 1
        rows.append((eid, _ts(f"2024-01-01T11:00:{s:02d}"), 2, "a", 1.0))
    eid += 1
    rows.append((eid, _ts("2024-01-01T11:05:00"), 2, "a", 1.0))
    for s in range(3):
        eid += 1
        rows.append((eid, _ts(f"2024-01-01T12:00:{s:02d}"), 3, "a", 1.0))
    eid += 1
    rows.append((eid, _ts("2024-01-01T13:00:00"), 4, "a", 1.0))
    rows.append((eid + 1, None, 5, "a", 1.0))
    rows.append((eid + 2, _ts("2024-01-01T14:00:00"), None, "a", 1.0))
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [
        (1, 6, 1, 6, 2, 1),
        (2, 5, 2, 4, 1, 0),
        (3, 3, 1, 3, 1, 1),
        (4, 1, 1, 1, 1, 0),
    ]
    got_spark, got_ora = _run_both(spark, "events_bot_rate_flags", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_ivf_recall_audit(spark, tmp_path):
    """10 vectors: v0..v7 = scaled unit axes 2*e_i (each IS its own
    centroid -> assigns to its own cell i+1); v8=[1,1,0..] ties cells
    1/2 at d^2=2 -> cell 1; v9=[0,0,1,1,0..] ties cells 3/4 -> cell 3.

    Probes (2 nearest cells, ties by cell): q0 {1,2}, q1 {2,1},
    q2 {3,1}, q3 {4,1}, q4 {5,1}.
    Cell contents: 1:{v0,v8} 2:{v1} 3:{v2,v9} 4:{v3} 5:{v4}.

    Brute-force top-5 (cos, ties by vec_id; cos(v_i,v8)=.707107 for
    i in {0,1}; cos(v_i,v9)=.707107 for i in {2,3}; everything else 0):
      q0: {8,1,2,3,4}; q1: {8,0,2,3,4}; q2: {9,0,1,3,4};
      q3: {9,0,1,2,4}; q4: {0,1,2,3,5}.
    IVF candidates: q0 {8,1} hits 2; q1 {0,8} hits 2; q2 {9,0,8}
    hits 2; q3 {0,8} hits 1; q4 {0,8} hits 1.
    """
    def axis(i, scale=2.0):
        v = [0.0] * 8
        v[i] = scale
        return v

    rows = [(i, axis(i), 0) for i in range(8)]
    rows.append((8, [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0))
    rows.append((9, [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0], 0))
    d = _mk_sf(tmp_path, embeddings=_embeddings(rows))
    hand = [
        (0, 5, 2, 4000), (1, 5, 2, 4000), (2, 5, 2, 4000),
        (3, 5, 1, 2000), (4, 5, 1, 2000),
    ]
    got_spark, got_ora = _run_both(spark, "similarity_ivf_recall_audit", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_novelty_first_seen(spark, tmp_path):
    """doc1 'a b c d': trigrams {a b c, b c d}, both first here -> 2/2.
    doc2 'a b c': {a b c} first seen in doc1 -> 0/1.
    doc3 'x x x x x': one DISTINCT trigram {x x x}, novel -> 1/1.
    doc4 'a b': < 3 tokens, excluded.
    doc5 'b c d e': {b c d} (doc1's), {c d e} novel -> 1/2 = 5000 bp.
    """
    docs = _documents([
        (1, "a b c d", "s"),
        (2, "a b c", "s"),
        (3, "x x x x x", "s"),
        (4, "a b", "s"),
        (5, "b c d e", "s"),
    ])
    d = _mk_sf(tmp_path, documents=docs)
    hand = [
        (1, 2, 2, 10000), (2, 1, 0, 0), (3, 1, 1, 10000), (5, 2, 1, 5000),
    ]
    got_spark, got_ora = _run_both(spark, "text_novelty_first_seen_ratio", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


# ---------------------------------------------------------------------------
# Unregistered specs (extended.UNREGISTERED_SPECS)
# ---------------------------------------------------------------------------


def test_hand_basket_size_histogram(spark, tmp_path):
    """Orders 1 and 2 have 2 items, order 3 has 1: size 1 -> 1 order
    (3333 bp of 3), size 2 -> 2 orders (6666 bp)."""
    import pyarrow as pa

    li = pa.table({
        "l_orderkey": pa.array([1, 1, 2, 2, 3], pa.int64()),
    })
    d = _mk_sf(tmp_path, lineitem=li)
    hand = [(1, 1, 3333), (2, 2, 6666)]
    got_spark, got_ora = _run_both(spark, "orders_basket_size_histogram", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_dup_group_size_histogram(spark, tmp_path):
    """'x' x2 + 'y' x1: one group of size 1 (1 doc), one of size 2
    (2 docs)."""
    docs = _documents([(1, "x", "s"), (2, "x", "s"), (3, "y", "s")])
    d = _mk_sf(tmp_path, documents=docs)
    hand = [(1, 1, 1), (2, 1, 2)]
    got_spark, got_ora = _run_both(spark, "dedup_group_size_histogram", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_cents_profile(spark, tmp_path):
    """Totals 10.00 / 10.99 / 3.99 (negative -5.00 and NULL excluded):
    cents 0 x1, 99 x2 over total 3 -> 3333 / 6666 bp."""
    rows = [
        (1, 1, "O", 10.00, _ts("2024-01-05T00:00:00"), "A"),
        (2, 1, "O", 10.99, _ts("2024-01-06T00:00:00"), "A"),
        (3, 1, "O", 3.99, _ts("2024-01-07T00:00:00"), "A"),
        (4, 1, "O", -5.00, _ts("2024-01-08T00:00:00"), "A"),
        (5, 1, "O", None, _ts("2024-01-09T00:00:00"), "A"),
    ]
    d = _mk_sf(tmp_path, orders=_orders_full(rows))
    hand = [(0, 1, 3333), (99, 2, 6666)]
    got_spark, got_ora = _run_both(spark, "orders_cents_profile", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_load_factor(spark, tmp_path):
    """Type A: 3 events in hour 10, 1 in hour 11 -> peak 3 of 4 over 2
    hours -> 3*2*10000//4 = 15000 bp. Type B: 2 in one hour -> 10000."""
    d = _mk_sf(tmp_path, events=_events([
        (1, _ts("2024-01-01T10:00:00"), 1, "A", 1.0),
        (2, _ts("2024-01-01T10:10:00"), 1, "A", 1.0),
        (3, _ts("2024-01-01T10:20:00"), 1, "A", 1.0),
        (4, _ts("2024-01-01T11:00:00"), 1, "A", 1.0),
        (5, _ts("2024-01-01T10:00:00"), 2, "B", 1.0),
        (6, _ts("2024-01-01T10:30:00"), 2, "B", 1.0),
    ]))
    hand = [("A", 2, 4, 3, 15000), ("B", 1, 2, 2, 10000)]
    got_spark, got_ora = _run_both(spark, "events_load_factor_hourly", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_props_key_census(spark, tmp_path):
    """Valid payloads: {'a','b'} and {'a'} -> a in 2/2 (10000 bp), b in
    1/2 (5000). NULL and malformed payloads drop on both engines."""
    import pyarrow as pa

    events = pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1, 10)] * 4, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 1, 1], pa.int64()),
        "event_type": pa.array(["view"] * 4, pa.string()),
        "value": pa.array([1.0] * 4, pa.float64()),
        "props": pa.array(
            ['{"a": 1, "b": 2}', '{"a": 3}', None, "not json"], pa.string()
        ),
    })
    d = _mk_sf(tmp_path, events=events)
    hand = [("a", 2, 10000), ("b", 1, 5000)]
    got_spark, got_ora = _run_both(spark, "events_props_key_census", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_bounce_rate(spark, tmp_path):
    """user 1: view@00:00 + click@00:10 (one session, entry view, not a
    bounce); view@02:00 alone (bounce, entry view). user 2: click alone
    (bounce, entry click). user 3: view@00:00 + purchase@exactly 00:30
    -> gap == 1800s is NOT > 30 min, same session (entry view, no
    bounce). view: 3 sessions / 1 bounce -> 3333 bp; click: 1/1 ->
    10000 bp."""
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:10:00"), 1, "click", 1.0),
        (3, _ts("2024-01-01T02:00:00"), 1, "view", 1.0),
        (4, _ts("2024-01-01T00:00:00"), 2, "click", 1.0),
        (5, _ts("2024-01-01T00:00:00"), 3, "view", 1.0),
        (6, _ts("2024-01-01T00:30:00"), 3, "purchase", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [("click", 1, 1, 10000), ("view", 3, 1, 3333)]
    got_spark, got_ora = _run_both(spark, "events_bounce_rate_by_entry_type", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_session_duration_hist(spark, tmp_path):
    """user 1: 00:00 + 00:10 -> 600 s -> floor(log2 600) = 9. user 2:
    single event -> 0 s -> bucket -1. user 3: 1 s gap -> log2(1) = 0.
    user 4: 3 s -> floor(log2 3) = 1."""
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:10:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T00:00:00"), 2, "view", 1.0),
        (4, _ts("2024-01-01T00:00:00"), 3, "view", 1.0),
        (5, _ts("2024-01-01T00:00:01"), 3, "view", 1.0),
        (6, _ts("2024-01-01T00:00:00"), 4, "view", 1.0),
        (7, _ts("2024-01-01T00:00:03"), 4, "view", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [(-1, 1, 0), (0, 1, 1), (1, 1, 3), (9, 1, 600)]
    got_spark, got_ora = _run_both(
        spark, "events_session_duration_histogram_log2", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_hourly_p95(spark, tmp_path):
    """view: hour-00 has 3 events, hour-01 has 1 -> n_hours 2, max 3,
    p95 = 1 + 0.95*(3-1) = 2.9. click: one hour of 2 -> p95 = 2.0."""
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:10:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T00:20:00"), 2, "view", 1.0),
        (4, _ts("2024-01-01T01:00:00"), 1, "view", 1.0),
        (5, _ts("2024-01-01T00:00:00"), 2, "click", 1.0),
        (6, _ts("2024-01-01T00:30:00"), 2, "click", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [("click", 1, 2, 2.0), ("view", 2, 3, 2.9)]
    got_spark, got_ora = _run_both(spark, "events_hourly_load_p95_per_type", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_intersession_gaps(spark, tmp_path):
    """user 1 has sessions starting 00:00, 02:00, 05:00 -> gaps 120
    and 180 min; user 2 has one session (no gap). median = 150,
    p90 = 120 + 0.9*60 = 174."""
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 1.0),
        (2, _ts("2024-01-01T00:10:00"), 1, "view", 1.0),
        (3, _ts("2024-01-01T02:00:00"), 1, "view", 1.0),
        (4, _ts("2024-01-01T05:00:00"), 1, "view", 1.0),
        (5, _ts("2024-01-01T00:00:00"), 2, "view", 1.0),
    ]
    d = _mk_sf(tmp_path, events=_events(rows))
    hand = [(2, 150.0, 174.0)]
    got_spark, got_ora = _run_both(spark, "events_intersession_gap_stats", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"


def test_hand_embedding_dup_census(spark, tmp_path):
    """[1,2] x3 + [3,4] x1 (NULL embedding excluded): 4 vectors, 2
    distinct, 1 dup group holding 3 vectors, max group 3."""
    d = _mk_sf(tmp_path, embeddings=_embeddings([
        (1, [1.0, 2.0], 1),
        (2, [1.0, 2.0], 1),
        (3, [1.0, 2.0], 2),
        (4, [3.0, 4.0], 1),
        (5, None, 1),
    ]))
    hand = [(4, 2, 1, 3, 3)]
    got_spark, got_ora = _run_both(spark, "embedding_exact_dup_census", d)
    assert got_spark == hand, "SPARK diverges from the hand derivation"
    assert got_ora == hand, "ORACLE diverges from the hand derivation"
