"""Conditional / partial-column MERGE semantics (Iceberg
``WHEN MATCHED AND <cond> THEN UPDATE SET col = ...`` parity) and the
SCD2 delta operator's batch-boundary behavior."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.scd2 import (
    scd2_delta,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
    merge_into,
)

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("a", T.LongType()),
    T.StructField("b", T.StringType()),
])


def _mk(spark, tmp_path, rows):
    t = LakeTable.create(os.path.join(str(tmp_path), "t"), SCHEMA, keys=["k"])
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def _state(spark, t):
    return {
        r["k"]: (r["a"], r["b"])
        for r in t.read(spark).collect()
    }


def test_match_condition_gates_update_not_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "x"), (2, 20, "y"), (3, 30, "z")])
    src = spark.createDataFrame(
        [(1, 100, "upd", "update"), (2, 5, "upd", "update"), (3, 0, "_", "delete")],
        "k long, a long, b string, op string",
    )
    merge_into(
        t, src, op_col="op", assume_unique=True,
        match_condition="s.a > t.a",  # true for k=1 (100>10), false for k=2 (5<20)
    )
    st = _state(spark, t)
    assert st[1] == (100, "upd")     # condition true -> updated
    assert st[2] == (20, "y")        # condition false -> target kept
    assert 3 not in st               # delete is NOT gated by the condition


def test_partial_update_cols_keep_target_but_fill_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "x")])
    src = spark.createDataFrame(
        [(1, 100, "SRC"), (9, 900, "NEW")], "k long, a long, b string"
    )
    merge_into(t, src, assume_unique=True, update_cols=["a"])
    st = _state(spark, t)
    assert st[1] == (100, "x")       # a updated, b (unlisted) keeps target
    assert st[9] == (900, "NEW")     # insert takes the full source row


def test_condition_with_partial_cols(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "x"), (2, 20, "y")])
    src = spark.createDataFrame(
        [(1, 100, "SRC"), (2, 5, "SRC")], "k long, a long, b string"
    )
    merge_into(
        t, src, assume_unique=True, update_cols=["a"], match_condition="s.a > t.a"
    )
    st = _state(spark, t)
    assert st[1] == (100, "x")
    assert st[2] == (20, "y")


def test_scd2_delta_closes_open_rows_across_batches(spark):
    batch1 = spark.createDataFrame(
        [(1, 101, "2024-01-01 00:00:00", "v1"), (1, 102, "2024-01-02 00:00:00", "v2")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d1 = scd2_delta(None, batch1, ["k"], "ts", "seq")
    rows = {r["seq"]: r for r in d1.collect()}
    assert rows[101]["is_current"] == 0 and rows[101]["valid_to"] is not None
    assert rows[102]["is_current"] == 1 and rows[102]["valid_to"] is None

    open_rows = d1.filter(F.col("is_current") == 1)
    batch2 = spark.createDataFrame(
        [(1, 103, "2024-01-05 00:00:00", "v3")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d2 = scd2_delta(open_rows, batch2, ["k"], "ts", "seq")
    rows2 = {r["seq"]: r for r in d2.collect()}
    # previously-open v2 closed at v3's timestamp
    assert rows2[102]["is_current"] == 0
    assert str(rows2[102]["valid_to"]) == "2024-01-05 00:00:00"
    assert rows2[103]["is_current"] == 1 and rows2[103]["valid_to"] is None


def test_scd2_delta_replayed_batch_is_empty_delta(spark):
    """At-least-once delivery replays batches: a re-delivered batch
    whose versions are at or below the key's open row must produce an
    EMPTY delta — it used to close the open row with valid_to EARLIER
    than its valid_from and resurrect the old version as is_current=1
    (review round 11). A partially-stale batch applies only its
    genuinely-new versions."""
    batch1 = spark.createDataFrame(
        [(1, 101, "2024-01-01 00:00:00", "v1"), (1, 102, "2024-01-02 00:00:00", "v2")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d1 = scd2_delta(None, batch1, ["k"], "ts", "seq")
    open_rows = d1.filter(F.col("is_current") == 1)

    # exact replay of batch1: nothing is newer than the open v2 row
    replay = scd2_delta(open_rows, batch1, ["k"], "ts", "seq")
    assert replay.count() == 0, (
        "replayed batch corrupted history instead of yielding an empty delta"
    )

    # partially stale: 102 replays (dropped), 103 is new (applies)
    mixed = spark.createDataFrame(
        [(1, 102, "2024-01-02 00:00:00", "v2"),
         (1, 103, "2024-01-05 00:00:00", "v3")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d2 = scd2_delta(open_rows, mixed, ["k"], "ts", "seq")
    rows = {r["seq"]: r for r in d2.collect()}
    assert set(rows) == {102, 103}
    # 102 appears only as the CLOSED open row (valid interval intact)
    assert rows[102]["is_current"] == 0
    assert str(rows[102]["valid_from"]) == "2024-01-02 00:00:00"
    assert str(rows[102]["valid_to"]) == "2024-01-05 00:00:00"
    assert rows[103]["is_current"] == 1 and rows[103]["valid_to"] is None


def test_scd2_delta_null_seq_on_ts_tie_flows_through(spark):
    """A batch row tying the open row's timestamp with an unparsed
    (NULL) sequence id carries no staleness proof — the old
    struct(ts, seq) > struct(...) guard evaluated to NULL on the tie
    and `where` silently dropped it as if stale (round-11 advice). It
    must flow through; a row with a ts strictly BELOW the open row's
    stays provably stale even when its seq is NULL."""
    batch1 = spark.createDataFrame(
        [(1, 101, "2024-01-02 00:00:00", "v1")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    open_rows = scd2_delta(None, batch1, ["k"], "ts", "seq").filter(
        F.col("is_current") == 1
    )

    # ts tie with the open row, NULL seq: applies (flows through)
    tied = spark.createDataFrame(
        [(1, None, "2024-01-02 00:00:00", "v2")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = scd2_delta(open_rows, tied, ["k"], "ts", "seq")
    rows = [r for r in d.collect() if r["payload"] == "v2"]
    assert rows and rows[0]["is_current"] == 1, (
        "NULL-seq row on a ts tie silently dropped as stale"
    )

    # strictly older ts, NULL seq: provably stale by ts alone — dropped
    older = spark.createDataFrame(
        [(1, None, "2024-01-01 00:00:00", "v0")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert scd2_delta(open_rows, older, ["k"], "ts", "seq").count() == 0


def test_scd2_delta_untouched_keys_left_alone(spark):
    hist = spark.createDataFrame(
        [(7, 700, "2024-01-01 00:00:00", "keep")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts")) \
     .withColumn("valid_from", F.col("ts")) \
     .withColumn("valid_to", F.lit(None).cast("timestamp")) \
     .withColumn("is_current", F.lit(1))
    batch = spark.createDataFrame(
        [(8, 800, "2024-01-02 00:00:00", "other")],
        "k long, seq long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    delta = scd2_delta(hist, batch, ["k"], "ts", "seq")
    # key 7 has no new version -> no delta row touches it
    assert [r["k"] for r in delta.collect()] == [8]


def test_stale_guard_rejects_out_of_order_batch(spark, tmp_path):
    """A table persisting _order_ts/_order_txn gates every matched apply
    on newer-than-current: replaying an OLDER batch after a newer one
    must be a no-op (SURVEY §7.3 hard part 1)."""
    from pyspark.sql import functions as F

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
        apply_batch,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_order_ts", T.TimestampType()),
        T.StructField("_order_txn", T.LongType()),
    ])
    t = LakeTable.create(os.path.join(str(tmp_path), "g"), schema, keys=["k"])

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v string, operation string, _order_ts string, _order_txn long"
        ).withColumn("_order_ts", F.to_timestamp("_order_ts"))

    newer = batch([
        (1, "new", "update", "2024-01-02 00:00:00", 200),
        (2, "live", "insert", "2024-01-02 00:00:00", 201),
    ])
    apply_batch(t, newer)
    stale = batch([
        (1, "old", "update", "2024-01-01 00:00:00", 100),   # stale update
        (2, None, "delete", "2024-01-01 00:00:00", 101),    # stale delete
        (3, "fresh", "insert", "2024-01-03 00:00:00", 300),  # genuinely new
    ])
    apply_batch(t, stale)
    state = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert state == {1: "new", 2: "live", 3: "fresh"}


def test_stale_guard_accepts_newer_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
        apply_batch,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_order_ts", T.TimestampType()),
        T.StructField("_order_txn", T.LongType()),
    ])
    t = LakeTable.create(os.path.join(str(tmp_path), "g2"), schema, keys=["k"])

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v string, operation string, _order_ts string, _order_txn long"
        ).withColumn("_order_ts", F.to_timestamp("_order_ts"))

    apply_batch(t, batch([(1, "v1", "insert", "2024-01-01 00:00:00", 100)]))
    apply_batch(t, batch([(1, "v2", "update", "2024-01-02 00:00:00", 200)]))
    apply_batch(t, batch([(1, None, "delete", "2024-01-03 00:00:00", 300)]))
    assert t.read(spark).count() == 0


def test_stale_guard_holds_on_merge_on_read_table(spark, tmp_path):
    """Round-4 advice: on a merge-on-read table the MOR position-delete
    routing has no newer-than-current check, so under the stale guard
    deletes must go through the gated MERGE instead — a replayed older
    batch's delete must NOT remove a newer row image."""
    from pyspark.sql import functions as F

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
        apply_batch,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_order_ts", T.TimestampType()),
        T.StructField("_order_txn", T.LongType()),
    ])
    t = LakeTable.create(
        os.path.join(str(tmp_path), "mor_guard"),
        schema,
        keys=["k"],
        properties={"write.delete.mode": "merge-on-read"},
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v string, operation string, _order_ts string, _order_txn long"
        ).withColumn("_order_ts", F.to_timestamp("_order_ts"))

    apply_batch(t, batch([
        (1, "new", "update", "2024-01-02 00:00:00", 200),
        (2, "live", "insert", "2024-01-02 00:00:00", 201),
    ]))
    apply_batch(t, batch([
        (1, None, "delete", "2024-01-01 00:00:00", 100),   # stale delete
        (2, "old", "update", "2024-01-01 00:00:00", 101),  # stale update
    ]))
    state = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert state == {1: "new", 2: "live"}

    # a genuinely newer delete still removes the row (through the gated
    # MERGE path, not the ungated position-delete commit)
    apply_batch(t, batch([(1, None, "delete", "2024-01-03 00:00:00", 300)]))
    assert {r["k"] for r in t.read(spark).collect()} == {2}


def test_cdc_batch_on_mor_table_is_one_merge_commit(spark, tmp_path):
    """A CDC batch on a merge-on-read table without guard columns applies
    its delete, update and insert in ONE merge commit. The MERGE rewrites
    the file a pending position delete points at: the earlier-deleted row
    stays deleted, no delete entry outlives its data file, and the rows
    equal the copy-on-write table's after the same steps."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
        apply_batch,
    )

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    batch = spark.createDataFrame(
        [
            (1, None, "delete", "2024-01-02 00:00:00", 3),
            (3, "c2", "update", "2024-01-02 00:00:00", 4),
            (6, "f", "insert", "2024-01-02 00:00:00", 5),
        ],
        "k long, v string, operation string, _order_ts string, _order_txn long",
    ).withColumn("_order_ts", F.to_timestamp("_order_ts"))

    def run(mode):
        t = LakeTable.create(
            os.path.join(str(tmp_path), mode), schema, keys=["k"],
            properties={"write.delete.mode": mode},
        )
        t.append(spark.createDataFrame(
            [(k, c) for k, c in zip(range(1, 6), "abcde")], schema
        ).coalesce(1))
        assert len(t.manifest()["files"]) == 1
        t.delete_where(spark, "k = 2")
        before = len(t.snapshots())
        apply_batch(t, batch)
        return t, before

    t, before = run("merge-on-read")
    snaps = t.snapshots()
    assert t.manifest(snaps[before - 1]["version"])["delete_files"]
    assert [s["operation"] for s in snaps[before:]] == ["merge"]
    rows = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert rows == [(3, "c2"), (4, "d"), (5, "e"), (6, "f")]
    for s in snaps:
        m = t.manifest(s["version"])
        live = {f["path"] for f in m["files"]}
        for d in m["delete_files"]:
            assert set(d["refs"]) <= live, (s["version"], d)

    cow, _ = run("copy-on-write")
    assert sorted((r["k"], r["v"]) for r in cow.read(spark).collect()) == rows


def test_merge_empty_update_cols_keeps_matched_rows_inserts_new(spark, tmp_path):
    """update_cols=[] means 'update NO columns': every matched row keeps
    its target values and only unmatched source rows are inserted (a
    falsy check once expanded [] to ALL columns, clobbering matched
    rows; review round 12). update_cols=None still updates every
    column."""
    rows = [(1, 10, "x"), (2, 20, "y")]
    src = spark.createDataFrame([(2, 99, "new"), (3, 30, "z")], SCHEMA)
    t = _mk(spark, tmp_path, rows)
    merge_into(t, src, update_cols=[])
    assert _state(spark, t) == {1: (10, "x"), 2: (20, "y"), 3: (30, "z")}

    t_all = _mk(spark, tmp_path / "all", rows)
    merge_into(t_all, src, update_cols=None)
    assert _state(spark, t_all) == {1: (10, "x"), 2: (99, "new"), 3: (30, "z")}


def test_merge_quoted_delete_value_deletes_only_its_matches(spark, tmp_path):
    """delete_value is a VALUE compared as data, so a quote inside it
    neither breaks nor widens the delete: exactly the matched rows whose
    _op equals it are deleted (an unmatched one is not inserted), and
    rows carrying any other _op — its SQL-escaped spelling, a prefix,
    the default 'delete' — upsert."""
    t = _mk(spark, tmp_path, [(k, k * 10, "old") for k in (1, 2, 3, 4)])
    src = spark.createDataFrame(
        [
            (1, 0, "gone", "can't-keep"),
            (2, 21, "upd", "can''t-keep"),
            (3, 31, "upd", "can't"),
            (4, 41, "upd", "delete"),
            (5, 50, "new", "insert"),
            (6, 60, "never", "can't-keep"),
        ],
        "k long, a long, b string, _op string",
    )
    merge_into(t, src, op_col="_op", delete_value="can't-keep")
    assert _state(spark, t) == {
        2: (21, "upd"), 3: (31, "upd"), 4: (41, "upd"), 5: (50, "new"),
    }


def test_merge_key_column_named_count(spark, tmp_path):
    """A key column literally named 'count' must not break the
    duplicate-key check's aggregation (ambiguous-reference class;
    review round 12)."""
    from pyspark.sql import types as T

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        LakeTable,
        merge_into,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
        MergeSourceNotUnique,
    )

    sch = T.StructType([
        T.StructField("count", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, keys=["count"])
    src = spark.createDataFrame([(1, "a"), (2, "b")], sch)
    merge_into(t, src)  # non-assume_unique: runs the dup check
    assert t.read(spark).count() == 2
    dup = spark.createDataFrame([(1, "x"), (1, "y")], sch)
    with pytest.raises(MergeSourceNotUnique):
        merge_into(t, dup)


def test_merge_evolve_incompatible_drift_fails_loudly(spark, tmp_path):
    """evolve_schema=True: a source column whose type is neither a
    widening of nor narrower than the table's must FAIL the merge — the
    blanket except used to swallow it and the rewrite's cast silently
    NULLed every unparseable value in matched rows (review round 12).
    A NARROWER source still merges (lossless cast up)."""
    from pyspark.sql import types as T

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        LakeTable,
        merge_into,
    )

    sch = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("amount", T.LongType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, keys=["k"])
    t.append(spark.createDataFrame([(1, 10)], sch))

    # incompatible drift: bigint table column, string source
    drifted = spark.createDataFrame([(1, "N/A")], "k long, amount string")
    with pytest.raises(ValueError, match="lossless widening"):
        merge_into(t, drifted, evolve_schema=True)
    assert {r["amount"] for r in t.read(spark).collect()} == {10}

    # narrower source (int -> bigint table): lossless, applies
    narrower = spark.createDataFrame([(1, 99)], "k long, amount int")
    merge_into(t, narrower, evolve_schema=True)
    assert {r["amount"] for r in t.read(spark).collect()} == {99}


def test_merge_empty_source_composite_keys_no_snapshot(spark, tmp_path):
    """An idle micro-batch (0 rows) with COMPOSITE keys and
    assume_unique must hit the empty-batch exit: it used to bypass it
    (no stats job ran, src_rows stayed None), probe-scan the whole
    table and commit an empty merge snapshot per trigger
    (review round 12)."""
    from pyspark.sql import types as T

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        LakeTable,
        merge_into,
    )

    sch = T.StructType([
        T.StructField("k1", T.LongType()),
        T.StructField("k2", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, keys=["k1", "k2"])
    t.append(spark.createDataFrame([(1, 1, "a")], sch))
    v = t.current_version()
    merge_into(t, spark.createDataFrame([], sch), assume_unique=True)
    assert t.current_version() == v, "idle trigger burned a snapshot"


def test_merge_nmbs_update_targets_evolving_column(spark, tmp_path):
    """not_matched_by_source_update may assign a column the SAME call's
    evolve_schema=True is adding from the source — validation runs
    against the post-evolution schema (review round 12)."""
    from pyspark.sql import types as T

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        LakeTable,
        merge_into,
    )

    sch = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), sch, keys=["k"])
    t.append(spark.createDataFrame([(1, "keep"), (2, "stale")], sch))
    src = spark.createDataFrame(
        [(1, "keep", 0)], "k long, v string, is_stale int"
    )
    merge_into(
        t,
        src,
        evolve_schema=True,
        not_matched_by_source_update={"is_stale": "1"},
    )
    got = {r["k"]: r["is_stale"] for r in t.read(spark).collect()}
    assert got == {1: 0, 2: 1}
