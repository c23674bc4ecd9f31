"""LakeTable format: atomic commits, time travel, stats pruning, DML."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F, types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    Predicate,
    merge_into,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
    MergeSourceNotUnique,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("cat", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ]
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"), SCHEMA, keys=["id"], cluster_by=["cat"]
    )


def test_append_and_read(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    table.append(_mk(spark, [(3, "a", 3.0)]))
    df = table.read(spark)
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    assert table.row_count() == 3  # manifest-only count, no scan


def test_time_travel(spark, table):
    v1 = table.append(_mk(spark, [(1, "a", 1.0)]))
    v2 = table.append(_mk(spark, [(2, "b", 2.0)]))
    assert table.read(spark, version=v1).count() == 1
    assert table.read(spark, version=v2).count() == 2
    versions = [s["version"] for s in table.snapshots()]
    assert versions == [0, v1, v2]


def test_stats_pruning(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0), (2, "a", 2.0)]))
    table.append(_mk(spark, [(3, "z", 3.0), (4, "z", 4.0)]))
    all_files = table.file_paths()
    pruned = table.file_paths(predicates=[Predicate("cat", "=", "a")])
    assert len(pruned) < len(all_files)
    # pruning is conservative: full read with filter gives same rows
    got = table.read(spark, predicates=[Predicate("cat", "=", "a")]).filter("cat = 'a'")
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_merge_upsert_delete(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    src = spark.createDataFrame(
        [(2, "b", 20.0, "update"), (4, "d", 4.0, "insert"), (3, "c", 3.0, "delete"),
         (99, "x", 0.0, "delete")],  # delete of never-seen key: silent no-op
        schema="id int, cat string, val double, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation")
    rows = {r["id"]: r for r in table.read(spark).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[2]["val"] == 20.0


def test_merge_null_op_value_is_not_a_delete(spark, table):
    """A matched source row whose op_col is NULL (malformed CDC
    metadata) must behave like SQL MERGE's WHEN MATCHED AND
    op='delete' — the clause simply doesn't fire and the row UPDATES.
    The un-coalesced three-valued predicate used to null the keep
    filter and silently DELETE the matched target row, and drop the
    row from the fast-path insert too (review round 10)."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    src = spark.createDataFrame(
        [(2, "b", 20.0, None), (4, "d", 4.0, None)],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation")
    rows = {r["id"]: r["val"] for r in table.read(spark).collect()}
    # matched NULL-op row updated (not deleted); unmatched one inserted
    assert rows == {1: 1.0, 2: 20.0, 4: 4.0}


def test_merge_null_key_updates_in_place(spark, tmp_path):
    """Null-safe end to end: a NULL-key source row must UPDATE the
    existing NULL-key target row (native ON t.k <=> s.k semantics),
    not double-insert. The probe semi-join was null-unsafe and the
    min/max stats pruning ignored NULLs, so the null-key target file
    went unprobed (review round 10)."""
    nsch = T.StructType([
        T.StructField("id", T.IntegerType(), True),
        T.StructField("cat", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ])
    t = LakeTable.create(str(tmp_path / "t"), nsch, keys=["id"])
    t.append(spark.createDataFrame([(1, "a", 1.0), (None, "n", 5.0)], nsch))
    src = spark.createDataFrame(
        [(None, "n", 50.0, "update"), (1, "a", 10.0, "update")],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(t, src, on=["id"], op_col="operation")
    rows = sorted(
        ((r["id"], r["val"]) for r in t.read(spark).collect()),
        key=lambda x: (x[0] is None, x[0] or 0),
    )
    assert rows == [(1, 10.0), (None, 50.0)]


def test_merge_update_cols_validated_like_native(spark, table):
    """A misspelled update_cols entry raises, as SQL MERGE rejects an
    unknown SET column, instead of silently no-opping the whole matched
    update."""
    table.append(_mk(spark, [(1, "a", 1.0)]))
    src = spark.createDataFrame(
        [(1, "a", 2.0)], schema="id int, cat string, val double"
    )
    with pytest.raises(ValueError, match="update_cols not in table schema"):
        merge_into(table, src, on=["id"], update_cols=["vall"])


def test_merge_empty_source_is_a_no_op(spark, table):
    """A zero-row source (idle streaming trigger) neither probes the
    table nor burns a snapshot version; with extra_summary it commits
    metadata-only; NOT MATCHED BY SOURCE keeps its sync-to-empty
    semantics."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    head = table.current_version()
    empty = spark.createDataFrame(
        [], schema="id int, cat string, val double, operation string"
    )
    assert merge_into(table, empty, on=["id"], op_col="operation") == head
    assert table.current_version() == head  # no version burned

    v = merge_into(
        table, empty.drop("operation"), on=["id"],
        extra_summary={"batch_id": 7},
    )
    assert v == head + 1  # metadata-only commit carries the summary
    assert table.manifest()["summary"]["batch_id"] == 7
    assert table.read(spark).count() == 2

    # sync-to-empty still deletes everything
    merge_into(
        table, empty.drop("operation"), on=["id"],
        not_matched_by_source_delete=True,
    )
    assert table.read(spark).count() == 0


def test_merge_requires_unique_source(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0)]))
    src = spark.createDataFrame(
        [(1, "a", 2.0, "update"), (1, "a", 3.0, "update")],
        schema="id int, cat string, val double, operation string",
    )
    with pytest.raises(MergeSourceNotUnique):
        merge_into(table, src, on=["id"], op_col="operation")


def test_merge_into_empty_table(spark, table):
    src = spark.createDataFrame(
        [(1, "a", 1.0, "insert"), (2, "b", 2.0, "delete")],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation")
    assert [r["id"] for r in table.read(spark).collect()] == [1]


def test_merge_only_rewrites_touched_files(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0)]))
    table.append(_mk(spark, [(100, "z", 9.0)]))
    before = set(table.file_paths())
    src = spark.createDataFrame([(1, "a", 5.0, "update")],
                                schema="id int, cat string, val double, operation string")
    merge_into(table, src, on=["id"], op_col="operation")
    after = set(table.file_paths())
    # the file holding id=100 must be carried over untouched
    untouched = {p for p in before if p in after}
    assert untouched, "expected untouched files to carry over by reference"


def test_delete_where_and_update_where(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0)]))
    table.delete_where(spark, "cat = 'b' AND val > 2.5")
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 2]
    table.update_where(spark, "id = 2", {"val": "val * 10"})
    rows = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert rows[2] == 20.0
    # snapshot isolation: old version still shows pre-DML state
    assert table.read(spark, version=1).count() == 3


def test_empty_edges(spark, table):
    """Empty-source merge, empty-batch append and empty-table read are
    all well-defined (streaming delivers empty micro-batches routinely)."""
    assert table.read(spark).count() == 0  # fresh table readable
    empty = spark.createDataFrame(
        [], "id int, cat string, val double, operation string"
    )
    v = merge_into(table, empty, on=["id"], op_col="operation")
    assert table.read(spark, version=v).count() == 0
    table.append(_mk(spark, [(1, "a", 1.0)]))
    v2 = merge_into(table, empty, on=["id"], op_col="operation")
    assert table.read(spark, version=v2).count() == 1  # no-op on data


def test_schema_evolution_add_column(spark, table):
    """Add-column is metadata-only: old files read back with NULLs, new
    writes carry the column (Iceberg semantics)."""
    table.append(_mk(spark, [(1, "a", 1.0)]))
    table.add_column("note", T.StringType())
    df = table.read(spark)
    assert df.columns == ["id", "cat", "val", "note"]
    assert df.collect()[0]["note"] is None
    new = spark.createDataFrame(
        [(2, "b", 2.0, "hello")], "id int, cat string, val double, note string"
    )
    table.append(new)
    got = {r["id"]: r["note"] for r in table.read(spark).collect()}
    assert got == {1: None, 2: "hello"}
    # merge still works across the evolved schema
    src = spark.createDataFrame(
        [(1, "a", 9.0, "patched", "update")],
        "id int, cat string, val double, note string, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation")
    got = {r["id"]: (r["val"], r["note"]) for r in table.read(spark).collect()}
    assert got == {1: (9.0, "patched"), 2: (2.0, "hello")}


def test_schema_evolution_drop_column(spark, table):
    """Drop-column is metadata-only (no rewrite): reads project to the
    manifest schema so the bytes are pruned at the scanner; key/cluster
    columns are protected; time travel still sees the old schema."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    v_before = table.current_version()
    table.drop_column("val")
    df = table.read(spark)
    assert df.columns == ["id", "cat"]
    assert df.count() == 2
    # old snapshot still reads the dropped column (snapshot schema)
    old = table.read(spark, version=v_before)
    assert "val" in old.columns
    # new writes use the narrowed schema
    table.append(spark.createDataFrame([(3, "c")], "id int, cat string"))
    assert table.read(spark).count() == 3
    with pytest.raises(ValueError):
        table.drop_column("id")  # key column protected
    with pytest.raises(ValueError):
        table.drop_column("nope")


def test_merge_schema_evolution_auto_adds_source_columns(spark, table):
    """evolve_schema=True: a new upstream column arriving through CDC
    auto-ADD-COLUMNs (Iceberg mergeSchema) before the apply; transport
    metadata columns are never promoted."""
    table.append(_mk(spark, [(1, "a", 1.0)]))
    src = spark.createDataFrame(
        [(1, "a", 5.0, "hello", "update"), (2, "b", 2.0, "world", "insert")],
        "id int, cat string, val double, note string, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation", evolve_schema=True)
    assert [f.name for f in table.schema.fields] == ["id", "cat", "val", "note"]
    got = {r["id"]: r["note"] for r in table.read(spark).collect()}
    assert got == {1: "hello", 2: "world"}
    # operation column was NOT promoted; replay without the new column
    # still merges (missing source column -> analysis error is expected
    # Iceberg behavior, so senders must keep sending it)
    src2 = spark.createDataFrame(
        [(3, "c", 3.0, None, "insert")],
        "id int, cat string, val double, note string, operation string",
    )
    merge_into(table, src2, on=["id"], op_col="operation", evolve_schema=True)
    assert table.read(spark).count() == 3


def test_partition_spec_evolution_set_cluster_by(spark, tmp_path):
    """set_cluster_by is metadata-only: old files stay as written (and
    still prune under the old layout), future writes cluster on the new
    columns — Iceberg partition-evolution semantics."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        Predicate,
    )

    t = LakeTable.create(str(tmp_path / "t"),
                         T.StructType([
                             T.StructField("id", T.IntegerType()),
                             T.StructField("cat", T.StringType()),
                             T.StructField("val", T.DoubleType()),
                         ]),
                         cluster_by=["cat"])
    t.append(spark.createDataFrame(
        [(i, chr(97 + i % 4), float(i)) for i in range(100)], t.schema))
    old_paths = set(t.file_paths())
    assert t.cluster_by == ["cat"]

    t.set_cluster_by(["val"])
    assert t.cluster_by == ["val"]
    assert set(t.file_paths()) == old_paths  # no rewrite
    assert t.manifest()["summary"]["operation"] == "set-cluster-by"

    t.append(spark.createDataFrame(
        [(i, chr(97 + i % 4), float(i)) for i in range(100, 200)], t.schema))
    # new-layout pruning: a narrow val range must skip some NEW files
    # while matching-by-stats among old files is unaffected
    new_paths = set(t.file_paths()) - old_paths
    assert len(new_paths) > 1
    hit = set(t.file_paths(predicates=[Predicate("val", ">=", 100.0),
                                       Predicate("val", "<=", 110.0)]))
    assert len(hit & new_paths) < len(new_paths)
    assert t.read(spark).count() == 200
    with pytest.raises(ValueError):
        t.set_cluster_by(["nope"])


def test_commit_conflict_detected(spark, table):
    """Optimistic concurrency: a lost commit race raises CommitConflict
    instead of corrupting the snapshot chain."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict,
    )

    table.append(_mk(spark, [(1, "a", 1.0)]))
    added = table._write_files(_mk(spark, [(2, "b", 2.0)]))
    # another writer commits v2 first
    table.commit(table._write_files(_mk(spark, [(3, "c", 3.0)])), operation="append")
    cur = table.manifest(version=1)  # stale base
    manifest = dict(cur)
    manifest["version"] = 2  # would collide with the winner
    manifest["files"] = cur["files"] + added
    with pytest.raises(CommitConflict):
        table._write_manifest(manifest)


def test_overwrite_and_idempotent_replay(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    src = spark.createDataFrame([(2, "b", 22.0, "update")],
                                schema="id int, cat string, val double, operation string")
    merge_into(table, src, on=["id"], op_col="operation")
    state1 = sorted(map(tuple, table.read(spark).collect()))
    merge_into(table, src, on=["id"], op_col="operation")  # replay same batch
    state2 = sorted(map(tuple, table.read(spark).collect()))
    assert state1 == state2


# ---------------------------------------------------------------------------
# changelog (incremental CDC-out read)
# ---------------------------------------------------------------------------


def _changes(df):
    return sorted(
        (r["_change_version"], r["_change_type"], r["id"], r["val"])
        for r in df.collect()
    )


def test_changelog_append_is_inserts(spark, table):
    v1 = table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    v2 = table.append(_mk(spark, [(3, "a", 3.0)]))
    got = _changes(table.changelog(spark, 0, v2))
    assert got == [
        (v1, "INSERT", 1, 1.0),
        (v1, "INSERT", 2, 2.0),
        (v2, "INSERT", 3, 3.0),
    ]


def test_changelog_merge_classifies_update_insert_delete(spark, table):
    v1 = table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    src = spark.createDataFrame(
        [(2, "b", 20.0, "update"), (3, "c", 3.0, "delete"), (4, "d", 4.0, "insert")],
        schema="id int, cat string, val double, op string",
    )
    v2 = merge_into(table, src, on=["id"], op_col="op")
    got = _changes(table.changelog(spark, v1, v2))
    assert got == [
        (v2, "DELETE", 3, 3.0),
        (v2, "INSERT", 4, 4.0),
        (v2, "UPDATE_AFTER", 2, 20.0),
        (v2, "UPDATE_BEFORE", 2, 2.0),
    ]


def test_changelog_skips_compaction_and_survives_mor_delete(spark, tmp_path):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        compact,
    )

    t = LakeTable.create(
        str(tmp_path / "mor"), SCHEMA, keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    v1 = t.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.append(_mk(spark, [(3, "c", 3.0)]))
    v3 = t.delete_where(spark, "id = 2")  # position-delete file, no rewrite
    v4 = compact(spark, t)
    got = _changes(t.changelog(spark, v1, v4))
    assert got == [
        (v1 + 1, "INSERT", 3, 3.0),
        (v3, "DELETE", 2, 2.0),
    ]  # the compaction transition contributes nothing


def test_changelog_replays_to_current_state(spark, table):
    table.append(_mk(spark, [(i, "a", float(i)) for i in range(1, 6)]))
    src = spark.createDataFrame(
        [(1, "a", 10.0, "update"), (5, "a", 5.0, "delete"), (9, "z", 9.0, "insert")],
        schema="id int, cat string, val double, op string",
    )
    merge_into(table, src, on=["id"], op_col="op")
    table.delete_where(spark, "id = 3")
    head = table.current_version()
    log = table.changelog(spark, 0, head)
    # apply the log to an empty dict model: last change per key wins
    rows = sorted(
        log.collect(), key=lambda r: (r["_change_version"], r["_change_type"])
    )
    state = {}
    for r in rows:
        if r["_change_type"] in ("INSERT", "UPDATE_AFTER"):
            state[r["id"]] = r["val"]
        elif r["_change_type"] == "DELETE":
            state.pop(r["id"], None)
    want = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert state == want


def test_changelog_duplicate_key_history_multiset_fallback(spark, table):
    """Round-4 advice: append() can build a keyed table with several
    visible rows per key; the single-full-outer-join changelog path would
    fan out many-to-many and invent UPDATE_* rows. The probe must detect
    duplicates and fall back to the multiset diff."""
    # two rows for id=1 visible at once (append does not enforce keys)
    v1 = table.append(_mk(spark, [(1, "a", 1.0), (1, "a", 1.5), (2, "b", 2.0)]))
    # a COW delete of id=2 rewrites the touched file; id=1 rows carry over
    v2 = table.delete_where(spark, "id = 2")
    got = _changes(table.changelog(spark, v1, v2))
    assert got == [(v2, "DELETE", 2, 2.0)]

    # an appended extra copy for an existing key is an INSERT, and the
    # full log from 0 replays every row with correct cardinality
    v3 = table.append(_mk(spark, [(1, "a", 9.0)]))
    got3 = _changes(table.changelog(spark, v2, v3))
    assert got3 == [(v3, "INSERT", 1, 9.0)]
    full = table.changelog(spark, 0, v3)
    ins = [r for r in full.collect() if r["_change_type"] == "INSERT"]
    assert len(ins) == 4  # 3 initial + 1 extra copy; no spurious UPDATE_*


def test_append_commit_retries_after_losing_race(spark, tmp_path):
    """Optimistic-concurrency retry (Iceberg fast-append parity): an
    append that loses the exclusive-create race re-reads the new head
    and lands on the next version; both writers' rows survive."""
    t1 = LakeTable.create(str(tmp_path / "race"), SCHEMA, keys=["id"])
    t1.append(_mk(spark, [(1, "a", 1.0)]))
    t2 = LakeTable(t1.root)  # second writer handle on the same table

    real_write = t1._write_manifest
    raced = {"done": False}

    def racing_write(manifest):
        if not raced["done"]:
            raced["done"] = True
            # concurrent writer commits first, stealing this version
            t2.append(_mk(spark, [(2, "b", 2.0)]))
        real_write(manifest)

    t1._write_manifest = racing_write
    v = t1.append(_mk(spark, [(3, "c", 3.0)]))
    assert raced["done"]
    assert {r["id"] for r in t1.read(spark).collect()} == {1, 2, 3}
    assert v == t1.current_version()


def test_rewrite_commit_conflict_still_raises(spark, tmp_path):
    """A commit that REMOVES files (COW rewrite) was planned against a
    base that a concurrent commit invalidated: it must raise, never
    silently retry."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict,
    )

    t1 = LakeTable.create(str(tmp_path / "race2"), SCHEMA, keys=["id"])
    t1.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t2 = LakeTable(t1.root)

    real_write = t1._write_manifest
    raced = {"done": False}

    def racing_write(manifest):
        if not raced["done"]:
            raced["done"] = True
            t2.append(_mk(spark, [(9, "z", 9.0)]))
        real_write(manifest)

    t1._write_manifest = racing_write
    with pytest.raises(CommitConflict):
        t1.delete_where(spark, "id = 1")  # COW rewrite removes a file


def test_merge_replans_after_losing_race(spark, tmp_path):
    """A COW MERGE racing a concurrent append re-plans against the new
    head: both the merged update and the concurrent rows survive."""
    t1 = LakeTable.create(str(tmp_path / "race3"), SCHEMA, keys=["id"])
    t1.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t2 = LakeTable(t1.root)

    real_write = t1._write_manifest
    raced = {"n": 0}

    def racing_write(manifest):
        if raced["n"] == 0:
            raced["n"] += 1
            t2.append(_mk(spark, [(9, "z", 9.0)]))
        real_write(manifest)

    t1._write_manifest = racing_write
    src = spark.createDataFrame(
        [(1, "a", 11.0, "update")],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(t1, src, on=["id"], op_col="operation")
    got = {r["id"]: r["val"] for r in t1.read(spark).collect()}
    assert got == {1: 11.0, 2: 2.0, 9: 9.0}


def test_keys_unique_flag_lifecycle(spark, table):
    """The keys_unique manifest flag (round-5 verdict task 4) lets the
    changelog reader skip its per-diff uniqueness probe. It must be
    present on create, survive every operation that cannot mint a
    duplicate key, and drop to unknown on the ones that can."""

    def flag(t):
        return t.manifest()["summary"].get("keys_unique")

    assert flag(table) is True  # create: vacuously unique
    merge_into(
        table,
        spark.createDataFrame(
            [(1, "a", 1.0, "insert"), (2, "b", 2.0, "insert")],
            schema="id int, cat string, val double, operation string",
        ),
        on=["id"],
        op_col="operation",
    )
    assert flag(table) is True  # MERGE preserves
    table.update_where(spark, "id = 1", {"val": "9.0"})
    assert flag(table) is True  # non-key SET preserves
    table.delete_where(spark, "id = 2")
    assert flag(table) is True  # deletes preserve
    table.add_column("extra", T.StringType())
    assert flag(table) is True  # metadata-only commits carry it

    # a key-column assignment may collide with rows in untouched files
    table.update_where(spark, "id = 1", {"id": "id + 1"})
    assert flag(table) is None
    # once unknown, later preserving ops cannot resurrect it
    table.delete_where(spark, "id = 99")
    assert flag(table) is None


def test_keys_unique_flag_dropped_by_append(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0)]))
    assert table.manifest()["summary"].get("keys_unique") is None


def test_mor_delete_retry_survives_concurrent_append(spark, tmp_path):
    """A position-delete commit removes nothing, so it may auto-retry
    after losing the race to a concurrent APPEND: its referenced data
    files are still live in the new head."""
    t1 = LakeTable.create(str(tmp_path / "race3"), SCHEMA, keys=["id"])
    t1.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t2 = LakeTable(t1.root)

    real_write = t1._write_manifest
    raced = {"done": False}

    def racing_write(manifest):
        if not raced["done"]:
            raced["done"] = True
            t2.append(_mk(spark, [(9, "z", 9.0)]))
        real_write(manifest)

    t1._write_manifest = racing_write
    t1.delete_by_keys_mor(spark, _mk(spark, [(1, "a", 1.0)]).select("id"))
    assert raced["done"]
    assert {r["id"] for r in t1.read(spark).collect()} == {2, 9}


def test_mor_delete_retry_aborts_when_refs_compacted_away(spark, tmp_path):
    """Round-5 advice (medium): a position-delete commit retried after a
    concurrent compaction rewrote its referenced data files would commit
    dangling deletes — the deleted rows silently resurrect while
    total_rows still subtracts them. The retry must abort with a
    CommitConflict instead (Iceberg validateDataFilesExist parity)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict, DanglingDeleteRefs,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        compact,
    )

    t1 = LakeTable.create(str(tmp_path / "race4"), SCHEMA, keys=["id"])
    # two files so compaction has something to rewrite
    t1.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t1.append(_mk(spark, [(3, "c", 3.0), (4, "d", 4.0)]))
    t2 = LakeTable(t1.root)

    real_write = t1._write_manifest
    raced = {"done": False}

    def racing_write(manifest):
        if not raced["done"]:
            raced["done"] = True
            compact(spark, t2)  # small files -> rewritten into one
        real_write(manifest)

    t1._write_manifest = racing_write
    with pytest.raises(DanglingDeleteRefs):
        t1.delete_by_keys_mor(spark, _mk(spark, [(1, "a", 1.0)]).select("id"))
    # the failed commit left no trace: rows intact, no delete files
    assert {r["id"] for r in t1.read(spark).collect()} == {1, 2, 3, 4}
    assert not t1.manifest().get("delete_files")
    assert issubclass(DanglingDeleteRefs, CommitConflict)


def test_changelog_cardinality_change_is_delete_insert(spark, table):
    """Round-5 advice (low): a duplicate-key table where a key's visible
    row count CHANGES across a commit must emit DELETE+INSERT rows, not
    an unbalanced mix of UPDATE_BEFORE/UPDATE_AFTER — consumers expect
    update images paired 1:1."""
    # id=1 visible twice (append bypasses key enforcement)
    v1 = table.append(_mk(spark, [(1, "a", 1.0), (1, "a", 2.0), (5, "e", 5.0)]))
    # COW rewrite collapses id=1 to one NEW row value: 2 before-rows, 1 after-row
    v2 = table.overwrite(_mk(spark, [(1, "a", 9.0), (5, "e", 5.0)]))
    log = [
        (r["_change_type"], r["id"], r["val"])
        for r in table.changelog(spark, v1, v2).collect()
    ]
    ups = [r for r in log if r[0].startswith("UPDATE")]
    assert not ups, f"cardinality change must not emit UPDATE images: {ups}"
    assert sorted(r for r in log if r[1] == 1) == [
        ("DELETE", 1, 1.0),
        ("DELETE", 1, 2.0),
        ("INSERT", 1, 9.0),
    ]


def test_bloom_point_lookup_prunes_overlapping_ranges(spark, table):
    """Per-file key blooms: two files with fully OVERLAPPING id ranges
    (min/max cannot prune a point lookup) — the bloom must skip the file
    that provably never wrote the key, and must never skip one that did
    (no false negatives)."""
    # ranges both span 1..100, but disjoint key sets
    table.append(_mk(spark, [(1, "a", 1.0), (50, "a", 2.0), (100, "a", 3.0)]))
    table.append(_mk(spark, [(2, "b", 4.0), (51, "b", 5.0), (99, "b", 6.0)]))
    files = table.manifest()["files"]
    assert all("bloom" in f and "id" in f["bloom"] for f in files)

    all_paths = table.file_paths()
    assert len(all_paths) == 2
    # point lookup on a key present in exactly one file
    for key, expect in [(50, 1), (51, 1), (1, 1), (99, 1)]:
        pruned = table.file_paths(predicates=[Predicate("id", "=", key)])
        assert len(pruned) == expect, (key, pruned)
        got = table.read(spark, predicates=[Predicate("id", "=", key)]).filter(
            F.col("id") == key
        )
        assert got.count() == 1  # pruning is conservative: row still found
    # IN-list across both files keeps both
    both = table.file_paths(predicates=[Predicate("id", "in", (50, 51))])
    assert len(both) == 2
    # a key in neither file prunes everything (bloom, not range, decides)
    none = table.file_paths(predicates=[Predicate("id", "=", 42)])
    assert none == []


def test_bloom_per_file_under_duplicated_basenames(spark, table):
    """_collect_stats walks the commit dir recursively: two same-named
    files in different subdirectories each get the bloom of their own
    keys, so a point lookup inside both files' id ranges keeps only the
    file that holds the key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    commit = os.path.join(table.root, "data", "dup")
    for sub, ids in (("a", [1, 5]), ("b", [3, 4])):
        d = os.path.join(commit, sub)
        os.makedirs(d)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int32()),
                "cat": pa.array(["x"] * len(ids)),
                "val": pa.array([1.0] * len(ids)),
            }),
            os.path.join(d, "part-000.parquet"),
        )
    metas = sorted(table._collect_stats(commit), key=lambda m: m["path"])
    assert [m["path"] for m in metas] == [
        os.path.join("data", "dup", s, "part-000.parquet") for s in ("a", "b")
    ]
    for m, ids in zip(metas, ({1, 5}, {3, 4})):
        assert m["bloom"] == {"id": lt._bloom_build(ids)}
    table.commit(metas)
    # file a's range 1..5 covers 3: only its bloom can prune it
    assert table.file_paths(predicates=[Predicate("id", "=", 3)]) == [
        os.path.join(commit, "b", "part-000.parquet")
    ]
    got = table.read(spark, predicates=[Predicate("id", "=", 3)])
    assert [r["id"] for r in got.filter(F.col("id") == 3).collect()] == [3]


def test_bloom_respects_row_cap(spark, tmp_path, monkeypatch):
    """A file over _BLOOM_MAX_ROWS gets no bloom (the manifest stays
    metadata-scale); its min/max stats still prune."""
    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    monkeypatch.setattr(lt, "_BLOOM_MAX_ROWS", 2)
    t = LakeTable.create(str(tmp_path / "nb"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    files = t.manifest()["files"]
    assert len(files) == 1 and files[0]["rows"] == 3
    assert "bloom" not in files[0]
    assert t.file_paths(predicates=[Predicate("id", "=", 999)]) == []
    assert len(t.file_paths(predicates=[Predicate("id", "=", 2)])) == 1


def test_bloom_exact_for_wide_bigints_nulls_and_dates(spark, tmp_path):
    """Each key bloom equals _bloom_build of the file's non-null keys
    read back with pyarrow: bigint keys above 2^53 (where a float64
    detour would round them), NULLs (never hashed) and date keys (hashed
    as epoch days) all stay exact."""
    import pyarrow.parquet as pq

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("day", T.DateType()),
    ])
    rows = spark.sql("""
        SELECT CASE WHEN id % 97 = 0 THEN NULL
               ELSE 9223372036854000000 + id END AS id,
               CONCAT('n', id % 50) AS name,
               DATE_ADD(DATE'2024-01-01', CAST(id % 30 AS INT)) AS day
        FROM range(6000)
    """).coalesce(1)
    t = LakeTable.create(str(tmp_path / "t"), schema, keys=["id", "name", "day"])
    t.append(rows)
    files = t.manifest()["files"]
    assert len(files) == 1
    back = pq.read_table(os.path.join(t.root, files[0]["path"]))
    assert back.column("id").null_count > 0
    for c in ("id", "name", "day"):
        keys = {lt._encode_stat(x) for x in back.column(c).to_pylist() if x is not None}
        assert files[0]["bloom"][c] == lt._bloom_build(keys), c
    assert lt._bloom_may_contain(files[0]["bloom"]["id"], 9223372036854000001)


def test_bloom_build_matches_plain_python_reference():
    """The vectorized bit-setting reduces h1 and h2 mod m before the
    uint64 arithmetic; the bitset must equal the plain big-int
    (h1 + i*h2) % m loop for ints, strings, keys >= 10^12, canonicalized
    floats and the 1024-bit floor."""
    import base64

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    def reference(values):
        m = max(1024, lt._BLOOM_BITS_PER_KEY * len(values))
        m = (m + 7) // 8 * 8
        bits = bytearray(m // 8)
        for v in values:
            h1, h2 = lt._bloom_hashes(v)
            for i in range(lt._BLOOM_K):
                b = (h1 + i * h2) % m
                bits[b >> 3] |= 1 << (b & 7)
        return {"m": m, "k": lt._BLOOM_K, "bits": base64.b64encode(bytes(bits)).decode()}

    for values in (
        set(range(22000)),
        {f"cust-{i}" for i in range(5000)},
        {10**12 + 7919 * i for i in range(3000)},
        {2.0, 2.5, -3, "x"},
        {42},
    ):
        assert lt._bloom_build(values) == reference(values)


def test_bloom_mor_delete_prunes_candidate_files(spark, table):
    """delete_by_keys_mor collects its (micro-batch-scale) key set and
    lets the bloom prune the candidate scan; deletes still land."""
    table.append(_mk(spark, [(1, "a", 1.0), (100, "a", 2.0)]))
    table.append(_mk(spark, [(2, "b", 3.0), (99, "b", 4.0)]))
    table.delete_by_keys_mor(spark, spark.createDataFrame([(2,)], "id int"))
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 99, 100]
    # the delete file references only the file that held id=2
    dels = table.manifest()["delete_files"]
    assert len(dels) == 1 and len(dels[0]["refs"]) == 1


def test_merge_not_matched_by_source_delete_syncs_snapshot(spark, table):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE (Spark 4 / Delta parity):
    the table converges to exactly the source snapshot — updates applied,
    new keys inserted, absent keys deleted, across every file."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    table.append(_mk(spark, [(3, "c", 3.0), (4, "d", 4.0)]))
    n_files_before = len(table.manifest()["files"])
    snapshot = spark.createDataFrame(
        [(2, "b", 20.0), (4, "d", 4.0), (5, "e", 5.0)],
        schema="id int, cat string, val double",
    )
    merge_into(table, snapshot, on=["id"], not_matched_by_source_delete=True)
    got = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert got == {2: 20.0, 4: 4.0, 5: 5.0}
    # the flag rewrites every file (any file may hold a doomed row)
    assert table.manifest()["summary"]["matched_files"] == n_files_before
    # without the flag, unmatched target rows survive (regression guard)
    table2 = LakeTable.create(str(table.root) + "2", SCHEMA, keys=["id"])
    table2.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    merge_into(table2, snapshot, on=["id"])
    assert sorted(r["id"] for r in table2.read(spark).collect()) == [1, 2, 4, 5]


def test_merge_not_matched_by_source_on_empty_table(spark, table):
    snapshot = spark.createDataFrame([(7, "z", 7.0)], "id int, cat string, val double")
    merge_into(table, snapshot, on=["id"], not_matched_by_source_delete=True)
    assert [r["id"] for r in table.read(spark).collect()] == [7]


def test_merge_not_matched_by_source_update_flags_stale(spark, table):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET (Spark 4 / Delta
    parity): target rows absent from the source get the assignments
    (expressions over t.<col>) — the stale-flagging variant of snapshot
    sync that keeps history rows; matched rows update from the source,
    new keys insert, nothing is deleted."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    table.append(_mk(spark, [(3, "c", 3.0)]))
    snapshot = spark.createDataFrame(
        [(2, "b", 20.0), (5, "e", 5.0)], "id int, cat string, val double"
    )
    merge_into(
        table,
        snapshot,
        on=["id"],
        not_matched_by_source_update={"cat": "'stale'", "val": "t.val + 100"},
    )
    got = {r["id"]: (r["cat"], r["val"]) for r in table.read(spark).collect()}
    assert got == {
        1: ("stale", 101.0),
        2: ("b", 20.0),
        3: ("stale", 103.0),
        5: ("e", 5.0),
    }
    # guard rails: mutually exclusive with the delete flag; keys frozen
    with pytest.raises(ValueError, match="mutually exclusive"):
        merge_into(
            table, snapshot, on=["id"],
            not_matched_by_source_update={"cat": "'x'"},
            not_matched_by_source_delete=True,
        )
    with pytest.raises(ValueError, match="key columns"):
        merge_into(
            table, snapshot, on=["id"],
            not_matched_by_source_update={"id": "0"},
        )
    with pytest.raises(ValueError, match="unknown columns"):
        merge_into(
            table, snapshot, on=["id"],
            not_matched_by_source_update={"nope": "1"},
        )


def test_shallow_clone_diverges_and_expiry_spares_source(spark, tmp_path):
    """shallow_clone (Delta SHALLOW CLONE / Iceberg register_table
    parity): zero-copy v0 referencing the source's files; divergent
    commits on either side never touch the other; a COW rewrite on the
    clone materializes its own files; and clone expiry NEVER deletes
    borrowed (outside-root) files — the vacuum-on-clone contract."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
        merge_into,
    )

    src = LakeTable.create(str(tmp_path / "src"), SCHEMA, keys=["id"])
    src.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    clone = src.shallow_clone(str(tmp_path / "clone"))

    # zero-copy: clone reads the source's rows without a data dir copy
    assert sorted(r["id"] for r in clone.read(spark).collect()) == [1, 2]
    assert not any(
        f.endswith(".parquet")
        for _d, _s, fs in os.walk(os.path.join(clone.root, "data"))
        for f in fs
    )
    # stats/bloom pruning carries across the borrow
    assert len(clone.file_paths(predicates=[Predicate("id", "=", 1)])) == 1

    # divergence: clone-side MERGE rewrites into the CLONE's root only
    merge_into(clone, _mk(spark, [(2, "b", 20.0), (3, "c", 3.0)]))
    assert {r["id"]: r["val"] for r in clone.read(spark).collect()} == {
        1: 1.0, 2: 20.0, 3: 3.0,
    }
    assert sorted(r["val"] for r in src.read(spark).collect()) == [1.0, 2.0]

    # expiry on the clone: the rewritten-away borrowed file is dropped
    # from the clone's manifests but its BYTES survive (source-owned)
    src_files_before = set(src.file_paths())
    expire_snapshots(clone, keep_last=1)
    assert all(os.path.exists(p) for p in src_files_before)
    assert sorted(r["id"] for r in src.read(spark).collect()) == [1, 2]

    # a fresh ledgered clone does not inherit stream watermarks
    assert "stream_sink_txn" not in clone.manifest()["summary"]
    # double-clone onto an existing table refuses
    with pytest.raises(ValueError, match="already a table"):
        src.shallow_clone(str(tmp_path / "clone"))


def test_shallow_clone_reads_the_sources_initial_defaults(spark, tmp_path):
    """A shallow clone's borrowed files predate a defaulted column just
    as they do on the source: the clone reads the default for them,
    although the clone stores them as ``../src/...`` paths and the root
    holds a space that the scan percent-encodes."""
    base = tmp_path / "a root"
    src = LakeTable.create(str(base / "src"), SCHEMA, keys=["id"])
    src.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    src.add_column("seen", T.StringType(), default="dflt")
    src.append(spark.createDataFrame([(3, "c", 3.0, None)], src.schema))
    clone = src.shallow_clone(str(base / "clone"))

    rows = sorted(map(tuple, src.read(spark).collect()))
    assert rows == [(1, "a", 1.0, "dflt"), (2, "b", 2.0, "dflt"), (3, "c", 3.0, None)]
    assert sorted(map(tuple, clone.read(spark).collect())) == rows


def test_concurrent_appends_all_rows_survive(spark, tmp_path):
    """Two writer threads appending REAL data concurrently: with the
    commit lock, every append lands exactly once — no lost snapshots,
    no dropped files, row multiset complete. (The empty-commit flavor
    lives in test_streaming's ledger test; this pins the data path.)"""
    import threading

    t = LakeTable.create(str(tmp_path / "conc"), SCHEMA, keys=["id"])
    n_each, errors = 4, []
    barrier = threading.Barrier(2)

    def writer(base: int):
        try:
            for i in range(n_each):
                barrier.wait(timeout=30)
                t.append(_mk(spark, [(base + i, f"w{base}", float(i))]))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(b,)) for b in (100, 200)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errors, errors
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [100, 101, 102, 103, 200, 201, 202, 203]
    assert t.current_version() == 2 * n_each


def test_metadata_commit_refuses_stale_base(spark, table):
    """A DDL derived from a head that a data commit has since advanced
    must raise CommitConflict, not commit — its manifest copies the
    stale head's FILE LIST, so committing would silently drop the
    racing commit's files (the round-9 lost-update class, DDL flavor)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict,
    )

    table.append(_mk(spark, [(1, "a", 1.0)]))
    cur = table.manifest()  # DDL base read ...
    table.append(_mk(spark, [(2, "b", 2.0)]))  # ... race: data commit lands
    with pytest.raises(CommitConflict, match="concurrent commit"):
        table._metadata_commit(cur, table.schema, {"operation": "test-ddl"})
    # both data commits' rows are intact
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 2]
    # a fresh-base DDL goes through
    table._metadata_commit(table.manifest(), table.schema, {"operation": "test-ddl"})


def test_meta_partitions_rollup(spark, tmp_path):
    """meta_partitions (Iceberg `partitions` parity): per-value rollup
    straight from manifest stats — single-valued files group under
    their value, range-spanning files under the NULL partition with
    their span preserved. No data file is opened."""
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("cat", T.StringType()),
    ])
    t = LakeTable.create(
        str(tmp_path / "mp"), sch, keys=["id"], cluster_by=["cat"]
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], sch))
    rows = {r["partition"]: r for r in t.meta_partitions(spark).collect()}
    assert rows["a"]["row_count"] == 2 and rows["b"]["row_count"] == 1
    assert rows["a"]["file_count"] >= 1
    # a hand-planted mixed-range file rolls up under NULL with its span
    m = t.manifest()
    m["files"].append({
        "path": "data/fake.parquet", "rows": 5, "bytes": 10,
        "min": {"cat": "c"}, "max": {"cat": "e"},
    })
    t._write_manifest({**m, "version": t.current_version() + 1,
                       "parent": t.current_version()})
    t._swap_pointer(t.current_version() + 1)
    rows = {r["partition"]: r for r in t.meta_partitions(spark).collect()}
    assert rows[None]["row_count"] == 5
    assert (rows[None]["value_lo"], rows[None]["value_hi"]) == ("c", "e")


def test_rename_column_metadata_only(spark, table):
    """RENAME COLUMN is metadata-only: files written before the rename
    keep the former physical name yet read back under the new one
    (typed shadow + coalesce), new writes carry the new name, both
    coexist, and time travel still shows the old schema."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", None)]))
    v_before = table.current_version()
    table.rename_column("val", "amount")
    df = table.read(spark)
    assert df.columns == ["id", "cat", "amount"]
    got = {r["id"]: r["amount"] for r in df.collect()}
    assert got == {1: 1.0, 2: None}  # real NULL survives the coalesce
    # new write with the new name; mixed-physical-name table reads whole
    table.append(
        spark.createDataFrame([(3, "c", 3.0)], "id int, cat string, amount double")
    )
    got = {r["id"]: r["amount"] for r in table.read(spark).collect()}
    assert got == {1: 1.0, 2: None, 3: 3.0}
    # time travel: the old snapshot still reads the old column name
    old = table.read(spark, version=v_before)
    assert "val" in old.columns and "amount" not in old.columns
    # filters and DML on the new name hit old-file rows
    table.update_where(spark, "amount = 1.0", {"amount": "amount * 10"})
    got = {r["id"]: r["amount"] for r in table.read(spark).collect()}
    assert got[1] == 10.0


def test_rename_column_key_and_merge(spark, table):
    """Renaming a KEY column renames the key list; MERGE keeps working
    against files written under the former physical name."""
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    table.rename_column("id", "pk")
    assert table.keys == ["pk"]
    src = spark.createDataFrame(
        [(2, "b", 20.0, "update"), (9, "z", 9.0, "insert")],
        "pk int, cat string, val double, operation string",
    )
    merge_into(table, src, op_col="operation")
    got = {r["pk"]: r["val"] for r in table.read(spark).collect()}
    assert got == {1: 1.0, 2: 20.0, 9: 9.0}
    # stats/bloom pruning re-keys per file: point predicate still prunes
    assert len(table.file_paths(predicates=[Predicate("pk", "=", 1)])) >= 1
    assert table.file_paths(predicates=[Predicate("pk", "=", 777)]) == []


def test_rename_column_chain_and_changelog(spark, table):
    """A rename CHAIN (a->b->c) resolves through all former names, and
    the changelog emits head names across the rename boundary."""
    v0 = table.append(_mk(spark, [(1, "a", 1.0)]))
    table.rename_column("val", "v2")
    table.rename_column("v2", "v3")
    assert {r["id"]: r["v3"] for r in table.read(spark).collect()} == {1: 1.0}
    v3 = table.delete_where(spark, "v3 = 1.0")
    log = table.changelog(spark, 0, v3)
    rows = [(r["_change_type"], r["v3"]) for r in log.collect()]
    assert ("INSERT", 1.0) in rows and ("DELETE", 1.0) in rows
    # a range ENTIRELY before the rename still emits today's names
    old_range = table.changelog(spark, 0, v0)
    assert "v3" in old_range.columns
    assert [r["v3"] for r in old_range.collect()] == [1.0]


def test_rename_column_guards(spark, table):
    table.append(_mk(spark, [(1, "a", 1.0)]))
    with pytest.raises(ValueError, match="no such column"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("val", "cat")
    # names from ancestor schemas are permanently burned (dropped-column
    # bytes would bleed into the coalesce)
    table.rename_column("val", "v2")
    with pytest.raises(ValueError, match="earlier schema"):
        table.rename_column("v2", "val")
    # pending equality deletes pin their column names
    table.delete_eq([{"id": 99}])
    with pytest.raises(ValueError, match="equality-delete"):
        table.rename_column("id", "pk")


def test_widen_column_metadata_only(spark, table):
    """Type widening (Iceberg ALTER COLUMN promotion): int files read
    back as bigint/double with no rewrite; mixed-width files coexist;
    stats and key blooms keep pruning across the widening."""
    table.append(_mk(spark, [(1, "a", 1.0), (1000, "b", 2.0)]))
    table.widen_column("id", T.LongType())
    df = table.read(spark)
    assert dict(df.dtypes)["id"] == "bigint"
    assert sorted(r["id"] for r in df.collect()) == [1, 1000]
    # new wide write coexists with old narrow files
    table.append(
        spark.createDataFrame(
            [(2**40, "c", 3.0)], "id bigint, cat string, val double"
        )
    )
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 1000, 2**40]
    # bloom canonicalization: the pre-widening file still answers point
    # lookups (float-typed probe of an integral value included)
    assert len(table.file_paths(predicates=[Predicate("id", "=", 1000)])) >= 1
    assert table.file_paths(predicates=[Predicate("id", "=", 777)]) == []
    # merge on the widened key still lands
    src = spark.createDataFrame(
        [(1, "a", 10.0, "update")], "id bigint, cat string, val double, operation string"
    )
    merge_into(table, src, on=["id"], op_col="operation")
    got = {r["id"]: r["val"] for r in table.read(spark).collect()}
    assert got[1] == 10.0


def test_widen_column_rejects_non_widening(spark, table):
    with pytest.raises(ValueError, match="not a widening"):
        table.widen_column("id", T.IntegerType())  # same type
    with pytest.raises(ValueError, match="not a widening"):
        table.widen_column("val", T.FloatType())  # narrowing
    with pytest.raises(ValueError, match="no such column"):
        table.widen_column("nope", T.LongType())


def test_widen_column_changelog_across_boundary(spark, table):
    """A changelog range straddling the widening emits head types."""
    v1 = table.append(_mk(spark, [(1, "a", 1.0)]))
    table.widen_column("id", T.LongType())
    v2 = table.delete_where(spark, "id = 1")
    log = table.changelog(spark, 0, v2)
    assert dict(log.dtypes)["id"] == "bigint"
    kinds = sorted((r["_change_type"], r["id"]) for r in log.collect())
    assert kinds == [("DELETE", 1), ("INSERT", 1)]


# ---------------------------------------------------------------------------
# Initial-default columns (Iceberg v3 initial-default parity)
# ---------------------------------------------------------------------------


@pytest.fixture()
def dtable(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "dt"),
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]),
        keys=["k"],
    )
    t.append(spark.sql("SELECT CAST(id AS LONG) k, CONCAT('a', id) v FROM range(5)"))
    return t


def test_add_column_default_pre_vs_post_files(spark, dtable):
    dtable.add_column("tier", T.StringType(), default="standard")
    dtable.append(spark.sql(
        "SELECT CAST(id + 10 AS LONG) k, CONCAT('b', id) v,"
        " CASE WHEN id = 0 THEN NULL ELSE 'gold' END tier FROM range(3)"
    ))
    rows = {r["k"]: r["tier"] for r in dtable.read(spark).collect()}
    # pre-ALTER files read the default; a post-ALTER explicit NULL stays NULL
    assert rows[0] == "standard" and rows[4] == "standard"
    assert rows[10] is None and rows[11] == "gold"
    # user-facing schema carries no internal meta columns
    assert dtable.read(spark).columns == ["k", "v", "tier"]
    # time travel before the ALTER: the column does not exist at all
    assert dtable.read(spark, version=1).columns == ["k", "v"]


def test_default_survives_mor_delete_and_compaction(spark, dtable):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        compact,
    )

    dtable.add_column("tier", T.StringType(), default="standard")
    dtable.append(spark.sql(
        "SELECT CAST(id + 10 AS LONG) k, CONCAT('b', id) v,"
        " CASE WHEN id = 0 THEN NULL ELSE 'gold' END tier FROM range(3)"
    ))
    dtable.delete_by_keys_mor(
        spark, spark.sql("SELECT CAST(id AS LONG) k FROM VALUES (2), (11) t(id)")
    )
    got = {r["k"]: r["tier"] for r in dtable.read(spark).collect()}
    assert 2 not in got and 11 not in got and got[0] == "standard"
    # compaction materializes the default into rewritten files (stamped
    # with the CURRENT schema generation) — content must be invariant
    compact(spark, dtable)
    assert {r["k"]: r["tier"] for r in dtable.read(spark).collect()} == got


def test_default_follows_rename_and_mixes_with_shadows(spark, dtable):
    # rename an OLD column first (shadow machinery), then add a default:
    # the defaults projection must still coalesce former physical names
    dtable.rename_column("v", "name")
    dtable.add_column("score", T.LongType(), default=7)
    dtable.append(spark.sql("SELECT CAST(99 AS LONG) k, 'x' name, CAST(1 AS LONG) score"))
    out = sorted((r["k"], r["name"], r["score"]) for r in dtable.read(spark).collect())
    assert out == [(0, "a0", 7), (1, "a1", 7), (2, "a2", 7), (3, "a3", 7), (4, "a4", 7), (99, "x", 1)]
    # renaming the defaulted column itself re-keys the default
    dtable.rename_column("score", "points")
    got = {r["k"]: r["points"] for r in dtable.read(spark).collect()}
    assert got[0] == 7 and got[99] == 1


def test_default_cow_update_delete(spark, dtable):
    dtable.add_column("score", T.LongType(), default=7)
    dtable.update_where(spark, "k = 1", {"score": "42"})
    dtable.delete_where(spark, "k = 2")
    out = sorted((r["k"], r["score"]) for r in dtable.read(spark).collect())
    assert out == [(0, 7), (1, 42), (3, 7), (4, 7)]


def test_default_dropped_with_column(spark, dtable):
    dtable.add_column("score", T.LongType(), default=7)
    dtable.drop_column("score")
    assert "score" not in dtable.manifest().get("defaults", {})
    assert dtable.read(spark).columns == ["k", "v"]


def test_default_rejects_non_scalar(dtable):
    with pytest.raises(ValueError, match="JSON-safe scalar"):
        dtable.add_column("j", T.StringType(), default={"a": 1})


def _evolved_table(spark, root):
    """A merge-on-read keyed table whose files read under every per-file
    rule: a renamed column, string, timestamp and date initial defaults
    (one stored explicitly NULL), a widened column, a position delete,
    an equality delete and a later re-insert of the equality-deleted
    key, which survives it."""
    t = LakeTable.create(
        root,
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]),
        keys=["k"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.sql("SELECT id k, CONCAT('a', id) v, CAST(id AS INT) n FROM range(6)"))
    t.rename_column("v", "label")
    t.add_column("tag", T.StringType(), default="x")
    t.add_column("seen", T.TimestampType(), default="2024-05-01 12:00:00")
    t.add_column("day", T.DateType(), default="2024-05-02")
    t.widen_column("n", T.LongType())
    t.append(spark.sql(
        "SELECT id + 10 k, CONCAT('b', id) label, id * 10000000000 n,"
        " IF(id = 0, NULL, 'y') tag, TIMESTAMP'2025-01-01 00:00:00' seen,"
        " DATE'2025-01-02' day FROM range(3)"
    ))
    t.delete_where(spark, "k = 3")
    t.delete_eq([{"k": 11}])
    t.append(spark.sql(
        "SELECT 11L k, 'again' label, 7L n, 'z' tag,"
        " TIMESTAMP'2026-01-01 00:00:00' seen, DATE'2026-01-02' day"
    ))
    return t


def _sorted_rows(tbl):
    return sorted((tuple(r.values()) for r in tbl.to_pylist()), key=repr)


def test_read_arrow_matches_read_files_per_file(spark, tmp_path):
    """The driver MERGE's pyarrow read gives, file by file, the rows of
    the Spark read: renames, defaults, the widened type and both kinds
    of pending delete resolved the same way."""
    from pyspark.sql.pandas.types import to_arrow_schema

    t = _evolved_table(spark, str(tmp_path / "t"))
    schema = to_arrow_schema(t.schema)
    files = [f["path"] for f in t.manifest()["files"]]
    assert len(files) == 3 and len(t.manifest()["delete_files"]) == 2
    got = {}
    for rel in files:
        (arrow,) = t._read_arrow([rel], schema)
        spark_rows = t.read_files(spark, [os.path.join(t.root, rel)]).toArrow()
        assert _sorted_rows(arrow) == _sorted_rows(spark_rows)
        got.update((r["k"], r) for r in arrow.to_pylist())
    assert sorted(got) == [0, 1, 2, 4, 5, 10, 11, 12]
    assert got[0]["label"] == "a0" and got[0]["tag"] == "x"
    assert str(got[0]["seen"]) == "2024-05-01 12:00:00+00:00"
    assert str(got[0]["day"]) == "2024-05-02"
    assert got[10]["tag"] is None and got[12]["n"] == 20_000_000_000
    assert got[11]["label"] == "again"


def test_versions_and_changelog_survive_dropping_a_defaulted_column(spark, tmp_path):
    """After DROP COLUMN of a defaulted column, every earlier version
    still reads it under its own schema, the default included, and the
    changelog is unchanged but for the column."""
    t = _evolved_table(spark, str(tmp_path / "t"))
    head = t.current_version()

    def versions():
        return [_sorted_rows(t.read(spark, version=v).toArrow()) for v in range(head + 1)]

    before = versions()
    changes = _sorted_rows(t.changelog(spark, 0, head).drop("tag").toArrow())
    t.drop_column("tag")
    assert versions() == before
    assert _sorted_rows(t.changelog(spark, 0).toArrow()) == changes
    assert "tag" not in t.read(spark).columns


# ---------------------------------------------------------------------------
# Row lineage (Iceberg v3 _row_id)
# ---------------------------------------------------------------------------


@pytest.fixture()
def ltable(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "lt"),
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]),
        keys=["k"], properties={"row-lineage": "true"},
    )
    t.append(spark.sql(
        "SELECT CAST(id AS LONG) k, CONCAT('a', id) v FROM range(5)"
    ).repartition(1))
    return t


def _ids(spark, t):
    return {r["k"]: r["_row_id"] for r in t.read(spark, with_row_ids=True).collect()}


def test_row_ids_assigned_per_append_block(spark, ltable):
    assert sorted(_ids(spark, ltable).values()) == [0, 1, 2, 3, 4]
    ltable.append(spark.sql(
        "SELECT CAST(id + 10 AS LONG) k, CONCAT('b', id) v FROM range(3)"
    ).repartition(1))
    assert sorted(_ids(spark, ltable).values()) == [0, 1, 2, 3, 4, 5, 6, 7]
    # plain reads never leak the lineage column
    assert ltable.read(spark).columns == ["k", "v"]


def test_row_ids_survive_update_delete_merge_compact(spark, ltable):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        compact,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
        merge_into,
    )

    base = _ids(spark, ltable)
    ltable.update_where(spark, "k = 1", {"v": "'u'"})
    assert _ids(spark, ltable) == base  # COW update keeps ids
    ltable.delete_where(spark, "k = 2")
    base.pop(2)
    assert _ids(spark, ltable) == base  # survivors keep ids
    src = spark.sql(
        "SELECT CAST(0 AS LONG) k, 'm' v UNION ALL SELECT CAST(50 AS LONG) k, 'n' v"
    )
    merge_into(ltable, src)
    got = _ids(spark, ltable)
    assert got[0] == base[0]  # matched row keeps its id
    assert got[50] not in base.values() and got[50] >= 5  # fresh block id
    compact(spark, ltable)
    assert _ids(spark, ltable) == got  # compaction materializes ids


def test_row_ids_distinct_and_stable_without_lineage_flag(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "nl"),
        T.StructType([T.StructField("k", T.LongType())]), keys=["k"],
    )
    t.append(spark.range(3).select(F.col("id").alias("k")))
    # lineage not enabled: with_row_ids surfaces NULLs, never fabricates
    vals = [r["_row_id"] for r in t.read(spark, with_row_ids=True).collect()]
    assert vals == [None, None, None]


def test_plan_path_metrics_observable(spark, table, monkeypatch):
    """plans.metrics counts which planner branch fired (r8 verdict #5:
    'measure how often the in-process paths fire at sf0.1') — the merge
    probe-skip/probe-job split and the bloom builds must be countable
    without log scraping."""
    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt
    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge as mg
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    metrics.reset()
    # every commit that writes keyed rows builds its blooms in-process
    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert metrics.snapshot().get("bloom.inprocess_small") == 1

    # a small merge runs on the driver: no probe job, no probe skip
    src = spark.createDataFrame(
        [(2, "b", 9.0, "update")],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(table, src, on=["id"], op_col="operation")
    snap = metrics.snapshot()
    assert snap.get("merge.inprocess") == 1
    assert "merge.probe_job" not in snap and "merge.probe_skip_small" not in snap

    # over the in-process row gate, the Spark MERGE: small candidates
    # take the byte-gated rewrite, probe job skipped
    monkeypatch.setattr(lt, "_INPROCESS_MAX_ROWS", 0)
    merge_into(table, src, on=["id"], op_col="operation")
    snap = metrics.snapshot()
    assert snap.get("merge.probe_skip_small") == 1
    assert "merge.probe_job" not in snap

    # force the at-scale path: probe threshold 0 -> semi-join probe runs
    monkeypatch.setattr(mg, "_PROBE_SKIP_BYTES", 0)
    merge_into(table, src, on=["id"], op_col="operation")
    assert metrics.snapshot().get("merge.probe_job") == 1

    # source key range missing every file -> no candidates, no probe
    miss = spark.createDataFrame(
        [(10_000, "z", 0.0, "update")],
        schema="id int, cat string, val double, operation string",
    )
    merge_into(table, miss, on=["id"], op_col="operation")
    assert metrics.snapshot().get("merge.no_candidates") == 1

    # full-snapshot sync mode counts as full_candidates by construction
    merge_into(
        table,
        src.drop("operation"),
        on=["id"],
        not_matched_by_source_delete=True,
    )
    assert metrics.snapshot().get("merge.full_candidates") == 1
    metrics.reset()
    assert metrics.snapshot() == {}


def test_torn_manifest_crash_recovery(spark, tmp_path):
    """A process killed mid-manifest-write (after `open(p, "x")`, before
    json.dump finishes) leaves a torn v{N}.json that was never the
    committed head (the atomic pointer swap only follows a completed
    write). Every snapshot-dir walker must treat it as a non-snapshot:
    before the guard, one torn file permanently wedged expire_snapshots
    and crashed the .snapshots metadata table with JSONDecodeError."""
    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0)]))
    t.append(_mk(spark, [(2, "b", 2.0)]))
    head = t.current_version()

    # simulate the torn write: a crashed commit's partial v3 manifest,
    # plus an orphaned data file it was about to reference
    snap_dir = os.path.join(t.root, lt._SNAPSHOT_DIR)
    torn_v = head + 1
    with open(os.path.join(snap_dir, f"v{torn_v:012d}.json"), "w") as f:
        f.write('{"version": %d, "files": [{"pa' % torn_v)  # truncated
    orphan = os.path.join(t.root, lt._DATA_DIR, "crashed", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan))
    _mk(spark, [(9, "z", 9.0)]).toPandas().to_parquet(orphan)

    # readers: head unaffected, listing skips the torn file, time travel
    # to the torn version says so explicitly
    assert t.read(spark).count() == 2
    assert [s["version"] for s in t.snapshots()] == [0, 1, 2]
    with pytest.raises(SnapshotNotFound, match="torn"):
        t.manifest(version=torn_v)
    # the torn version's files are not "referenced" — they are orphans
    assert not any("crashed" in r for r in t.referenced_files())

    # the NEXT writer skips the torn number (filename-based numbering)
    # and commits with the real head as parent
    v_next = t.append(_mk(spark, [(3, "c", 3.0)]))
    assert v_next == torn_v + 1
    assert t.manifest()["parent"] == head
    assert t.read(spark).count() == 3

    # expiry reaps the torn manifest AND the crashed commit's orphan
    # data file, and keeps working on re-run (it used to wedge forever)
    res = expire_snapshots(t, keep_last=10)
    assert not os.path.exists(os.path.join(snap_dir, f"v{torn_v:012d}.json"))
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 3
    expire_snapshots(t, keep_last=10)  # idempotent re-run
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]


def test_rollback_to_tag_survives_expired_intermediates(spark, tmp_path):
    """Expiry drops intermediate manifests, which used to break the
    parent-chain walk in is_ancestor — rollback to a TAG-PINNED
    snapshot raised SnapshotNotFound on the first expired ancestor
    (found by the expiry property test). Expiry now tombstones the
    dropped (version -> parent) edges in _lineage.json and is_ancestor
    falls back to it: a pinned tag stays rollback-able forever."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.create_tag("genesis")  # pins v0 (empty table)
    t.append(_mk(spark, [(1, "a", 1.0)]))
    t.append(_mk(spark, [(2, "b", 2.0)]))
    t.append(_mk(spark, [(3, "c", 3.0)]))
    expire_snapshots(t, keep_last=1)  # drops v1, v2; keeps v3 + pinned v0
    assert t.is_ancestor(0, t.current_version())  # via the tombstones
    assert not t.is_ancestor(99, t.current_version())
    t.rollback_to(t.resolve_ref("genesis"))
    assert t.read(spark).count() == 0
    # history continues from the restored snapshot as usual
    t.append(_mk(spark, [(9, "z", 9.0)]))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [9]


def test_history_and_changelog_across_expired_versions(spark, tmp_path):
    """meta_history stays complete to the root through lineage
    tombstones (expired ancestors get NULL operation/created);
    changelog over a range crossing an expired snapshot raises a
    remedial error naming expiry, not a bare missing-version."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.create_tag("genesis")
    for i in range(1, 4):
        t.append(_mk(spark, [(i, "x", float(i))]))
    expire_snapshots(t, keep_last=2)  # v1 expired; v0 pinned, v2-v3 live

    hist = t.meta_history(spark).collect()
    assert [r["version"] for r in hist] == [0, 1, 2, 3]
    assert [r["operation"] for r in hist] == ["create", None, "append", "append"]

    # crossing the expired v1 (walk) or needing it as a diff base both
    # name expiry and the remedy, not a bare missing-version
    with pytest.raises(SnapshotNotFound, match="expired snapshot"):
        t.changelog(spark, from_version=0).count()
    with pytest.raises(SnapshotNotFound, match="expire_snapshots"):
        t.changelog(spark, from_version=1).count()
    # a range entirely inside live history still works
    assert t.changelog(spark, from_version=2).count() == 1


def test_shallow_clone_recovers_from_crash_before_pointer_swap(spark, tmp_path):
    """A clone killed between its v0 write and pointer swap used to
    brick the destination root (every retry hit CommitConflict while
    the table stayed unreadable) — the same crashed-create class fixed
    for create(); the retried clone reclaims the unpointed v0 under the
    dest commit lock. An EXISTING table still refuses cloning over."""
    t = LakeTable.create(str(tmp_path / "src"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    dest_root = str(tmp_path / "clone")
    # simulate the crash: run the clone, then delete the pointer only
    t.shallow_clone(dest_root)
    os.remove(os.path.join(dest_root, lt._CURRENT))
    c = t.shallow_clone(dest_root)  # retry succeeds via the reclaim
    assert c.read(spark).count() == 2
    with pytest.raises(ValueError, match="already a table"):
        t.shallow_clone(dest_root)


def test_commit_rejects_removing_files_already_rewritten(spark, table):
    """RewriteFiles validation (Iceberg parity): a COW rewrite that lost
    a race to a concurrent rewrite of the same files must raise
    CommitConflict, not commit survivors that duplicate the winner's
    rows and resurrect the rows it meant to drop (review round 10)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict,
    )

    table.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    doomed = [f["path"] for f in table.manifest()["files"]]
    # winner: a compaction-style rewrite replaces the file
    new_meta = table._write_files(table.read(spark))
    table.commit(new_meta, removed_paths=doomed, operation="compact")
    # loser: tries to remove the same (now-gone) files
    with pytest.raises(CommitConflict, match="no longer live"):
        table.commit(
            table._write_files(table.read(spark).filter("id = 1")),
            removed_paths=doomed,
            operation="delete",
        )


def test_mor_delete_null_key_and_eq_delete_coexistence(spark, tmp_path):
    """delete_by_keys_mor must hit a NULL-key row (null-safe probe,
    pruning disabled when the batch carries a NULL key) — matching the
    COW MERGE semantics — and must not misread pending equality-delete
    parquets as (file, pos) tuples (review round 10)."""
    nsch = T.StructType([
        T.StructField("id", T.IntegerType(), True),
        T.StructField("v", T.DoubleType(), True),
    ])
    t = LakeTable.create(
        str(tmp_path / "t"), nsch, keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([(1, 1.0), (None, 5.0), (3, 3.0)], nsch))
    # a pending equality delete whose parquet has non-(file,pos) columns
    t.delete_eq([{"id": 3}])
    t.delete_by_keys_mor(
        spark, spark.createDataFrame([(None,)], "id int"), ["id"]
    )
    rows = [r["id"] for r in t.read(spark).collect()]
    assert rows == [1]  # NULL-key row deleted; eq-deleted row gone too


def test_rename_column_works_after_expiry(spark, tmp_path):
    """The used-physical-names guard sweeps LIVE snapshots instead of
    walking the head's parent chain — rename_column used to crash with
    SnapshotNotFound on the first expired ancestor (review round 10),
    and the guard still rejects a name recorded in a live rename
    chain."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(4):
        t.append(_mk(spark, [(i, "x", float(i))]))
    t.rename_column("val", "amount")
    expire_snapshots(t, keep_last=1)
    v = t.rename_column("amount", "price")  # no crash after expiry
    assert v == t.current_version()
    with pytest.raises(ValueError, match="used by an earlier schema"):
        t.rename_column("price", "val")  # former name still guarded
    assert sorted(r["price"] for r in t.read(spark).collect()) == [0.0, 1.0, 2.0, 3.0]


def test_shallow_clone_refuses_pending_mor_deletes(spark, tmp_path):
    """Borrowed position deletes cannot apply on the clone (source-
    relative file coordinates never match borrowed paths) — the clone
    would silently resurrect deleted rows, so shallow_clone refuses and
    names the remedy (review round 10)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.delete_eq([{"id": 2}])
    with pytest.raises(ValueError, match="rewrite_deletes"):
        t.shallow_clone(str(tmp_path / "c"))
    # after the delete-file rewrite the clone proceeds and reads clean
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        rewrite_delete_files,
    )

    rewrite_delete_files(spark, t)
    c = t.shallow_clone(str(tmp_path / "c"))
    assert sorted(r["id"] for r in c.read(spark).collect()) == [1]


def test_version_as_of_timestamp_expired_history_error(spark, tmp_path):
    """TIMESTAMP AS OF older than live history names expiry in its
    error instead of a bare missing-version (review round 10)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(3):
        t.append(_mk(spark, [(i, "x", float(i))]))
    expire_snapshots(t, keep_last=1)
    with pytest.raises(SnapshotNotFound, match="expire_snapshots"):
        t.version_as_of_timestamp("2000-01-01T00:00:00")


def test_manifest_cache_identity_and_invalidation(spark, tmp_path):
    """Published manifests are immutable (write-then-link, never
    rewritten), so the process-wide parse cache keyed on (path, inode,
    mtime_ns, size) returns the SAME parsed object on repeated access —
    at 100 TB this is tens of MB of JSON NOT re-parsed per
    schema/keys/head access — while a reclaimed-and-recreated v0 (new
    inode) and a new commit are seen immediately."""
    import json as _json

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0)]))
    metrics.reset()
    m1 = t.manifest()
    m2 = t.manifest()
    assert m1 is m2  # cache hit returns the shared parsed object
    assert metrics.snapshot().get("manifest_cache.hit", 0) >= 1
    head = t.current_version()

    # a new commit is a new file: the head read sees it immediately
    t.append(_mk(spark, [(2, "b", 2.0)]))
    assert t.manifest()["version"] == head + 1
    # time travel to the old version still serves the cached object
    assert t.manifest(head) is m1

    # crashed-create reclaim rewrites v0 AT THE SAME PATH: the fresh
    # file's (inode, mtime_ns) key must miss the cache, never serve the
    # dead creator's manifest
    root2 = str(tmp_path / "u")
    u = LakeTable.create(root2, SCHEMA, keys=["id"])
    stale = u.manifest(0)
    os.remove(os.path.join(root2, lt._CURRENT))  # simulate crash pre-swap
    u2 = LakeTable.create(root2, SCHEMA, keys=["id"])
    fresh = u2.manifest(0)
    assert fresh is not stale
    assert fresh["created"] != stale["created"] or fresh == _json.loads(
        open(os.path.join(root2, lt._SNAPSHOT_DIR, "v000000000000.json")).read()
    )

    # read-only contract: every cached manifest matches a fresh re-parse
    # from disk after a typical workload (nothing mutated the shared
    # objects in place)
    t.delete_where(spark, "id = 1")
    for v in [s["version"] for s in t.snapshots()]:
        p = os.path.join(t.root, lt._SNAPSHOT_DIR, f"v{v:012d}.json")
        with open(p) as f:
            assert t.manifest(v) == _json.load(f)


def test_manifest_cache_content_probe_defeats_stat_identity_reuse(tmp_path):
    """The cache key carries content evidence (first+last 16 bytes),
    and _publish_v0 stamps a random publish_token as the manifest's
    LAST key — inside the probed tail. A reclaimed-then-recreated v0
    therefore cannot serve the dead creator's parse even when inode,
    mtime_ns, and size all repeat (the cross-process residual window;
    round-10 advice: structural, not probabilistic)."""
    import json as _json
    import os as _os

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    root = str(tmp_path / "t")
    t1 = LakeTable.create(root, SCHEMA, keys=["id"])
    p = os.path.join(root, lt._SNAPSHOT_DIR, "v000000000000.json")
    st = _os.stat(p)
    old = lt._load_manifest_cached(p)
    tok1 = old["publish_token"]
    assert tok1 and tok1[-8:].encode() in lt._content_probe(p, st.st_size), (
        "publish_token must land inside the probed tail bytes"
    )

    # crash pre-swap, then a SECOND process recreates: simulate the
    # pathological stat-identity reuse by copying the fresh v0 over the
    # old one's stat identity (same path/inode after reclaim is the
    # realistic kernel behavior; mtime_ns forced equal here)
    _os.remove(os.path.join(root, lt._CURRENT))
    # another process would have its own empty cache; simulate by NOT
    # purging ours (the in-process purge is what create() does locally)
    t2 = LakeTable.create(root, SCHEMA, keys=["id"])
    _os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    with open(p) as f:
        tok2 = _json.load(f)["publish_token"]
    assert tok2 != tok1  # distinct publishes always differ in content
    st2 = _os.stat(p)
    if st2.st_ino == st.st_ino and st2.st_size == st.st_size:
        # full pathological identity achieved: the probe alone must
        # force a fresh parse
        assert lt._load_manifest_cached(p)["publish_token"] == tok2, (
            "stale cache entry served despite changed content"
        )
    else:
        # inode/size did not repeat on this filesystem — the stat key
        # already differs; still assert the fresh parse is served
        assert lt._load_manifest_cached(p)["publish_token"] == tok2


def test_manifest_write_atomic_and_tmp_invisible(spark, tmp_path):
    """_write_manifest publishes via write-tmp + os.link (round-9
    advice, high): a manifest at its FINAL name is born complete, so
    snapshot expiry's torn-manifest reap can never race a live writer
    mid-write. A crashed writer leaves only a v{N}.json.tmp.{hex} file —
    invisible to every walker even when fully written (no double-counted
    version), kept by expiry while young, age-reaped when stale."""
    import json as _json

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0)]))
    snap_dir = os.path.join(t.root, lt._SNAPSHOT_DIR)
    # the link dance leaves no tmp residue on the happy path
    assert all(".tmp." not in n for n in os.listdir(snap_dir))
    # exclusive-create survives the link change: same version loses
    with pytest.raises(CommitConflict, match="already exists"):
        t._write_manifest(t.manifest())

    # simulate a writer crashed between tmp write and os.link, with the
    # tmp FULLY written — the worst case for walkers, since its content
    # parses as a complete manifest for a version that already exists
    head = t.current_version()
    tmp_path_f = os.path.join(snap_dir, f"v{head:012d}.json.tmp.deadbeef")
    with open(tmp_path_f, "w") as f:
        _json.dump(t.manifest(), f)
    assert [s["version"] for s in t.snapshots()] == [0, 1]  # no double-count
    assert t._next_version() == head + 1  # numbering ignores tmp
    t.append(_mk(spark, [(2, "b", 2.0)]))  # next commit unobstructed
    assert t.read(spark).count() == 2

    # expiry: young tmp survives (a live writer's link window), stale
    # tmp is reaped under the same staging retention horizon
    expire_snapshots(t, keep_last=10)
    assert os.path.exists(tmp_path_f)
    old = time.time() - 7200
    os.utime(tmp_path_f, (old, old))
    expire_snapshots(t, keep_last=10, staging_retention_s=3600)
    assert not os.path.exists(tmp_path_f)
    assert t.read(spark).count() == 2


def test_ref_creation_atomic_and_torn_ref_skipped(spark, tmp_path):
    """Ref creation is write-then-link (a crash can no longer leave a
    torn ref), born-once exclusivity still holds, and a pre-fix torn
    ref file is skipped by refs() instead of wedging expiry."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict, _REFS_DIR,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0)]))
    t.create_tag("stable")
    with pytest.raises(CommitConflict, match="already exists"):
        t.create_tag("stable")
    refs_dir = os.path.join(t.root, _REFS_DIR)
    # no leftover tmp files from the link dance
    assert all(".tmp." not in n for n in os.listdir(refs_dir))

    # a torn ref (crashed pre-fix creation): skipped, expiry still runs
    with open(os.path.join(refs_dir, "torn.json"), "w") as f:
        f.write('{"type": "ta')
    assert set(t.refs()) == {"stable"}
    t.append(_mk(spark, [(2, "b", 2.0)]))
    expire_snapshots(t, keep_last=1)
    assert t.read(spark, ref="stable").count() == 1  # tag pinned v1


def test_create_recovers_from_crash_before_pointer_swap(spark, tmp_path):
    """create() killed between the v0 manifest write and the pointer
    swap used to brick the root: every retried create raised
    CommitConflict("v0 already exists") while the table stayed
    unreadable (no pointer). An uncommitted v0 (complete or torn) is
    reclaimed by the next create; an EXISTING table (pointer present)
    still refuses re-creation."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        CommitConflict, _CURRENT, _SNAPSHOT_DIR,
    )

    root = str(tmp_path / "t")
    # simulate the crash: v0 exists, pointer does not
    os.makedirs(os.path.join(root, _SNAPSHOT_DIR))
    with open(os.path.join(root, _SNAPSHOT_DIR, "v000000000000.json"), "w") as f:
        f.write('{"version": 0, "par')  # torn is the worst case
    t = LakeTable.create(root, SCHEMA, keys=["id"])
    t.append(_mk(spark, [(1, "a", 1.0)]))
    assert t.read(spark).count() == 1

    # a COMMITTED table still refuses re-create (pointer present)
    with pytest.raises(CommitConflict):
        LakeTable.create(root, SCHEMA, keys=["id"])
    assert os.path.exists(os.path.join(root, _CURRENT))


# --- in-process small writes ----------------------------------------------
# LakeTable._write_files writes an output of at most _INPROCESS_MAX_ROWS
# rows from one Arrow collect with pyarrow; the pins below hold its job
# counts and file layout, and the parity test holds it to the Spark
# writer's table.

_EV_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ev", T.StringType()),
    T.StructField("amt", T.IntegerType()),
])


def _ev_source(spark, tmp_path, n, n_values):
    """n keyed rows cycling ``ev`` over n_values values, as a parquet
    scan read under an explicit schema (plan size known, no inference
    job)."""
    path = str(tmp_path / f"src{n}")
    spark.range(n).select(
        "id",
        F.concat(F.lit("e"), (F.col("id") % n_values).cast("string")).alias("ev"),
        (F.col("id") % 97).cast("int").alias("amt"),
    ).write.parquet(path)
    return spark.read.schema(_EV_SCHEMA).parquet(path)


def _counted_append(spark, t, df, shuffle_partitions=None):
    """(jobs launched, write/bloom path counters) of one append."""
    from conftest import count_jobs
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    metrics.reset()
    try:
        _, jobs = count_jobs(spark, lambda: t.append(df))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    paths = {
        k: v for k, v in metrics.snapshot().items()
        if k.startswith(("write.", "bloom."))
    }
    return jobs, paths


def _ev_spans(t):
    spans = sorted((f["min"]["ev"], f["max"]["ev"]) for f in t.manifest()["files"])
    # range layout: no ev value lands in two files
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
    return spans


@pytest.mark.parametrize("n_parts", [4, 8])
def test_small_clustered_append_is_one_job_in_process(spark, tmp_path, n_parts):
    """A 20,000-row append clustered on a 6-value column: one collect
    job instead of range sampling + shuffle + write; at most
    shuffle-partitions files, one per value when the values fit."""
    src = _ev_source(spark, tmp_path, 20_000, 6)
    t = LakeTable.create(
        str(tmp_path / "t"), _EV_SCHEMA, keys=["id"], cluster_by=["ev"]
    )
    jobs, paths = _counted_append(spark, t, src, n_parts)
    assert jobs == 1
    assert paths == {"write.inprocess": 1, "bloom.inprocess_small": 1}
    spans = _ev_spans(t)
    assert 1 < len(spans) <= n_parts
    if n_parts >= 6:
        assert spans == [(f"e{i}", f"e{i}") for i in range(6)]
    assert all("id" in f.get("bloom", {}) for f in t.manifest()["files"])
    assert sorted(t.read(spark).collect()) == sorted(src.collect())


def test_append_over_the_gate_keeps_the_spark_path(spark, tmp_path):
    """One row over _INPROCESS_MAX_ROWS: the compressed parquet scan's
    size estimate is under the gate, so the bounded collect runs (1
    job), returns the gate + 1 rows, and the write falls to the
    unchanged Spark path: range sampling, shuffle and write, in the
    same range layout. Every file still gets the key bloom of its own
    keys, built as the stats pass reads it."""
    import pyarrow.parquet as pq

    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt

    n = lt._INPROCESS_MAX_ROWS + 1
    src = _ev_source(spark, tmp_path, n, 6)
    t = LakeTable.create(
        str(tmp_path / "t"), _EV_SCHEMA, keys=["id"], cluster_by=["ev"]
    )
    jobs, paths = _counted_append(spark, t, src)
    assert paths == {"write.spark": 1, "bloom.inprocess_small": 1}
    # the Spark path's 3 jobs plus the one bounded collect
    assert jobs == 4
    assert 1 < len(_ev_spans(t)) <= 4
    assert t.row_count() == n
    files = t.manifest()["files"]
    for f in files:
        ids = pq.read_table(os.path.join(t.root, f["path"]), columns=["id"])
        assert f["bloom"] == {"id": lt._bloom_build(set(ids.column(0).to_pylist()))}
    # every file's id range spans the table: only the blooms prune, down
    # to the one file whose ev value id 17 carries
    assert len(t.file_paths(predicates=[Predicate("id", "=", 17)])) == 1
    assert t.file_paths(predicates=[Predicate("id", "=", n + 5)]) == []
    got = t.read(spark, predicates=[Predicate("id", "=", 17)]).filter(F.col("id") == 17)
    assert got.count() == 1


def test_list_frame_append_is_one_job_in_process(spark, tmp_path):
    """A frame from spark.createDataFrame(<python list>) has no plan
    size estimate (spark.sql.defaultSizeInBytes). It takes the bounded
    collect and is gated on what that returns: 5 rows on local[4] land
    as one in-process file, not one Spark-written file per input
    partition."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    src = _mk(spark, [(i, "a", float(i)) for i in range(5)])
    jobs, paths = _counted_append(spark, t, src)
    assert paths == {"write.inprocess": 1, "bloom.inprocess_small": 1}
    assert jobs == 1
    files = t.manifest()["files"]
    assert len(files) == 1 and files[0]["rows"] == 5
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(5))


def test_empty_append_commits_nothing_and_leaves_no_dir(spark, tmp_path):
    src = _ev_source(spark, tmp_path, 10, 2).filter("id < 0")
    t = LakeTable.create(
        str(tmp_path / "t"), _EV_SCHEMA, keys=["id"], cluster_by=["ev"]
    )
    v = t.current_version()
    jobs, paths = _counted_append(spark, t, src)
    assert (jobs, paths) == (1, {"write.inprocess": 1})
    assert t.current_version() == v
    data = os.path.join(t.root, "data")
    assert not os.path.isdir(data) or os.listdir(data) == []


def _micro_batch_job_count(spark, tmp_path, delete_mode):
    """Run two 2,000-envelope micro-batches over a 20,000-row clustered
    table created with ``write.delete.mode=delete_mode``; return the
    second batch's Spark job count, its planner metrics and the table's
    snapshots, after checking the table and dead letters."""
    import datetime as dt

    from conftest import count_jobs
    from perfbench import cdcgen
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
        DEAD_LETTER, RETAIL_TRANS, RETAIL_TRANS_KEYS, RETAIL_TRANS_PARTITION,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming import (
        CdcStreamPipeline,
    )

    stream = cdcgen.CdcStream(7, 20_000, 2_000)
    seed = [
        r[:6] + (dt.datetime.strptime(r[6], "%Y-%m-%dT%H:%M:%SZ")
                 .replace(tzinfo=dt.timezone.utc),)
        for r in stream.seed_rows
    ]
    spark.createDataFrame(seed, RETAIL_TRANS).write.parquet(str(tmp_path / "seed"))
    t = LakeTable.create(
        str(tmp_path / "t"), RETAIL_TRANS, keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
        properties={"write.delete.mode": delete_mode},
    )
    t.append(spark.read.schema(RETAIL_TRANS).parquet(str(tmp_path / "seed")))
    dead = LakeTable.create(str(tmp_path / "dead"), DEAD_LETTER)
    pipe = CdcStreamPipeline(t, "db", "tbl", dead_letter_table=dead)
    for b in range(2):  # batch 0 warms the session; batch 1 is counted
        lines, _ = stream.next_batch()
        path = tmp_path / f"batch{b}.jsonl"
        path.write_text("\n".join(lines) + "\n")
        metrics.reset()
        _, jobs = count_jobs(
            spark, lambda: pipe.process_batch(spark.read.text(str(path)), b)
        )
    counted = metrics.snapshot()
    assert dead.row_count() == stream.malformed
    got = {r["trans_id"]: r["event"] for r in t.read(spark).collect()}
    assert got == {k: row[2] for k, row in stream.state.items()}
    return jobs, counted, t.snapshots()


def test_cow_micro_batch_job_count(spark, tmp_path):
    """One 2,000-envelope copy-on-write micro-batch over a 20,000-row
    clustered table: the dead-letter collect and the collapsed batch's
    one Arrow collect (2 jobs: the collapse window's shuffle and the
    result); the MERGE's stats, probe and rewrite run on the driver and
    both writes are in-process. 3 jobs in all."""
    jobs, counted, _ = _micro_batch_job_count(spark, tmp_path, "copy-on-write")
    assert jobs == 3
    assert counted["merge.inprocess"] == 1
    assert counted["write.inprocess"] == 2
    assert "write.spark" not in counted


def test_mor_micro_batch_job_count(spark, tmp_path):
    """The same micro-batch on a merge-on-read table runs the same path:
    3 jobs, 2 in-process writes, and its upserts and deletes land in one
    merge commit, never a separate delete commit."""
    jobs, counted, snaps = _micro_batch_job_count(spark, tmp_path, "merge-on-read")
    assert jobs == 3
    assert counted["write.inprocess"] == 2
    assert "write.spark" not in counted
    assert "delete" not in {s["operation"] for s in snaps}


def _six_appends(spark, tmp_path, name):
    """A table clustered on ``id`` built by six 500-row appends."""
    t = LakeTable.create(str(tmp_path / name), SCHEMA, keys=["id"], cluster_by=["id"])
    for k in range(6):
        t.append(spark.range(k * 500, (k + 1) * 500).select(
            F.col("id").cast("int").alias("id"), F.lit("a").alias("cat"),
            (F.col("id") % 97).cast("double").alias("val"),
        ))
    return t


def test_compact_job_count(spark, tmp_path):
    """A binpack compaction of a small clustered table is one copy-on-
    write rewrite written in-process: 1 job (the Arrow collect), one
    output file."""
    from conftest import count_jobs
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        compact,
    )

    t = _six_appends(spark, tmp_path, "t")
    metrics.reset()
    _, jobs = count_jobs(spark, lambda: compact(spark, t))
    assert jobs == 1
    assert metrics.snapshot().get("write.inprocess") == 1
    assert len(t.manifest()["files"]) == 1
    assert t.row_count() == t.read(spark).count() == 3000


def test_zorder_job_count(spark, tmp_path):
    """A z-order of the same table runs its min/max aggregate and then
    the in-process rewrite sorted on the z-value: 3 jobs."""
    from conftest import count_jobs
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        zorder_by,
    )

    t = _six_appends(spark, tmp_path, "t")
    metrics.reset()
    _, jobs = count_jobs(spark, lambda: zorder_by(spark, t, ["id", "val"]))
    assert jobs == 3
    assert metrics.snapshot().get("write.inprocess") == 1
    m = t.manifest()
    assert len(m["files"]) == 1 and "__z" not in m["schema"]
    assert t.row_count() == t.read(spark).count() == 3000


def _mor_20k(spark, tmp_path, name):
    """A one-file 20,000-row merge-on-read table."""
    t = LakeTable.create(
        str(tmp_path / name), SCHEMA, keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(20_000).select(
        F.col("id").cast("int").alias("id"), F.lit("a").alias("cat"),
        F.col("id").cast("double").alias("val"),
    ))
    assert len(t.manifest()["files"]) == 1
    return t


def test_mor_delete_where_job_count(spark, tmp_path):
    """A merge-on-read DELETE collects its (file, pos) hits in one job
    and writes the delete file in-process: 1 job, 2 with a delete file
    already pending (its broadcast read)."""
    from conftest import count_jobs

    t = _mor_20k(spark, tmp_path, "t")
    _, jobs = count_jobs(spark, lambda: t.delete_where(spark, "id < 100"))
    assert jobs == 1
    _, jobs = count_jobs(
        spark, lambda: t.delete_where(spark, "id >= 100 AND id < 200")
    )
    assert jobs == 2
    assert [d["rows"] for d in t.manifest()["delete_files"]] == [100, 100]
    assert t.row_count() == t.read(spark).count() == 19_800


def test_delete_by_keys_mor_job_count(spark, tmp_path):
    """A 50-key merge-on-read delete: the key collect, which prunes the
    candidate files and then serves as the broadcast key probe, and the
    one (file, pos) collect, 4 jobs."""
    from conftest import count_jobs

    t = _mor_20k(spark, tmp_path, "t")
    keys = spark.createDataFrame([(i,) for i in range(1000, 1050)], "id int")
    _, jobs = count_jobs(spark, lambda: t.delete_by_keys_mor(spark, keys))
    assert jobs == 4
    assert [d["rows"] for d in t.manifest()["delete_files"]] == [50]
    assert t.row_count() == t.read(spark).count() == 19_950


_TYPES_SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType(), False),
    T.StructField("b", T.BooleanType()),
    T.StructField("i8", T.ByteType()),
    T.StructField("i16", T.ShortType()),
    T.StructField("l", T.LongType()),
    T.StructField("f", T.FloatType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("dec", T.DecimalType(38, 6)),
    T.StructField("s", T.StringType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
])

# every whitelisted type, each NULL on some rows; the range id stays a
# non-nullable column, as the table declares it
_TYPES_SQL = """
SELECT CAST(id AS INT) AS id,
  IF(id % 5 = 0, NULL, id % 3 = 0) AS b,
  IF(id % 6 = 0, NULL, CAST(id % 100 - 50 AS TINYINT)) AS i8,
  IF(id % 7 = 0, NULL, CAST(id * 131 - 9000 AS SMALLINT)) AS i16,
  IF(id % 8 = 0, NULL, id * 1000003 - 77) AS l,
  IF(id % 9 = 0, NULL, CAST(id / 7 AS FLOAT)) AS f,
  IF(id % 10 = 0, NULL, id / 3 - 20) AS d,
  IF(id % 11 = 0, NULL, CAST(id * 1234.567891 - 99999 AS DECIMAL(38, 6))) AS dec,
  ELT(CAST(id % 4 AS INT) + 1, NULL, 'äpfel', '日本語', 'zéro') AS s,
  IF(id % 12 = 0, NULL, CAST(CONCAT('b', id) AS BINARY)) AS bin,
  IF(id % 13 = 0, NULL, DATE_ADD(DATE'2024-02-26', CAST(id % 9 AS INT))) AS dt,
  IF(id % 14 = 0, NULL, TIMESTAMP_SECONDS(1700000000 + id * 3601)) AS ts,
  IF(id % 15 = 0, NULL,
     CAST(TIMESTAMP_SECONDS(1600000000 - id * 7919) AS TIMESTAMP_NTZ)) AS ntz
FROM range(0, 240, 1, 1)
"""


def _build_types(spark, root, cluster_by):
    t = LakeTable.create(root, _TYPES_SCHEMA, keys=["id"], cluster_by=cluster_by)
    t.append(spark.sql(_TYPES_SQL))
    return t


def _build_lineage(spark, root, cluster_by):
    """Row-lineage table whose MERGE rewrite carries ``_row_id``."""
    t = LakeTable.create(
        root,
        T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]),
        keys=["k"], cluster_by=cluster_by, properties={"row-lineage": "true"},
    )
    t.append(spark.sql("SELECT id AS k, CONCAT('v', id % 3) AS v FROM range(0, 200, 1, 1)"))
    merge_into(t, spark.sql(
        "SELECT id * 3 AS k, CONCAT('ü', id) AS v FROM range(0, 120, 1, 1)"
    ))
    return t


@pytest.mark.parametrize(
    "build, cluster_by",
    [
        (_build_types, ["s", "ntz"]),  # non-ASCII strings, NULLs first
        (_build_types, ["ts"]),  # LTZ timestamp (UTC session)
        (_build_types, ["ntz", "dec"]),
        (_build_lineage, ["v"]),
    ],
    ids=["string", "timestamp", "timestamp_ntz", "row_lineage"],
)
def test_inprocess_and_spark_writes_build_the_same_table(
    spark, tmp_path, monkeypatch, build, cluster_by
):
    """The same rows written in-process and by Spark (gate forced to 0):
    equal reads,
    schemas, per-file min/max and bloom bitsets; every in-process file
    is sorted as sortWithinPartitions(*cluster_by) leaves it."""
    import transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table as lt
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    tables = {}
    for label, gate, other in (
        ("spark", 0, "inprocess"), ("inprocess", lt._INPROCESS_MAX_ROWS, "spark")
    ):
        monkeypatch.setattr(lt, "_INPROCESS_MAX_ROWS", gate)
        metrics.reset()
        tables[label] = build(spark, str(tmp_path / label), cluster_by)
        assert f"write.{label}" in metrics.snapshot()
        assert f"write.{other}" not in metrics.snapshot()
    sp, ip = tables["spark"], tables["inprocess"]

    lineage = sp.row_lineage
    rows = {k: sorted(t.read(spark, with_row_ids=lineage).collect()) for k, t in tables.items()}
    assert rows["spark"] == rows["inprocess"]
    assert sp.read(spark).schema == ip.read(spark).schema

    def files(t):
        return [os.path.join(t.root, f["path"]) for f in t.manifest()["files"]]

    assert (
        spark.read.parquet(*files(sp)).schema == spark.read.parquet(*files(ip)).schema
    )

    def layout(t):
        return sorted(
            (f["rows"], sorted(f["min"].items()), sorted(f["max"].items()),
             sorted(f.get("bloom", {}).items()))
            for f in t.manifest()["files"]
        )

    assert layout(sp) == layout(ip)
    assert all("bloom" in f for f in ip.manifest()["files"])
    read_schema = T.StructType(ip.schema.fields + ([LakeTable._ROW_ID_FIELD] if lineage else []))
    for path in files(ip):
        if lineage:
            import pyarrow.parquet as pq

            assert "_row_id" in pq.ParquetFile(path).schema_arrow.names
        df = spark.read.schema(read_schema).parquet(path)
        assert df.rdd.getNumPartitions() == 1
        assert df.collect() == df.sortWithinPartitions(*cluster_by).collect()


def test_nested_column_takes_the_spark_path(spark, tmp_path):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    t = LakeTable.create(
        str(tmp_path / "t"),
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("xs", T.ArrayType(T.IntegerType())),
        ]),
    )
    metrics.reset()
    t.append(spark.sql("SELECT id, ARRAY(CAST(id AS INT), NULL) AS xs FROM range(10)"))
    assert metrics.snapshot().get("write.spark") == 1
    assert "write.inprocess" not in metrics.snapshot()
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(10))
