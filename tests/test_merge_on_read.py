"""Merge-on-read: position-delete files, read-time anti-join, delete
rewrite at the reference's threshold (optimize_rewrite_delete_file_
threshold=10, README.md:307), and no-resurrection under copy-on-write
rewrites of files carrying pending deletes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
    apply_batch,
    typed_rows,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_transform import (
    transform,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    lake_table,
    merge_into,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    compact,
    rewrite_delete_files,
    should_rewrite_deletes,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
    read_cdc_batch,
    write_golden_corpus,
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
def mor_table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        cluster_by=["cat"],
        properties={"write.delete.mode": "merge-on-read"},
    )


def _data_paths(table):
    return sorted(f["path"] for f in table.manifest()["files"])


def test_mor_delete_no_data_rewrite(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a" if i % 2 else "b", float(i)) for i in range(10)]))
    before = _data_paths(t)
    v_before = t.current_version()
    t.delete_where(spark, "id >= 7")
    # data files untouched — only a position-delete file was written
    assert _data_paths(t) == before
    dels = t.manifest()["delete_files"]
    assert len(dels) == 1 and dels[0]["rows"] == 3
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(7))
    assert t.row_count() == 7  # manifest-only, no scan
    # time travel to before the delete still sees all rows
    assert t.read(spark, version=v_before).count() == 10


def test_mor_delete_idempotent_and_incremental(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(10)]))
    t.delete_where(spark, "id >= 8")
    v = t.current_version()
    # same condition again: every matching row is already deleted -> no-op
    assert t.delete_where(spark, "id >= 8") == v
    # different rows accumulate a second delete file
    t.delete_where(spark, "id < 2")
    assert len(t.manifest()["delete_files"]) == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3, 4, 5, 6, 7]
    assert t.row_count() == 6


def test_cow_update_does_not_resurrect(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(6)]))
    t.delete_where(spark, "id IN (1, 3)")
    # COW update rewrites the file(s) holding id=0..5 — the pending
    # deletes must be applied, not resurrected, and the delete entries
    # pruned (they reference only removed files afterwards)
    t.update_where(spark, "id = 2", {"val": "99.0"})
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert set(rows) == {0, 2, 4, 5}
    assert rows[2] == 99.0
    assert t.manifest()["delete_files"] == []
    assert t.row_count() == 4


def test_merge_does_not_resurrect(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(6)]))
    t.delete_where(spark, "id = 5")
    merge_into(t, _mk(spark, [(0, "a", 100.0)]), on=["id"])
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    assert rows[0] == 100.0


def test_rewrite_delete_files_restores_plain_scan(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        properties={
            "write.delete.mode": "merge-on-read",
            "optimize_rewrite_delete_file_threshold": "3",
        },
    )
    # several appends -> several files; deletes spread across them
    for part in range(4):
        t.append(_mk(spark, [(part * 10 + i, "a", 1.0) for i in range(10)]))
    t.delete_where(spark, "id = 1")
    t.delete_where(spark, "id = 11")
    assert not should_rewrite_deletes(t)
    t.delete_where(spark, "id = 21")
    assert should_rewrite_deletes(t)  # property threshold 3 reached

    files_before = set(_data_paths(t))
    affected = {r for d in t.manifest()["delete_files"] for r in d["refs"]}
    rewrite_delete_files(spark, t)
    m = t.manifest()
    assert m["delete_files"] == []
    assert m["summary"]["operation"] == "rewrite-deletes"
    # only the files referenced by deletes were rewritten
    assert files_before - set(_data_paths(t)) == affected
    assert (files_before & set(_data_paths(t))) == files_before - affected
    assert sorted(r["id"] for r in t.read(spark).collect()) == sorted(
        set(range(40)) - {1, 11, 21}
    )
    assert t.row_count() == 37


def test_rewrite_delete_files_keeps_small_clustered_file_count(spark, tmp_path):
    """Folding deletes into three small clustered files is sized by the
    files it replaces: it must not split them into one range file per
    shuffle partition."""
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, keys=["id"], cluster_by=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    for part in range(3):  # each insert-only MERGE writes one file
        merge_into(t, spark.range(part * 6000, (part + 1) * 6000).select(
            F.col("id").cast("int").alias("id"), F.lit("a").alias("cat"),
            F.col("id").cast("double").alias("val"),
        ))
    n_before = len(t.manifest()["files"])
    assert n_before == 3
    t.delete_where(spark, "id % 1000 = 0")
    rewrite_delete_files(spark, t)
    m = t.manifest()
    assert m["delete_files"] == []
    assert len(m["files"]) <= n_before
    assert t.row_count() == t.read(spark).count() == 18_000 - 18


def test_rewrite_delete_files_sizes_by_target_without_partition_cap(
    spark, tmp_path, monkeypatch
):
    """With the target file size at 1/8 of the files it replaces, the
    fold writes 8 range-disjoint files on the cluster column — the file
    count comes from the target size alone, not capped by
    ``spark.sql.shuffle.partitions`` (4 here)."""
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, keys=["id"], cluster_by=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    for part in range(3):  # each insert-only MERGE writes one file
        merge_into(t, spark.range(part * 6000, (part + 1) * 6000).select(
            F.col("id").cast("int").alias("id"), F.lit("a").alias("cat"),
            F.col("id").cast("double").alias("val"),
        ))
    t.delete_where(spark, "id % 1000 = 0")
    total = sum(f["bytes"] for f in t.manifest()["files"])
    monkeypatch.setattr(lake_table, "_TARGET_FILE_BYTES", -(-total // 8))
    rewrite_delete_files(spark, t)
    m = t.manifest()
    assert m["delete_files"] == []
    assert len(m["files"]) == 8
    spans = sorted((f["min"]["id"], f["max"]["id"]) for f in m["files"])
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
    assert t.row_count() == t.read(spark).count() == 18_000 - 18


def test_compact_folds_deletes(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", 1.0) for i in range(10)]))
    t.delete_where(spark, "id >= 5")
    compact(spark, t, binpack=False)  # full rewrite folds pending deletes
    m = t.manifest()
    assert m["delete_files"] == []
    assert t.read(spark).count() == 5
    assert t.row_count() == 5


def test_compact_binpack_rewrites_only_small_files(spark, mor_table):
    """Binpack (the default, and the only shape that scales): small
    write-frontier files merge; files at/above the size floor carry over
    by reference; pending deletes on victims fold in, deletes on
    untouched files stay pending."""
    t = mor_table
    t.append(_mk(spark, [(j, "a", 1.0) for j in range(100)]))  # the "big" file
    for i in range(1, 4):  # three smaller single-commit files
        t.append(_mk(spark, [(100 * i + j, "a", 1.0) for j in range(10)]))
    paths_before = set(f["path"] for f in t.manifest()["files"])
    assert len(paths_before) >= 4
    t.delete_by_keys_mor(spark, spark.createDataFrame([(101,)], "id int"))

    # pretend the big file is already target-sized: floor just below it
    big = sorted(t.manifest()["files"], key=lambda f: -f["bytes"])[0]
    compact(spark, t, small_bytes=big["bytes"])
    m = t.manifest()
    after = set(f["path"] for f in m["files"])
    assert big["path"] in after  # carried over by reference
    assert len(after) < len(paths_before)  # small files merged
    assert t.read(spark).count() == 129
    assert t.row_count() == 129
    # a lone small file (or none) is a no-op, not a rewrite
    v = t.current_version()
    assert compact(spark, t, small_bytes=1) == v


def test_delete_heavy_cdc_bounded_write_amplification(spark, tmp_path):
    """Delete-heavy CDC: merge-on-read must write O(deleted positions),
    not rewrite the data files (COW would rewrite every touched file)."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(1000)]))
    data_bytes = sum(f["bytes"] for f in t.manifest()["files"])
    before = _data_paths(t)

    # a pure-delete CDC batch for 100 keys
    dels = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        F.lit("delete").alias("operation"),
    )
    t.delete_by_keys_mor(spark, dels.select("id"), ["id"])
    m = t.manifest()
    assert _data_paths(t) == before, "MOR delete rewrote data files"
    del_bytes = sum(d["bytes"] for d in m["delete_files"])
    assert del_bytes < data_bytes / 2, (
        f"delete file {del_bytes}B not small vs data {data_bytes}B"
    )
    assert t.read(spark).count() == 900
    assert t.row_count() == 900


def test_cdc_golden_corpus_same_result_mor(spark, tmp_path):
    """The golden CDC replay must produce the identical 12-row outcome
    whether deletes run copy-on-write or merge-on-read."""
    p1, p2 = write_golden_corpus(str(tmp_path / "gen"))
    results = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = LakeTable.create(
            str(tmp_path / f"retail_{mode}"),
            RETAIL_TRANS,
            keys=RETAIL_TRANS_KEYS,
            properties={"write.delete.mode": mode},
        )
        for p in (p1, p2):
            good, _dead = transform(read_cdc_batch(spark, p), "db", "tbl")
            apply_batch(t, typed_rows(good))
        results[mode] = sorted(
            tuple(r) for r in t.read(spark).collect()
        )
    assert results["copy-on-write"] == results["merge-on-read"]
    assert len(results["merge-on-read"]) == 12


def test_mor_table_survives_relocation(spark, mor_table, tmp_path):
    """Position-delete files store ROOT-RELATIVE data-file paths, so a
    moved/copied table root still matches its pending deletes — deleted
    rows must not resurrect and row_count must agree with the scan
    (round-2 advice: absolute paths broke relocation)."""
    import shutil

    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(10)]))
    t.delete_where(spark, "id >= 6")
    assert t.read(spark).count() == 6 and t.row_count() == 6

    moved = str(tmp_path / "relocated")
    shutil.move(t.root, moved)
    t2 = LakeTable.load(moved)
    assert sorted(r["id"] for r in t2.read(spark).collect()) == list(range(6))
    assert t2.row_count() == 6
    # and further MOR DML on the moved table still composes
    t2.delete_where(spark, "id = 0")
    assert sorted(r["id"] for r in t2.read(spark).collect()) == [1, 2, 3, 4, 5]


def test_mor_with_reserved_like_column_names(spark, tmp_path):
    """A table whose OWN schema has columns named ``file`` and ``pos``
    must read and delete cleanly under merge-on-read — the engine's
    internal delete-join columns are namespaced (round-2 advice:
    unqualified join names hit ambiguous-reference errors)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("file", T.StringType(), True),
            T.StructField("pos", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "clash"),
        schema,
        keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        spark.createDataFrame(
            [(i, f"f{i}", i * 10) for i in range(8)], schema=schema
        )
    )
    t.delete_where(spark, "id >= 6")
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(6))
    # keyed MOR delete (the CDC path) with the clashing schema
    keys_df = spark.createDataFrame([(0,), (1,)], "id int")
    t.delete_by_keys_mor(spark, keys_df)
    out = sorted((r["id"], r["file"], r["pos"]) for r in t.read(spark).collect())
    assert out == [(2, "f2", 20), (3, "f3", 30), (4, "f4", 40), (5, "f5", 50)]
    assert t.row_count() == 4

