"""Equality-delete files (Iceberg v2 parity — the delete representation
Firehose's Iceberg destination writes for CDC deletes): key-value delete
files applied merge-on-read with sequence-number semantics."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    rewrite_delete_files,
)

from conftest import count_jobs

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
])


_MOR = {"write.delete.mode": "merge-on-read"}


def _mk(spark, tmp_path, rows, properties=None):
    t = LakeTable.create(
        os.path.join(str(tmp_path), "t"), SCHEMA, keys=["k"], properties=properties
    )
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def _live(spark, t, version=None):
    return {r["k"]: r["v"] for r in t.read(spark, version=version).collect()}


def test_delete_eq_is_metadata_only_and_applies_on_read(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    files_before = {f["path"] for f in t.manifest()["files"]}
    t.delete_eq([{"k": 2}])
    files_after = {f["path"] for f in t.manifest()["files"]}
    assert files_before == files_after  # zero data-file I/O
    assert _live(spark, t) == {1: "a", 3: "c"}
    m = t.manifest()
    assert m["summary"]["equality_delete_files"] == 1


def test_read_plan_over_equality_deletes_launches_no_jobs(spark, tmp_path):
    """Building the read plan takes each delete file's schema from its
    footer in-process: no per-delete-file inference job."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    t.delete_eq([{"k": 2}])
    t.delete_eq([{"k": 3}])
    df, jobs = count_jobs(spark, lambda: t.read(spark))
    assert jobs == 0
    assert {r["k"]: r["v"] for r in df.collect()} == {1: "a"}


def test_reinserted_key_survives_older_equality_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.delete_eq([{"k": 2}])
    t.append(spark.createDataFrame([(2, "b2")], SCHEMA))  # newer seq
    assert _live(spark, t) == {1: "a", 2: "b2"}


def test_time_travel_before_equality_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    v1 = t.current_version()
    t.delete_eq([{"k": 1}])
    assert _live(spark, t, version=v1) == {1: "a", 2: "b"}
    assert _live(spark, t) == {2: "b"}


def test_rewrite_folds_equality_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    t.delete_eq([{"k": 1}, {"k": 3}])
    rewrite_delete_files(spark, t)
    m = t.manifest()
    assert not m.get("delete_files")
    assert _live(spark, t) == {2: "b"}
    # post-rewrite the manifest count is exact again
    assert t.row_count() == 1


def test_changelog_emits_equality_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    v1 = t.current_version()
    t.delete_eq([{"k": 2}])
    log = t.changelog(spark, v1, t.current_version())
    rows = {(r["k"], r["_change_type"]) for r in log.collect()}
    assert rows == {(2, "DELETE")}


def test_mixed_position_and_equality_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c"), (4, "d")], _MOR)
    t.delete_where(spark, "k = 1")  # position delete
    t.delete_eq([{"k": 3}])
    assert _live(spark, t) == {2: "b", 4: "d"}


def test_delete_by_keys_mor_skips_rows_an_equality_delete_removed(spark, tmp_path):
    """A key a pending equality delete already removed has no live row:
    a merge-on-read key delete of it commits nothing, as a merge-on-read
    ``delete_where`` of it does, instead of a position delete for the
    dead row."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")], _MOR)
    t.delete_eq([{"k": 2}])
    v = t.current_version()
    assert t.delete_by_keys_mor(spark, spark.createDataFrame([(2,)], "k long")) == v
    assert t.delete_where(spark, "k = 2") == v
    assert [d.get("kind") for d in t.manifest()["delete_files"]] == ["equality"]
    # a live key next to the dead one deletes only the live row
    t.delete_by_keys_mor(spark, spark.createDataFrame([(2,), (3,)], "k long"))
    assert [d["rows"] for d in t.manifest()["delete_files"]] == [1, 1]
    assert _live(spark, t) == {1: "a"}


def test_random_interleavings_match_model(spark, tmp_path):
    """Random append / delete_eq / MOR-position-delete interleavings must
    match a list-of-(key, val, seq) reference model: an equality delete
    removes exactly the rows of STRICTLY older commits with a matching
    key; a position delete removes currently-visible rows matching the
    predicate regardless of seq."""
    import random

    rng = random.Random(47)
    t = LakeTable.create(
        os.path.join(str(tmp_path), "prop"), SCHEMA, keys=["k"], properties=_MOR
    )
    model: list[tuple[int, str, int]] = []  # (k, v, seq)
    seq = t.current_version()
    for step in range(14):
        op = rng.choice(["append", "append", "eq", "pos"])
        if op == "append":
            rows = [
                (rng.randrange(8), f"s{step}_{i}") for i in range(rng.randrange(1, 4))
            ]
            t.append(spark.createDataFrame(rows, SCHEMA))
            seq = t.current_version()
            model.extend((k, v, seq) for k, v in rows)
        elif op == "eq":
            ks = sorted({rng.randrange(8) for _ in range(rng.randrange(1, 3))})
            v_before = t.current_version()
            t.delete_eq([{"k": k} for k in ks])
            dseq = t.current_version()
            if dseq != v_before:  # no-op when empty
                model = [r for r in model if not (r[0] in ks and r[2] < dseq)]
        else:
            bound = rng.randrange(8)
            t.delete_where(spark, f"k < {bound}")
            model = [r for r in model if not (r[0] < bound)]
        got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
        want = sorted((k, v) for k, v, _ in model)
        assert got == want, f"divergence at step {step} ({op})"


def test_mixed_eq_cols_each_file_applies_under_own_columns(spark, tmp_path):
    """Round-4 advice: Iceberg assigns equality field ids PER delete
    file. Delete files keyed on different column sets must each apply
    under their own columns — reading one file's keys under another's
    column set would silently delete wrong rows."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "a"), (4, "c")])
    t.delete_eq([{"k": 2}])                      # by key column
    t.delete_eq([{"v": "a"}], eq_cols=["v"])     # by value column
    assert _live(spark, t) == {4: "c"}

    # a row re-inserted AFTER the value-delete survives it (sequence
    # semantics hold per group)
    t.append(spark.createDataFrame([(5, "a")], SCHEMA))
    assert _live(spark, t) == {4: "c", 5: "a"}
