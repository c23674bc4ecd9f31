"""Compaction + snapshot expiry (reference: delete-file compaction
threshold, README.md:307; SURVEY.md §4 O7)."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import LakeTable, lake_table
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    compact,
    expire_snapshots,
    should_compact,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("cat", T.StringType()),
    ]
)


def test_compact_small_files_and_expire(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"], cluster_by=["cat"])
    for i in range(12):
        t.append(spark.createDataFrame([(i, "ab"[i % 2])], SCHEMA))
    assert should_compact(t, small_file_threshold=10)
    n_files_before = len(t.file_paths())
    rows_before = sorted(map(tuple, t.read(spark).collect()))

    v = compact(spark, t)
    assert len(t.file_paths()) < n_files_before
    assert sorted(map(tuple, t.read(spark).collect())) == rows_before
    assert not should_compact(t, small_file_threshold=10)
    # time travel still works pre-compaction
    assert t.read(spark, version=v - 1).count() == 12

    stats = expire_snapshots(t, keep_last=1)
    assert stats["removed_snapshots"] > 0
    assert stats["removed_files"] > 0
    # current snapshot unharmed; all its files exist
    assert sorted(map(tuple, t.read(spark).collect())) == rows_before
    for p in t.file_paths():
        assert os.path.exists(p)


def test_expire_rerun_collects_crash_orphans(spark, tmp_path):
    """A crash after manifest removal but before file deletion leaves
    data files referenced by NO manifest. The targeted drop pass cannot
    see them on a re-run; the orphan sweep must collect them so expiry
    converges (round-2 advice: they leaked permanently before)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(4):
        t.append(spark.createDataFrame([(i, "x")], SCHEMA))
    # compaction rewrites the file set: pre-compact data files are
    # referenced only by pre-compact manifests
    compact(spark, t)

    # simulate the crashed first run: every pre-compact manifest was
    # removed, their files were not
    snap_dir = os.path.join(t.root, "_snapshots")
    old_manifests = sorted(os.listdir(snap_dir))[:-1]
    orphaned: set[str] = set()
    import json

    for n in old_manifests:
        with open(os.path.join(snap_dir, n)) as f:
            m = json.load(f)
        orphaned.update(fm["path"] for fm in m["files"])
        os.remove(os.path.join(snap_dir, n))
    orphaned -= t.referenced_files()
    assert orphaned, "test setup: expected at least one orphaned file"
    for r in orphaned:
        assert os.path.exists(os.path.join(t.root, r))

    stats = expire_snapshots(t, keep_last=1)
    for r in orphaned:
        assert not os.path.exists(os.path.join(t.root, r)), f"leaked {r}"
    assert stats["removed_orphans"] >= len(orphaned)
    # live table unharmed
    assert t.read(spark).count() == 4
    for p in t.file_paths():
        assert os.path.exists(p)


def test_expire_age_sweeps_stale_staging_files(spark, tmp_path):
    """Files stranded in a stream sink's _staging-* dir by failed or
    speculative task attempts (never message-listed, so never promoted)
    must not accumulate unbounded: expiry age-sweeps staging files past
    the retention horizon while leaving recent (possibly in-flight)
    ones alone (r6 ADVICE: the orphan sweep excluded _staging* dirs
    entirely and nothing else ever cleaned them)."""
    import time as _time

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(3):
        t.append(spark.createDataFrame([(i, "x")], SCHEMA))
    staging = os.path.join(t.root, "data", "_staging-stream")
    os.makedirs(staging)
    stale = os.path.join(staging, "part-deadbeef.parquet")
    fresh = os.path.join(staging, "part-cafebabe.parquet")
    for p in (stale, fresh):
        with open(p, "wb") as f:
            f.write(b"x")
    old = _time.time() - 7200
    os.utime(stale, (old, old))

    stats = expire_snapshots(t, keep_last=1, staging_retention_s=3600)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert stats["removed_orphans"] >= 1
    # live table files untouched
    assert t.read(spark).count() == 3

    # a staging dir a live stream has momentarily EMPTIED (every commit
    # renames the staged files out) must survive the sidecar-prune walk
    # — removing it would fail the stream's next write task
    os.remove(fresh)
    expire_snapshots(t, keep_last=1, staging_retention_s=3600)
    assert os.path.isdir(staging)


def test_expire_dry_run_reports_without_removing(spark, tmp_path):
    """dry_run=True (Delta VACUUM DRY RUN parity): the report matches
    what the real pass then removes, and NOTHING on disk changes —
    including a torn manifest and an orphan file, the two non-obvious
    removal classes."""
    import hashlib
    import json as _json

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(4):
        t.append(spark.createDataFrame([(i, "a")], SCHEMA))
    # an overwrite then an append: the dropped append-era snapshots now
    # reference files NO surviving snapshot keeps, so the drop pass has
    # real work (removed_files > 0) — in dry-run those files are still
    # on disk during the orphan walk, the case that used to double-count
    t.overwrite(spark.createDataFrame([(0, "a"), (1, "a"), (2, "a"), (3, "a")], SCHEMA))
    t.append(spark.createDataFrame([(4, "a")], SCHEMA))
    # one orphan parquet + one torn manifest (crashed-commit leftovers)
    orphan = os.path.join(t.root, "data", "crashed", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan))
    spark.createDataFrame([(9, "z")], SCHEMA).toPandas().to_parquet(orphan)
    with open(os.path.join(t.root, "_snapshots", "v000000000099.json"), "w") as f:
        f.write('{"version": 99, "fi')

    def _tree_state(root):
        out = {}
        for dp, _dn, fns in os.walk(root):
            for fn in fns:
                p = os.path.join(dp, fn)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = _tree_state(t.root)
    report = expire_snapshots(t, keep_last=2, dry_run=True)
    assert report["dry_run"] is True
    assert _tree_state(t.root) == before  # byte-identical tree
    # time travel still works on every pre-dry-run version
    assert t.read(spark, version=1).count() == 1

    real = expire_snapshots(t, keep_last=2)
    assert "dry_run" not in real
    # the audit predicted the action (orphan counts include the torn
    # manifest's crashed data file and the stray orphan). removed_files
    # must be non-trivial here, or the no-double-count claim is vacuous:
    # a real run deletes drop-pass files BEFORE the orphan walk, and the
    # dry-run audit must not count the still-on-disk copies twice.
    assert real["removed_files"] > 0
    assert real["removed_snapshots"] == report["removed_snapshots"]
    assert real["removed_files"] == report["removed_files"]
    assert real["removed_orphans"] == report["removed_orphans"]
    assert not os.path.exists(orphan)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_compact_range_partitions_keep_cluster_stats_tight(spark, tmp_path, monkeypatch):
    """compact() must RANGE-partition on the cluster columns (review
    round 11): a hash repartition scattered adjacent keys so every
    compacted file spanned ~the whole key domain, defeating the
    manifest min/max pruning clustering exists for. With >1 output
    file, the per-file [min, max] intervals on the cluster column must
    be disjoint."""
    num_schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.IntegerType()),
    ])
    t = LakeTable.create(
        str(tmp_path / "t"), num_schema, keys=["id"], cluster_by=["id"]
    )
    for i in range(12):
        t.append(
            spark.createDataFrame(
                [(i * 100 + j, j) for j in range(50)], num_schema
            )
        )
    # force multiple outputs: tiny target size
    monkeypatch.setattr(lake_table, "_TARGET_FILE_BYTES", 2048)
    compact(spark, t)
    m = t.manifest()
    assert len(m["files"]) > 1, "test needs >1 compacted file"
    spans = sorted(
        (f["min"]["id"], f["max"]["id"]) for f in m["files"]
    )
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (
            f"file ranges overlap ({hi1} > {lo2}) — hash partitioning "
            "is back, pruning is defeated"
        )


def test_expire_keep_last_zero_keeps_only_pinned(spark, tmp_path):
    """keep_last=0 means 'keep only pinned snapshots' — names[-0:]
    silently kept EVERYTHING (review round 11)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["id"])
    for i in range(4):
        t.append(spark.createDataFrame([(i, "a")], SCHEMA))
    assert len(t.snapshots()) == 5  # v0..v4
    stats = expire_snapshots(t, keep_last=0)
    # only the pinned current version survives
    assert stats["removed_snapshots"] == 4
    assert [s["version"] for s in t.snapshots()] == [t.current_version()]
    assert t.read(spark).count() == 4  # current data intact


def test_full_rewrites_drop_inert_equality_deletes(spark, tmp_path):
    """zorder_by and compact(binpack=False) rewrite EVERY data file, so
    all pending equality-delete entries are provably inert afterwards —
    they must be dropped with the rewrite or every later read pays
    their anti-join plus delete-file parquet reads for zero effect
    (review round 11)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        zorder_by,
    )

    num_schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.IntegerType()),
    ])
    for op in ("zorder", "compact_full"):
        t = LakeTable.create(
            str(tmp_path / op), num_schema, keys=["id"],
            properties={"write.delete.mode": "merge-on-read"},
        )
        t.append(spark.createDataFrame([(i, i) for i in range(20)], num_schema))
        # equality delete -> a pending delete_files entry with no refs
        t.delete_eq([{"id": 3}])
        assert t.manifest().get("delete_files"), "precondition: pending delete"
        rows_before = sorted(
            map(tuple, t.read(spark).collect())
        )
        if op == "zorder":
            zorder_by(spark, t, ["id", "v"])
        else:
            compact(spark, t, binpack=False)
        m = t.manifest()
        assert m.get("delete_files", []) == [], (
            f"{op}: inert equality-delete entries survived the full rewrite"
        )
        assert sorted(map(tuple, t.read(spark).collect())) == rows_before


def _mini_table(spark, tmp_path, n_commits=4):
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema)
    for i in range(n_commits):
        t.append(spark.createDataFrame([(i, float(i))], schema))
    return t


def test_transient_oserror_aborts_expiry_instead_of_orphaning(
    spark, tmp_path, monkeypatch
):
    """A transient OSError (EMFILE/EACCES/EIO) while reading a LIVE
    manifest must PROPAGATE out of referenced_files — mapping it to
    'missing' made the orphan sweep treat that snapshot's data files as
    unreferenced and DELETE them (review round 12, data loss)."""
    import pytest as _pytest

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table as lt,
    )

    t = _mini_table(spark, tmp_path)
    lt._purge_manifest_cache  # module sanity
    # clear the cache so referenced_files actually re-reads from disk
    with lt._MANIFEST_CACHE_LOCK:
        lt._MANIFEST_CACHE.clear()

    real_probe = lt._content_probe
    calls = {"n": 0}

    def flaky_probe(path, size):
        # each uncached load probes twice (pre-stat + post-read TOCTOU
        # re-probe; the latter legitimately swallows OSError since the
        # parse is already in hand) — call 3 is the SECOND manifest's
        # first probe, the one whose failure must abort the walk
        calls["n"] += 1
        if calls["n"] == 3:
            raise PermissionError(13, "transient EACCES", path)
        return real_probe(path, size)

    monkeypatch.setattr(lt, "_content_probe", flaky_probe)
    with _pytest.raises(PermissionError):
        t.referenced_files()
    monkeypatch.setattr(lt, "_content_probe", real_probe)
    # table intact: every data file still present and readable
    assert t.read(spark).count() == 4


def test_rollback_to_expired_version_raises_not_bricks(spark, tmp_path):
    """rollback_to must verify the target manifest still exists: the
    lineage tombstones answer is_ancestor across EXPIRED history, so an
    unchecked swap pointed the head at a reaped manifest and bricked
    the table (review round 12)."""
    import pytest as _pytest

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )

    t = _mini_table(spark, tmp_path, n_commits=5)
    expire_snapshots(t, keep_last=2)
    cur = t.current_version()
    with _pytest.raises(SnapshotNotFound):
        t.rollback_to(2)
    # pointer untouched; table still fully readable
    assert t.current_version() == cur
    assert t.read(spark).count() == 5


def test_version_as_of_timestamp_crosses_expired_to_pinned(spark, tmp_path):
    """TIMESTAMP AS OF descends through expiry's lineage tombstones to
    a LIVE tag-pinned older ancestor — it used to raise as soon as the
    walk hit the first reaped manifest even though a readable snapshot
    satisfied the timestamp (review round 12)."""
    import pytest as _pytest

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )

    t = _mini_table(spark, tmp_path, n_commits=5)
    pinned_v = 2
    t.create_tag("audit", pinned_v)
    ts_pinned = t.manifest(pinned_v)["created"]
    expire_snapshots(t, keep_last=1)  # v3, v4 reaped; v2 tag-pinned
    assert t.version_as_of_timestamp(ts_pinned) == pinned_v
    # a timestamp OLDER than every readable snapshot still raises, and
    # the remedial message names expiry
    with _pytest.raises(SnapshotNotFound, match="expire_snapshots"):
        t.version_as_of_timestamp("1970-01-01T00:00:00")


def test_resolve_ref_torn_file_raises_snapshot_not_found(spark, tmp_path):
    """A torn legacy ref file (pre-atomic-creation crash artifact) must
    surface as SnapshotNotFound with a remedy, not a raw
    JSONDecodeError (review round 12)."""
    import pytest as _pytest

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )

    t = _mini_table(spark, tmp_path, n_commits=1)
    os.makedirs(os.path.join(t.root, "refs"), exist_ok=True)
    with open(os.path.join(t.root, "refs", "torn.json"), "w") as f:
        f.write('{"type": "tag", "ver')  # crashed mid-write
    with _pytest.raises(SnapshotNotFound, match="torn"):
        t.resolve_ref("torn")


def test_expiry_sweeps_pointer_and_ref_tmp_leftovers(spark, tmp_path):
    """Crashed _swap_pointer / _create_ref leftovers (_current.tmp.*,
    refs/*.json.tmp.*) are age-swept by expire_snapshots like the
    snapshot-dir tmps — nothing else ever removed them
    (review round 12)."""
    t = _mini_table(spark, tmp_path, n_commits=2)
    os.makedirs(os.path.join(t.root, "refs"), exist_ok=True)
    stale_ptr = os.path.join(t.root, "_current.tmp.deadbeef")
    stale_ref = os.path.join(t.root, "refs", "r.json.tmp.deadbeef")
    fresh_ptr = os.path.join(t.root, "_current.tmp.cafef00d")
    for p in (stale_ptr, stale_ref, fresh_ptr):
        with open(p, "w") as f:
            f.write("x")
    old = __import__("time").time() - 100_000
    os.utime(stale_ptr, (old, old))
    os.utime(stale_ref, (old, old))
    expire_snapshots(t, keep_last=10)
    assert not os.path.exists(stale_ptr), "aged pointer tmp survived"
    assert not os.path.exists(stale_ref), "aged ref tmp survived"
    assert os.path.exists(fresh_ptr), "young tmp reaped (live-writer race)"
    os.remove(fresh_ptr)


def test_add_column_refuses_former_physical_name(spark, tmp_path):
    """Physical names stay unambiguous forever: re-adding a renamed-away
    name would make old files' bytes bleed into the NEW column through
    every rename-chain resolver (batch shadow-coalesce and the stream
    reader) instead of the declared default/NULL (review round 12)."""
    import pytest as _pytest

    t = _mini_table(spark, tmp_path, n_commits=1)
    t.rename_column("v", "val")
    with _pytest.raises(ValueError, match="previously renamed"):
        t.add_column("v", T.DoubleType(), default=1.0)
    # a genuinely fresh name still works
    t.add_column("v2", T.DoubleType(), default=1.0)


def test_timestamp_as_of_refuses_expired_true_snapshot(spark, tmp_path):
    """TIMESTAMP AS OF must never silently serve an OLDER live ancestor
    when the true as-of snapshot was expired: the tombstones carry the
    dropped snapshots' created stamps, so a ts falling INSIDE the
    expired stretch raises the remedial error while a ts before the
    stretch still resolves to the live pinned ancestor
    (review round 12)."""
    import pytest as _pytest

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
        SnapshotNotFound,
    )

    t = _mini_table(spark, tmp_path, n_commits=5)
    t.create_tag("audit", 2)
    ts_v2 = t.manifest(2)["created"]
    ts_v3 = t.manifest(3)["created"]
    expire_snapshots(t, keep_last=1)  # v3, v4 reaped (v2 tag-pinned)
    # before the expired stretch: resolves to the live pinned ancestor
    assert t.version_as_of_timestamp(ts_v2) == 2
    # inside the expired stretch: the true as-of (v3) is gone — raise,
    # never serve v2's state missing v3's rows
    with _pytest.raises(SnapshotNotFound, match="expire_snapshots"):
        t.version_as_of_timestamp(ts_v3)
