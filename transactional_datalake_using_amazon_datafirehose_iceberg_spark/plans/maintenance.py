"""Table maintenance — the reference's compaction/retention story.

Reference: ``optimize_rewrite_delete_file_threshold=10`` (README.md:307)
bounds merge-on-read amplification; OSS Iceberg exposes this as
``rewrite_data_files`` / ``rewrite_position_delete_files`` procedures
with no auto-trigger (SURVEY.md §4 O7). Both degradation axes are
covered here:

- *small files* accumulating across micro-batch commits -> ``compact``
  rewrites the live file set into target-sized files;
- *position-delete files* accumulating under merge-on-read DML ->
  ``rewrite_delete_files`` folds pending deletes into the affected data
  files once the count crosses the reference's threshold (mirroring
  ``optimize_rewrite_delete_file_threshold``), restoring the plain-scan
  read path;
- history -> ``expire_snapshots`` retires old snapshots + unreferenced
  files (Iceberg ``expire_snapshots``).

``compact``, ``zorder_by`` and ``rewrite_delete_files`` only choose the
files to rewrite and the row transform: every rewrite reads, writes,
sizes and commits through ``LakeTable._rewrite_files``, the same
copy-on-write rewrite MERGE, UPDATE and DELETE end in, so its output
takes the table-wide file-sizing rule of ``LakeTable._write_files``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from .lake_table import (
    LakeTable,
    _DATA_DIR,
    _LINEAGE_FILE,
    _REFS_DIR,
    _SNAPSHOT_DIR,
    _is_manifest_name,
    _load_manifest_or_none,
)


def should_compact(table: LakeTable, small_file_threshold: int = 10,
                   small_bytes: int = 8 * 1024 * 1024) -> bool:
    """Auto-trigger policy (the piece OSS Iceberg leaves to the user):
    compact once >= N live files are below the small-file size."""
    m = table.manifest()
    small = [f for f in m["files"] if f["bytes"] < small_bytes]
    return len(small) >= small_file_threshold


def compact(
    spark: SparkSession,
    table: LakeTable,
    *,
    binpack: bool = True,
    small_bytes: int = 8 * 1024 * 1024,
) -> int:
    """Rewrite undersized files into ~target-sized, cluster-sorted files
    in one atomic snapshot (CALL rewrite_data_files, binpack strategy).

    ``binpack=True`` (default) rewrites ONLY files below ``small_bytes``
    — the Iceberg binpack contract, and the only shape that survives
    scale: a 100 TB table accretes small files at its write frontier
    while the compacted bulk must carry over by reference, not be
    re-shuffled on every maintenance run. Files already at target size
    are untouched (their pending merge-on-read deletes also stay
    pending, exactly like Iceberg). ``binpack=False`` forces the old
    whole-table rewrite (full recluster). The rewritten rows are sorted
    on the table's ``cluster_by`` and sized like every rewrite.
    """
    m = table.manifest()
    if not m["files"]:
        return m["version"]
    if binpack:
        victims = [f for f in m["files"] if f["bytes"] < small_bytes]
        if len(victims) < 2:  # nothing to gain from rewriting <2 files
            return m["version"]
    else:
        victims = list(m["files"])
    # commit() prunes position-delete entries made dangling by
    # removed_paths, so victims' folded-in deletes disappear with them
    # automatically. Equality deletes carry no refs: after a FULL
    # rewrite every surviving file outranks them (new seq), so their
    # entries are provably inert — drop them explicitly or every later
    # read pays their anti-join for zero effect (review round 11).
    return table._rewrite_files(
        spark, [f["path"] for f in victims], lambda df: df,
        operation="compact",
        removed_delete_paths=(
            [d["path"] for d in m.get("delete_files", [])] if not binpack else ()
        ),
    )


def zorder_by(
    spark: SparkSession,
    table: LakeTable,
    cols: list[str],
    bits: int = 8,
) -> int:
    """Z-order rewrite (Iceberg ``rewrite_data_files`` with
    ``sort_order => zorder(...)``): recluster the live file set on the
    bit-interleaved rank of ``cols`` so per-file manifest min/max are
    tight on EVERY listed column at once — single-column range
    clustering (``cluster_by``) prunes only its leading column, z-order
    prunes point/range predicates on any participating column.

    Mechanics: each column is mapped to a ``2**bits``-bucket rank via an
    equal-width [min, max] scale (one fused min/max aggregate for all
    columns), the bucket bits are interleaved into one long z-value, and
    the table is rewritten sorted on that z-value (range-partitioned
    into files sized like every rewrite; the z-value is not stored) —
    each output file then covers a small hyper-rectangle of the key
    space. All compute is JVM-side column arithmetic; the only
    driver-side data is the 1-row min/max aggregate. Scale cost = one
    full-table shuffle, identical to any clustering rewrite; run it
    like compaction (periodic, or on cold data once).
    """
    m = table.manifest()
    if not m["files"]:
        return m["version"]
    if len(cols) * bits > 63:
        raise ValueError(f"bits={bits} over {len(cols)} columns exceeds a long")
    from pyspark.sql import functions as F

    def add_z(df):
        dtypes = dict(df.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double") + tuple(
            t for c, t in dtypes.items() if t.startswith("decimal")
        )
        for c in cols:
            if c not in dtypes:
                raise ValueError(f"no such column: {c}")
            if dtypes[c] not in numeric:
                raise ValueError(
                    f"zorder_by supports numeric columns; {c} is {dtypes[c]}"
                )
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        stats = df.agg(*aggs).collect()[0]

        nb = (1 << bits) - 1
        buckets = []
        for c in cols:
            lo, hi = stats[f"__lo_{c}"], stats[f"__hi_{c}"]
            if lo is None or hi is None or float(hi) == float(lo):
                buckets.append(F.lit(0).cast("long"))
                continue
            scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            ) * F.lit(nb)
            b = F.floor(scaled).cast("long")
            buckets.append(
                F.coalesce(F.greatest(F.least(b, F.lit(nb)), F.lit(0)), F.lit(0))
            )
        z = F.lit(0).cast("long")
        k = len(cols)
        for bit in range(bits):
            for i, b in enumerate(buckets):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * k + i)
                )
        return df.withColumn("__z", z)

    # full rewrite: every surviving file has a new (higher) seq, so all
    # pending delete entries are inert afterwards — position deletes are
    # pruned as ref-dangling by commit(), equality deletes (no refs)
    # must be dropped explicitly or every later read pays their
    # anti-join for zero effect (review round 11)
    return table._rewrite_files(
        spark, [f["path"] for f in m["files"]], add_z,
        sort_by=["__z"],
        operation="zorder",
        extra_summary={"zorder_by": ",".join(cols)},
        removed_delete_paths=[d["path"] for d in m.get("delete_files", [])],
    )


DEFAULT_DELETE_FILE_THRESHOLD = 10  # reference README.md:307


def should_rewrite_deletes(table: LakeTable, threshold: int | None = None) -> bool:
    """Auto-trigger mirroring the reference's
    ``optimize_rewrite_delete_file_threshold`` table property: rewrite
    once >= N position-delete files have accumulated."""
    m = table.manifest()
    if threshold is None:
        threshold = int(
            m.get("properties", {}).get(
                "optimize_rewrite_delete_file_threshold",
                DEFAULT_DELETE_FILE_THRESHOLD,
            )
        )
    return len(m.get("delete_files", [])) >= threshold


def rewrite_delete_files(spark: SparkSession, table: LakeTable) -> int:
    """Fold ALL pending position deletes into their data files (Iceberg
    ``rewrite_position_delete_files`` + targeted ``rewrite_data_files``):
    only the data files actually referenced by a delete file are
    rewritten; untouched files carry over by reference. Afterwards the
    read path is a plain pruned scan again (no anti-join)."""
    m = table.manifest()
    dels = m.get("delete_files", [])
    if not dels:
        return m["version"]
    affected_set = {r for d in dels for r in d.get("refs", [])}
    # equality deletes affect every data file with a lower sequence
    # number; fold them all so the read path drops both anti-joins
    eq_seqs = [
        int(d.get("seq", 0)) for d in dels if d.get("kind") == "equality"
    ]
    if eq_seqs:
        max_eq = max(eq_seqs)
        affected_set |= {
            f["path"] for f in m["files"] if int(f.get("seq", 0)) < max_eq
        }
    affected = sorted(affected_set)
    if not affected:
        # deletes reference no live file (e.g. equality deletes older
        # than every data file): drop the inert entries, metadata-only
        return table.commit(
            [],
            operation="rewrite-deletes",
            removed_delete_paths=[d["path"] for d in dels],
        )
    # the rewrite's delete-aware read materializes the net rows of
    # exactly those files
    return table._rewrite_files(
        spark, affected, lambda df: df,
        operation="rewrite-deletes",
        removed_delete_paths=[d["path"] for d in dels],
    )


def expire_snapshots(table: LakeTable, keep_last: int = 2, sweep_orphans: bool = True,
                     staging_retention_s: float = 3600.0,
                     dry_run: bool = False) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and physically
    delete data/delete files no surviving snapshot references.

    Crash-safe ordering: expired MANIFESTS are removed first (making the
    old versions unreachable), then the newly-unreferenced files — never
    a listed snapshot pointing at deleted data (the old order could
    strand time travel on FileNotFound). A crash mid-way leaves only
    unreachable-but-present files; those no longer appear in any
    manifest, so the targeted drop pass cannot see them on a re-run —
    the ORPHAN SWEEP closes that leak: every ``*.parquet`` under
    ``data/`` referenced by no surviving manifest is collected (and
    commit dirs left holding only ``_SUCCESS``/CRC sidecars are pruned),
    making re-runs actually converge (Iceberg's separate
    ``remove_orphan_files`` folded into expiry). Single-writer
    discipline applies: run expiry from the writer, not concurrently
    with an in-flight commit whose files are not yet manifested.

    ``staging_retention_s`` is a HARD upper bound on stream-sink
    micro-batch duration: the age sweep deletes any ``_staging-*``
    file older than the horizon, including one belonging to a batch
    that is still in flight (there is no in-flight marker to check).
    A stalled batch whose staged files are swept fails at commit time
    with a StagedFilesMissing error naming this setting — raise the
    retention (default 1 h) well above the slowest plausible batch,
    or schedule expiry in the stream's own foreachBatch gaps.

    ``dry_run=True`` (Delta ``VACUUM ... DRY RUN`` parity) computes the
    same report — snapshots, files and orphans that WOULD be removed —
    without touching the filesystem, so an operator can audit a
    retention change before running it for real. The report carries
    ``"dry_run": True`` so it cannot be mistaken for an action."""
    import shutil

    snap_dir = os.path.join(table.root, _SNAPSHOT_DIR)
    all_entries = sorted(os.listdir(snap_dir))
    names = [n for n in all_entries if _is_manifest_name(n)]
    # A crashed _write_manifest leaves a v{N}.json.tmp.{hex} file —
    # invisible to every walker (never published), but disk it still
    # holds. Age-sweep, never reap young: a LIVE writer is between its
    # tmp write and os.link for milliseconds, so the staging horizon is
    # an enormous safety margin (this replaces the old torn-final reap's
    # race against in-flight commits — finals are born complete now).
    now_tmp = time.time()
    # same age-sweep for crashed _swap_pointer tmps at the table root
    # and _create_ref tmps under refs/ — nothing else ever removed them
    # (review round 12). Published names never contain ".tmp.".
    refs_dir = os.path.join(table.root, _REFS_DIR)
    tmp_sites = [
        (snap_dir, all_entries),
        (table.root, [n for n in os.listdir(table.root)
                      if os.path.isfile(os.path.join(table.root, n))]),
        (refs_dir, os.listdir(refs_dir) if os.path.isdir(refs_dir) else []),
    ]
    for d, entries in tmp_sites:
        for n in entries:
            if ".tmp." not in n:
                continue
            full = os.path.join(d, n)
            try:
                if now_tmp - os.path.getmtime(full) > staging_retention_s:
                    if not dry_run:
                        os.remove(full)
            except FileNotFoundError:
                pass
    # Pinned versions survive regardless of age: the current pointer
    # (which after a rollback may be OLDER than the newest keep_last
    # manifests) and every named ref — tags pin forever, branch heads
    # pin until the branch moves (Iceberg ref-retention semantics).
    # The pinned-set computation THROUGH manifest removal holds the
    # commit lock (reentrant; the lineage write inside re-enters):
    # _create_ref takes the same lock, so a tag created concurrently
    # can no longer pass its existence check after this ref listing and
    # end up dangling at a reaped snapshot (review round 12). The
    # data-file/orphan sweeps below run unlocked — they only touch
    # files no surviving manifest references. Dry runs touch nothing
    # and stay lockless.
    from contextlib import ExitStack

    with ExitStack() as _expiry_lock:
        if not dry_run:
            _expiry_lock.enter_context(table._commit_lock())
        pinned = {table.current_version()}
        pinned.update(r["version"] for r in table.refs().values())
        # max(len-keep_last, 0) start index, never a bare -keep_last slice:
        # keep_last=0 means "keep only pinned" — names[-0:] would silently
        # keep EVERYTHING, the opposite of the requested retention
        # (review round 11)
        newest = set(names[max(len(names) - keep_last, 0):])
        keep_names = {n for n in names if n in newest or int(n[1:13]) in pinned}
        to_drop = [n for n in names if n not in keep_names]
        to_keep = sorted(keep_names)
        # NB: no early return when nothing is left to expire — the orphan
        # sweep must still run (a re-run after a crashed expiry has the
        # manifests already gone but the files still present)
        drop_refs: set[str] = set()
        dropped_lineage: dict[int, int | None] = {}
        for n in to_drop:
            p = os.path.join(snap_dir, n)
            dm = _load_manifest_or_none(p)
            if dm is None:  # torn: no refs to collect, just remove
                if not dry_run:
                    os.remove(p)
                continue
            # parent edge + created stamp: TIMESTAMP AS OF needs the
            # stamp to tell "expired stretch entirely after ts" (keep
            # descending) from "the true as-of snapshot was expired"
            # (raise, never silently serve an older state; review
            # round 12)
            dropped_lineage[int(dm["version"])] = {
                "p": dm.get("parent"),
                "c": dm.get("created"),
            }
            drop_refs.update(fm["path"] for fm in dm["files"])
            drop_refs.update(fm["path"] for fm in dm.get("delete_files", []))
        # Tombstone the dropped snapshots' (version -> parent) edges BEFORE
        # any manifest is removed (crash-safe order: lineage is recorded
        # before it is lost). is_ancestor falls back to this map, so
        # rollback / fast-forward ancestry checks against a tag-pinned
        # snapshot keep working after the intermediate history is expired —
        # the snapshot-log Iceberg retains in table metadata.
        if dropped_lineage and not dry_run:
            # read-merge-write under the commit lock (two concurrent
            # expiries must not lose each other's edges); the tmp name is
            # DETERMINISTIC so a crashed expiry's leftover is simply
            # overwritten by the next run instead of accumulating
            with table._commit_lock():
                lin_path = os.path.join(table.root, _LINEAGE_FILE)
                merged: dict = {}
                if os.path.exists(lin_path):
                    with open(lin_path) as f:
                        merged = json.load(f)
                merged.update({str(k): v for k, v in dropped_lineage.items()})
                tmp = f"{lin_path}.tmp"
                with open(tmp, "w") as f:
                    json.dump(merged, f)
                os.replace(tmp, lin_path)
        for n in to_drop:
            p = os.path.join(snap_dir, n)
            if not dry_run and os.path.exists(p):
                os.remove(p)  # manifest first: version becomes unreachable
    # Kept-manifest parsing runs OUTSIDE the lock (review round 12):
    # published manifests are immutable and keep_refs only feeds the
    # unlocked file sweeps below, so a multi-MB JSON parse per kept
    # snapshot must not stall every concurrent commit. Torn keeps are
    # legacy artifacts (never committed — the pointer swap follows a
    # COMPLETED write) and are reaped like any expired version; their
    # data files fall to the orphan sweep.
    keep_refs: set[str] = set()
    for n in to_keep:
        km = _load_manifest_or_none(os.path.join(snap_dir, n))
        if km is None:
            if not dry_run:
                os.remove(os.path.join(snap_dir, n))
            continue
        keep_refs.update(fm["path"] for fm in km["files"])
        keep_refs.update(fm["path"] for fm in km.get("delete_files", []))
    removed_files = 0
    counted_drop_paths: set[str] = set()
    root_real = os.path.realpath(table.root)
    for r in sorted(drop_refs - keep_refs):
        fp = os.path.join(table.root, r)
        # shallow-clone guard (Delta vacuum-on-clone contract): a
        # borrowed reference resolves OUTSIDE this table's root — the
        # bytes belong to the clone source, so expiry here must never
        # delete them. Containment is checked on the resolved path.
        if os.path.commonpath(
            [os.path.realpath(fp), root_real]
        ) != root_real:
            continue
        if os.path.exists(fp):
            if not dry_run:
                os.remove(fp)
            counted_drop_paths.add(r)
            removed_files += 1

    removed_orphans = 0
    if sweep_orphans:
        # union over SURVIVING manifests. In dry-run the to-drop
        # manifests are still on disk, so referenced_files() would
        # wrongly keep their files alive — keep_refs is exactly what
        # referenced_files() returns after a real removal pass
        refs = keep_refs if dry_run else table.referenced_files()
        data_root = os.path.join(table.root, _DATA_DIR)
        # _staging-* dirs hold a Python Data Source sink's in-flight
        # task outputs — not yet manifested by design, not orphans, so
        # the reference-based sweep below skips them. But files from
        # FAILED / speculative task attempts are never message-listed
        # and would otherwise accumulate unbounded in the stream sink's
        # deterministic staging dir, so age-sweep them here: anything
        # older than the retention horizon cannot belong to an
        # in-flight micro-batch (batches run seconds, not hours).
        now = time.time()
        for dirpath, dirnames, files in os.walk(data_root):
            if not os.path.basename(dirpath).startswith("_staging"):
                continue
            for name in files:
                full = os.path.join(dirpath, name)
                try:
                    if now - os.path.getmtime(full) > staging_retention_s:
                        if not dry_run:
                            os.remove(full)
                        removed_orphans += 1
                except FileNotFoundError:
                    pass
        for dirpath, dirnames, files in os.walk(data_root):
            dirnames[:] = [d for d in dirnames if not d.startswith("_staging")]
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, table.root)
                if rel in refs:
                    continue
                # in dry-run the drop-pass files are still on disk —
                # skip anything already counted in removed_files, or the
                # audit double-counts what one real run would remove
                if dry_run and rel in counted_drop_paths:
                    continue
                if not dry_run:
                    os.remove(full)
                removed_orphans += 1
        # prune commit dirs reduced to sidecars (_SUCCESS, .crc) — but
        # never a _staging-* dir: a live stream sink's staging dir is
        # legitimately EMPTY between micro-batches (every commit renames
        # the staged files out), and removing it would fail the next
        # write task mid-stream
        if not dry_run:  # sidecar-dir pruning is cosmetic; skip in audit
            for dirpath, dirnames, files in os.walk(data_root, topdown=False):
                if dirpath == data_root or os.path.basename(dirpath).startswith(
                    "_staging"
                ):
                    continue
                if not dirnames and all(
                    name.startswith((".", "_")) and not name.endswith(".parquet")
                    for name in files
                ):
                    shutil.rmtree(dirpath, ignore_errors=True)
    return {
        "removed_snapshots": len(to_drop),
        "removed_files": removed_files,
        "removed_orphans": removed_orphans,
        **({"dry_run": True} if dry_run else {}),
    }
