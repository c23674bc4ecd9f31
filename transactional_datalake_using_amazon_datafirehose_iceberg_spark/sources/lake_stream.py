"""LakeTable as a Structured Streaming SOURCE (Spark 4
``pyspark.sql.datasource`` streaming API) — Iceberg streaming-read
parity (`spark.readStream.format("iceberg")`): each micro-batch reads
the data files APPENDED since the last committed offset, giving
downstream incremental consumers exactly-once file-level progress
through the normal checkpoint mechanism.

Offsets are snapshot versions (the natural monotone watermark of the
format). Partition planning walks the manifest chain driver-side
(metadata scale); each appended data file becomes one InputPartition
and executors read their file with ``lake_table._file_batches``, the
pyarrow reader of the driver MERGE, yielding Arrow record batches — no
Spark jobs inside the reader, no driver materialization of row data,
no row-at-a-time Python. Each file resolves renames, initial defaults
(``lake_table._file_defaults``), widened types and INT96 timestamps as
the batch read does.

Semantics match Iceberg's defaults for streaming reads:

- append and merge fast-path commits (added files, nothing removed)
  stream their added files;
- a commit that REWRITES or DELETES data (COW merge/update/delete,
  overwrite, new MOR delete files) is not expressible as an append
  stream — it raises, unless ``skipChangeCommits`` is set (Iceberg's
  ``streaming-skip-overwrite/delete-snapshots``), in which case the
  commit is skipped whole;
- maintenance commits (compact / zorder / rewrite-deletes) rewrite
  existing rows and are always skipped, like Iceberg's
  replace-snapshot handling; metadata-only commits carry no rows.

Row-level change streams (UPDATE/DELETE images) remain the batch
``changelog()`` read — the same split Iceberg makes between streaming
reads and the changelog procedure.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# create/shallow-clone are append-shaped: v0 carries the initial file
# set (empty for create, the borrowed snapshot for a clone) and a fresh
# stream must emit it — the old walk stopped ABOVE v0 and a clone's
# entire dataset silently never streamed (review round 10)
# cherry-pick: the WAP publish path replays an append-shaped branch
# commit onto main — classifying it as a change commit crashed the
# stream on audited-and-published rows (or, with skipChangeCommits,
# silently dropped them). The removed/new_deletes checks below still
# catch a genuinely row-changing pick (review round 12).
_APPEND_OPS = {"append", "merge", "create", "shallow-clone", "cherry-pick"}
_MAINTENANCE_OPS = {"compact", "zorder", "rewrite-deletes"}


def _read_pointer(root: str) -> int:
    # LakeTable handles both pointer bodies (bare int / JSON ref) and
    # stays the single place pointer semantics live
    from ..plans.lake_table import LakeTable

    return LakeTable(root).current_version()


def _read_manifest_or_none(root: str, version: int) -> dict | None:
    # route through the shared parse cache: torn-manifest detection for
    # free, and a stream replanning every micro-batch stops re-parsing
    # the same manifests from disk
    from ..plans.lake_table import (
        _MANIFEST_MISSING,
        _SNAPSHOT_DIR,
        _load_manifest_cached,
    )

    m = _load_manifest_cached(
        os.path.join(root, _SNAPSHOT_DIR, f"v{version:012d}.json")
    )
    return None if m is None or m is _MANIFEST_MISSING else m


def _read_manifest(root: str, version: int) -> dict:
    m = _read_manifest_or_none(root, version)
    if m is None:
        # a RESUMED stream whose checkpoint offset predates snapshot
        # expiry cannot replan the missing increments — name the remedy
        # instead of a bare missing-file error. (A fresh stream never
        # hits this: partitions() bootstraps from the oldest live
        # state instead.)
        raise ValueError(
            f"lake_table stream needs snapshot v{version} of {root}, "
            "which has been expired (expire_snapshots ran past this "
            "stream's checkpoint offset) — restart from a fresh "
            "checkpoint (the first batch then re-reads the full table "
            "state) or raise the expiry retention"
        )
    return m


class LakeStreamDataSource(DataSource):
    """``spark.readStream.format("lake_table").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "lake_table"

    def schema(self):
        root = self.options.get("path")
        if not root:
            raise ValueError("lake_table source requires .option('path', <table root>)")
        m = _read_manifest(root, _read_pointer(root))
        return T.StructType.fromJson(json.loads(m["schema"]))

    def _path(self, side: str) -> str:
        # friendly error on BOTH sides: with an explicit .schema(...)
        # the schema()/_table_schema() guards never run, and a missing
        # path surfaced as a bare KeyError (review round 12)
        root = self.options.get("path")
        if not root:
            raise ValueError(
                f"lake_table {side} requires .option('path', <table root>)"
            )
        return root

    def streamReader(self, schema) -> "DataSourceStreamReader":
        return _LakeStreamReader(
            self._path("source"),
            schema,
            skip_change_commits=str(
                self.options.get("skipChangeCommits", "false")
            ).lower()
            == "true",
        )

    # -- write side (df.write / df.writeStream .format("lake_table")) --
    def _table_schema(self) -> T.StructType:
        root = self._path("sink")
        m = _read_manifest(root, _read_pointer(root))
        return T.StructType.fromJson(json.loads(m["schema"]))

    def writer(self, schema, overwrite: bool):
        # conform to the TABLE schema, not the incoming frame's: a
        # frame missing a table column fails loudly at the first batch
        return _LakeBatchWriter(
            self._path("sink"), self._table_schema(), overwrite
        )

    def streamWriter(self, schema, overwrite: bool):
        # txnAppId (Delta-style): distinct streaming queries appending
        # to one table must carry distinct app ids so their batch-id
        # watermarks never collide. (Spark 4 delivers options as a
        # CaseInsensitiveDict, so one spelling suffices.) ``overwrite``
        # is the runtime's truncate signal (complete output mode):
        # dropping it silently APPENDED every re-emitted aggregate
        # (review round 12).
        app_id = self.options.get("txnAppId") or "default"
        return _LakeStreamWriter(
            self._path("sink"),
            self._table_schema(),
            app_id=app_id,
            overwrite=overwrite,
        )


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str, arrow_schema,
                 renames: dict | None = None, fills: dict | None = None):
        self.abs_path = abs_path
        self.arrow_schema = arrow_schema  # pyarrow schemas pickle fine
        # current logical name -> former physical names (rename chain)
        self.renames = renames or {}
        # column -> initial-default value for columns this file predates
        self.fills = fills or {}


class _LakeStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema: T.StructType, skip_change_commits: bool):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._root = root
        self._arrow_schema = to_arrow_schema(schema)
        self._skip_change_commits = skip_change_commits

    # -- offsets --------------------------------------------------------
    def initialOffset(self) -> dict:
        # -1, not 0: v0 itself must stream as the first increment — a
        # shallow clone's v0 carries the full borrowed file set (create
        # v0 is empty, so the walk floor below 0 costs nothing)
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": _read_pointer(self._root)}

    def partitions(self, start: dict, end: dict):
        from ..plans.lake_table import _file_defaults

        chain: list[dict] = []
        bootstrap: dict | None = None
        v: int | None = end["version"]
        while v is not None and v > start["version"]:
            m = _read_manifest_or_none(self._root, v)
            if m is None:
                # STRICTLY < 0: offset 0 is a legitimate committed
                # checkpoint (the first trigger ran at table head v0 —
                # a clone's v0 carries the full borrowed file set), and
                # bootstrapping a RESUMED stream would re-emit the whole
                # already-streamed state downstream (review round 12)
                if start["version"] < 0 and chain:
                    # FRESH stream (initialOffset) over a table whose
                    # early history was expired: the per-commit
                    # increments below the reaped version are gone, so
                    # the first batch BOOTSTRAPS — the oldest live
                    # snapshot's full file list stands in for all of
                    # them (exactly the table state at that version),
                    # and higher commits stream incrementally as usual.
                    bootstrap = chain[-1]
                    break
                _read_manifest(self._root, v)  # raises the remedial error
            chain.append(m)
            v = m["parent"]
        chain.reverse()
        parts: list[_FilePartition] = []
        # rename/default resolution rides each partition: the executor
        # read maps a file's FORMER physical column names to the current
        # logical schema and fills initial defaults for files stamped
        # before the defaulted column's add-commit — the batch _scan's
        # semantics, which a plain name-match read silently turned into
        # all-NULL columns (review round 10)
        head = chain[-1] if chain else bootstrap
        renames = (head or {}).get("renames", {})
        # The reader's target schema is pinned at QUERY START, but the
        # manifest's rename chain is keyed by the CURRENT name — a
        # rename committed mid-stream left the query-start name without
        # an entry, so post-rename files (physical name = new name)
        # resolved to all-NULL silently (review round 12). Re-key each
        # chain under every name in it: whichever generation the query
        # started at, its physical candidates are the other names.
        eff_renames = dict(renames)
        for cur_name, formers in renames.items():
            chain_names = [cur_name, *formers]
            for former in formers:
                eff_renames.setdefault(
                    former,
                    tuple(n for n in chain_names if n != former),
                )
        renames = eff_renames

        def _mk_part(fmeta: dict) -> _FilePartition:
            return _FilePartition(
                os.path.join(self._root, fmeta["path"]),
                self._arrow_schema,
                renames=renames,
                fills=_file_defaults(head or {}, fmeta),
            )

        def _emit_full(m: dict) -> None:
            if m.get("delete_files"):
                raise ValueError(
                    f"lake_table stream bootstrap at v{m['version']} "
                    "of a table carrying row-level delete files would "
                    "resurrect deleted rows on a raw file read — compact "
                    "(rewrite-deletes) first, or use the batch read"
                )
            for fmeta in m["files"]:
                parts.append(_mk_part(fmeta))

        # the diff base below the range: the bootstrap manifest (its
        # full state was emitted), the in-memory predecessor as the loop
        # advances, or ONE disk read of the checkpoint-offset manifest
        # (remedial error if expired). v0 (parent None) diffs against
        # the empty state, so a clone's borrowed v0 file set streams.
        if bootstrap is not None:
            chain.remove(bootstrap)
            _emit_full(bootstrap)
            prev = bootstrap
        elif chain and chain[0]["parent"] is not None:
            prev = _read_manifest(self._root, chain[0]["parent"])
        else:
            prev = {"files": [], "delete_files": []}
        for m in chain:
            op = m["summary"].get("operation")
            if op in _MAINTENANCE_OPS:
                prev = m  # row-preserving rewrite: nothing new to stream
                continue
            added = int(m["summary"].get("added_files", 0))
            removed = int(m["summary"].get("removed_files", 0))
            # delete-set change must be computed BEFORE the metadata-only
            # skip: a merge-on-read DELETE commits added=0/removed=0 plus
            # a new position-delete file, and skipping it as "metadata
            # only" silently diverged the stream from the table
            # (review round 10)
            new_deletes = {d["path"] for d in m.get("delete_files", [])} - {
                d["path"] for d in prev.get("delete_files", [])
            }
            if (
                op not in _APPEND_OPS
                and added == 0
                and removed == 0
                and not new_deletes
            ):
                prev = m  # metadata-only commit (DDL, refs): no rows
                continue
            if op not in _APPEND_OPS or removed or new_deletes:
                if self._skip_change_commits:
                    prev = m
                    continue
                raise ValueError(
                    f"lake_table streaming read hit a non-append commit "
                    f"(v{m['version']}, op={op}, removed_files={removed}, "
                    f"new_delete_files={len(new_deletes)}); row-level "
                    "changes need the batch changelog() read, or set "
                    ".option('skipChangeCommits', 'true') to stream past it"
                )
            prev_files = {f["path"] for f in prev["files"]}
            for fmeta in m["files"]:
                if fmeta["path"] not in prev_files:
                    parts.append(_mk_part(fmeta))
            prev = m
        return parts

    def read(self, partition: _FilePartition):
        # executor-side: one parquet file, read by the pyarrow reader
        # the driver MERGE uses, emitted as Arrow record batches
        from ..plans.lake_table import _file_batches

        yield from _file_batches(
            partition.abs_path, partition.arrow_schema,
            partition.renames, partition.fills,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to release


# ---------------------------------------------------------------------------
# WRITE side: LakeTable as a Python Data Source SINK (batch + streaming).
#
# The distributed write path a 100 TB table needs: every executor task
# streams its Arrow record batches straight into its own parquet file
# under a staging dir (no driver materialization, no row-at-a-time
# Python), returns a commit message naming the file, and the DRIVER
# turns exactly the successfully-reported files into one atomic
# LakeTable commit — stats and key blooms collected by the same
# ``_collect_stats`` as the built-in write path. Failed/speculative
# task attempts may leave stray files in staging; commit() renames
# only message-listed files into the final commit dir and deletes the
# staging dir, so orphans never reach a manifest. Streaming commits are exactly-once:
# each batch stamps its txnAppId's watermark into the commit through the
# lake_table streaming ledger, and a replayed batch (restart from
# checkpoint) is dropped whole.
#
# Semantics: APPEND (the Firehose-delivery shape). Keyed MERGE apply
# stays in the foreachBatch pipeline (streaming/pipeline.py) where the
# full DataFrame engine is available.
# ---------------------------------------------------------------------------

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class _FileCommit(WriterCommitMessage):
    name: str  # file name inside the staging dir
    rows: int


class _ArrowFileWriter:
    """Executor-side: one parquet file per task from Arrow batches."""

    def __init__(self, root: str, staging_rel: str, schema_json: str):
        self._root = root
        self._staging_rel = staging_rel
        self._schema_json = schema_json

    def write(self, iterator):
        import json as _json
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(
            T.StructType.fromJson(_json.loads(self._schema_json))
        )
        name = f"part-{_uuid.uuid4().hex[:16]}.parquet"
        # recreate the staging dir defensively: maintenance may have
        # swept it between micro-batches while it sat empty
        os.makedirs(os.path.join(self._root, self._staging_rel), exist_ok=True)
        path = os.path.join(self._root, self._staging_rel, name)
        writer = None
        rows = 0
        try:
            for batch in iterator:
                tbl = pa.Table.from_batches([batch]).select(target.names)
                tbl = tbl.cast(target)
                if writer is None:
                    writer = pq.ParquetWriter(path, target)
                writer.write_table(tbl)
                rows += tbl.num_rows
        finally:
            if writer is not None:
                writer.close()
        if rows == 0:
            if os.path.exists(path):
                os.remove(path)
            # the runtime requires a WriterCommitMessage from every
            # task (None is rejected) — an empty partition reports an
            # empty name, which the driver commit skips
            return _FileCommit(name="", rows=0)
        return _FileCommit(name=name, rows=rows)


def _driver_commit(root: str, staging_rel: str, messages, *,
                   overwrite: bool = False, batch_id: int | None = None,
                   app_id: str = "default",
                   schema_v: int | None = None) -> None:
    """Driver-side: promote exactly the message-listed files into an
    atomic LakeTable commit (stats collected from footers, metadata
    scale). Streaming replays — a restart re-running the last in-flight
    batch, or a restored-from-backup checkpoint re-running older
    already-committed batches — are dropped whole (staged files
    deleted) by ``lake_table.is_replay`` on the app's watermark; the
    implicit "default" app fails loudly on a far-regressed batch id.
    A committed batch carries its ``batch_stamp``. Only message-listed
    files ever leave staging; stray files from failed/speculative task
    attempts are age-swept by expire_snapshots' staging retention."""
    import uuid as _uuid

    from ..plans.lake_table import (
        LakeTable,
        _DATA_DIR,
        batch_stamp,
        is_replay,
    )

    table = LakeTable.load(root)
    staging_abs = os.path.join(root, staging_rel)
    names = sorted({m.name for m in messages if m is not None and m.name})
    extra = None
    if batch_id is not None:
        if is_replay(table.manifest()["summary"], app_id, batch_id):
            for n in names:  # replayed batch: drop its staged output
                try:
                    os.remove(os.path.join(staging_abs, n))
                except FileNotFoundError:
                    pass
            return
        extra = batch_stamp(app_id, batch_id)
    if not names:
        if overwrite:
            # overwrite with an empty frame must still EMPTY the table
            # (Spark overwrite semantics) — the early return silently
            # kept every old row (review round 10)
            cur = table.manifest()
            table.commit(
                [],
                removed_paths=[f["path"] for f in cur["files"]],
                operation="overwrite",
                extra_summary=extra,
            )
            return
        # empty batch: still advance the streaming ledger so a replay
        # of THIS batch id stays a no-op
        if batch_id is not None:
            table.commit([], operation="append", extra_summary=extra)
        return
    def _staged_missing_error(missing_name: str) -> FileNotFoundError:
        return FileNotFoundError(
            f"lake_table sink: staged file(s) for batch {batch_id} "
            f"vanished before commit (e.g. {missing_name!r}). If "
            "expire_snapshots ran while this micro-batch was in flight, "
            "its staging age sweep removed them — staging_retention_s "
            "(default 1h) is a hard bound on batch duration; raise it "
            "or run expiry between batches. [StagedFilesMissing]"
        )

    # Verify the full staged set BEFORE creating the commit dir so the
    # common failure (the maintenance age sweep deleted an in-flight
    # batch's files past staging_retention_s) strands nothing on disk.
    missing = [n for n in names
               if not os.path.exists(os.path.join(staging_abs, n))]
    if missing:
        raise _staged_missing_error(missing[0])
    commit_rel = os.path.join(_DATA_DIR, _uuid.uuid4().hex[:16])
    commit_abs = os.path.join(root, commit_rel)
    os.makedirs(commit_abs)
    promoted: list[str] = []
    try:
        for n in names:
            os.rename(os.path.join(staging_abs, n), os.path.join(commit_abs, n))
            promoted.append(n)
    except FileNotFoundError as exc:
        # check-then-rename race (the sweep landed mid-loop): restore
        # the already-promoted files to staging and remove the commit
        # dir so the batch can still be retried whole
        for n in promoted:
            try:
                os.rename(os.path.join(commit_abs, n), os.path.join(staging_abs, n))
            except OSError:
                pass
        shutil.rmtree(commit_abs, ignore_errors=True)
        raise _staged_missing_error(str(exc.filename)) from exc
    metas = table._collect_stats(commit_abs, schema_v=schema_v)
    if overwrite:
        cur = table.manifest()
        table.commit(
            metas,
            removed_paths=[f["path"] for f in cur["files"]],
            operation="overwrite",
            extra_summary=extra,
        )
    else:
        table.commit(metas, operation="append", extra_summary=extra)


def _driver_abort(root: str, staging_rel: str, messages) -> None:
    for m in messages or []:
        # same name guard as _driver_commit: an empty partition's
        # message has name='' and os.remove(<staging dir itself>)
        # raised IsADirectoryError, crashing the abort path and masking
        # the original batch failure (review round 10)
        if m is not None and getattr(m, "name", ""):
            try:
                os.remove(os.path.join(root, staging_rel, m.name))
            except FileNotFoundError:
                pass


def _init_writer_state(writer, root: str, schema: T.StructType,
                       staging_rel: str) -> None:
    """Shared writer wiring (ONE LakeTable.load): staging dir, the
    schema generation the files are ACTUALLY shaped as — a DDL
    (add_column with default) landing mid-query must not stamp these
    pre-ALTER-shaped files with the post-ALTER generation, or the
    defaults read path returns stored NULLs instead of the declared
    default (review round 10) — and the task-side Arrow file writer."""
    from ..plans.lake_table import LakeTable as _LT

    writer._root = root
    writer._staging_rel = staging_rel
    os.makedirs(os.path.join(root, staging_rel), exist_ok=True)
    t = _LT.load(root)
    writer._schema_v = t.manifest().get("schema_v", 0)
    writer._w = _ArrowFileWriter(root, staging_rel, schema.json())


class _LakeBatchWriter(DataSourceArrowWriter):
    def __init__(self, root: str, schema: T.StructType, overwrite: bool):
        import uuid as _uuid

        self._overwrite = overwrite
        _init_writer_state(
            self, root, schema,
            os.path.join("data", f"_staging-{_uuid.uuid4().hex[:12]}"),
        )

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages):
        _driver_commit(
            self._root, self._staging_rel, messages,
            overwrite=self._overwrite, schema_v=self._schema_v,
        )
        shutil.rmtree(os.path.join(self._root, self._staging_rel), ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(os.path.join(self._root, self._staging_rel), ignore_errors=True)


class _LakeStreamWriter(DataSourceStreamArrowWriter):
    """Streaming append sink: one staging dir per query (batches are
    sequential within a query; unique file names keep attempts apart),
    one atomic LakeTable commit per micro-batch, exactly-once via the
    txnAppId's watermark in the lake_table streaming ledger."""

    def __init__(self, root: str, schema: T.StructType,
                 app_id: str = "default", overwrite: bool = False):
        # DETERMINISTIC staging path: the streaming runtime constructs
        # separate writer instances for the executor-serialization and
        # the commit sides, so a per-instance uuid would strand the
        # written files. Keyed by txnAppId so two queries with distinct
        # app ids never share a staging dir; unique file names keep
        # task attempts apart within one.
        import hashlib as _hashlib

        self._app_id = app_id
        # complete/truncate output mode: each micro-batch REPLACES the
        # table (the runtime's overwrite flag — dropped, it silently
        # appended every re-emitted aggregate; review round 12)
        self._overwrite = overwrite
        suffix = (
            ""
            if app_id == "default"
            else "-" + _hashlib.md5(app_id.encode()).hexdigest()[:8]
        )
        _init_writer_state(
            self, root, schema,
            os.path.join("data", f"_staging-stream{suffix}"),
        )

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        _driver_commit(
            self._root, self._staging_rel, messages,
            batch_id=batchId, app_id=self._app_id,
            overwrite=self._overwrite, schema_v=self._schema_v,
        )

    def abort(self, messages, batchId: int) -> None:
        _driver_abort(self._root, self._staging_rel, messages)
