"""Copy-on-write MERGE INTO for LakeTable.

Reproduces the apply semantics of the reference's Firehose Iceberg
destination (cdk_stacks/firehose_to_iceberg.py:109-116: route by
``otfMetadata``, apply ``operation`` with ``unique_keys=["trans_id"]``):

- source row with op ``insert``/``update`` and a matching target key →
  full-row replace (DMS sends complete after-images, not deltas —
  reference: src/utils/gen_fake_cdc_data.py:42-46);
- op ``insert``/``update`` with no match → insert;
- op ``delete`` with a match → row removed; with no match → silent no-op
  (CDC streams can start mid-history, ``migration_type='cdc'`` skips the
  full load — cdk_stacks/dms_aurora_mysql_to_kinesis.py:147);
- duplicate keys in the source are an error, as in Iceberg/Spark MERGE
  (SURVEY.md §7.3 item 5) — run latest-per-key dedup (D4) first.

Physical strategy (the 100 TB story):

1. Manifest min/max stats prune the candidate files by the source's
   key range.
2. A semi-join of target×source-keys — with the source side broadcast,
   since a CDC micro-batch is small — identifies the *files* containing
   matched keys: their distinct ``_metadata.file_path`` values are
   collected and map back to manifest relpaths through the scan's
   ``LakeTable._file_map``.
3. Only those files are rewritten: their rows are full-outer-joined with
   the source (shuffle bounded by touched-file volume, not table volume).
4. Untouched files carry over into the new snapshot by reference.

Each path reads its source's facts (row count, duplicate-key check, key
range and NULL-key flag) in one pass, and an empty source exits right
after it. A small MERGE runs on the driver, the same steps without the
Spark query machinery that costs a micro-batch more than its data: the
source, cast to the table's types in Spark, is collected once to Arrow
under ``_small_output``'s bounded collect, and its facts come from that
table. The candidates' key columns are read with pyarrow and matched
null-safe (step 2, no job), the touched files are read and rewritten
with pyarrow, and the result is written by the same ``_write_files``
and committed the same way. The pyarrow read (``LakeTable._read_arrow``)
resolves renames, initial defaults and pending deletes per file as
Spark's read does. A Spark MERGE reads its facts from one aggregate of
the source (grouped by key unless ``assume_unique``) and one collect().
The MERGE stays in Spark when the source exceeds
``_INPROCESS_MAX_ROWS`` rows, a type or the codec is off the in-process
whitelist, NOT MATCHED BY SOURCE or ``update_cols`` is set, the table
tracks row lineage, or a key is a float. The probe stays in Spark (step
2 or its probe-skip) when the candidates exceed ``_TARGET_FILE_BYTES``
or ``_INPROCESS_MAX_ROWS`` rows; the rewrite alone falls back to Spark
when the touched files exceed ``_TARGET_FILE_BYTES`` or their rows plus
the inserts exceed ``_INPROCESS_MAX_ROWS``. A ``match_condition`` keeps its
Spark SQL semantics on the driver path: Spark evaluates it over the
matched (t, s) pairs as a local relation, which runs no job. A Spark
MERGE does not cache its source; ``apply_batch`` persists a micro-batch
whose plan it does not estimate within the gate.

This is exactly Iceberg's copy-on-write MERGE; the alternative
merge-on-read (delete files) is traded away for read speed, matching the
reference's compaction-threshold choice (README.md:307).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import lake_table, metrics
from .lake_table import CommitConflict, LakeTable, Predicate, _key_codes

# rough parquet bytes per (row, column) for write-size hints; only the
# order of magnitude matters (see LakeTable._write_files size_hint_bytes)
_EST_ROW_BYTES_PER_COL = 24

# when the pruned MERGE candidates total no more than this, rewrite them
# all instead of running the touched-file probe scan (one target file's
# worth — the rewrite then costs at most what the probe alone would)
_PROBE_SKIP_BYTES = 128 * 1024 * 1024


class MergeSourceNotUnique(Exception):
    """Iceberg parity: MERGE throws when two source rows match one target row."""


def _replan_once(merge):
    """Lost-race re-plan (the COW commit removes files, so commit-level
    retry is forbidden — see LakeTable.commit): the merge is a pure
    function of (source batch, current table state), so on a
    CommitConflict the WHOLE merge re-plans once against the new head
    — re-probe touched files, re-rewrite — which is exactly what a
    streaming micro-batch or a writer racing a compaction needs. The
    first attempt's orphaned data files are unreferenced and reaped by
    snapshot expiry. Every argument is passed unchanged: column
    evolution is idempotent (the evolve loop skips columns that already
    exist), and dropping it would lose new source columns when the
    conflict raced the add-column commits."""

    @functools.wraps(merge)
    def run(*args, **kwargs):
        try:
            return merge(*args, **kwargs)
        except CommitConflict:
            return merge(*args, **kwargs)

    return run


@_replan_once
def merge_into(
    table: LakeTable,
    source: DataFrame,
    on: list[str] | None = None,
    op_col: str | None = None,
    delete_value: str = "delete",
    assume_unique: bool = False,
    extra_summary: dict | None = None,
    evolve_schema: bool = False,
    match_condition: str | None = None,
    update_cols: list[str] | None = None,
    condition_gates_delete: bool = False,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_update: dict[str, str] | None = None,
) -> int:
    """MERGE ``source`` into ``table`` by key columns ``on``.

    ``op_col``: optional source column holding insert/update/delete; when
    None every source row is an upsert. Extra source columns beyond the
    table schema (e.g. CDC metadata) are ignored on write — unless
    ``evolve_schema=True``, which first ADD-COLUMNs them to the table
    (metadata-only commit, Iceberg ``mergeSchema`` semantics: existing
    rows read back NULL) and WIDENs table columns the source carries at
    a strictly wider type (int->bigint etc., Iceberg type promotion —
    an upstream ALTER COLUMN applies losslessly) so source DDL
    propagated through CDC applies without operator intervention
    (reference: DMS forwards source DDL on the task stream).

    ``assume_unique``: skips the duplicate-key check on both paths, so
    a duplicate source key is then the caller's error.

    ``match_condition``: SQL boolean over aliases ``t`` (target row) and
    ``s`` (source row) gating the WHEN MATCHED THEN UPDATE branch — a
    matched row failing it keeps its target values (Iceberg
    ``WHEN MATCHED AND <cond> THEN UPDATE`` parity). Deletes are NOT
    gated unless ``condition_gates_delete=True`` (the newer-than-current
    guard for out-of-order CDC batches applies to deletes too: a stale
    delete must not remove a newer row image).
    ``update_cols``: update only these non-key columns on match
    (``UPDATE SET col = s.col, ...`` instead of ``SET *``); unlisted
    columns keep target values. Not-matched inserts always take the full
    source row. Returns the committed snapshot version.

    ``not_matched_by_source_delete``: Spark 4 / Delta ``WHEN NOT MATCHED
    BY SOURCE THEN DELETE`` — target rows whose key has no source row
    are deleted, converging the table to exactly the source snapshot
    (full-snapshot sync). Any file may hold such a row, so EVERY
    candidate file is rewritten (the touched-file probe is skipped —
    this mode is inherently table-volume COW, which is the honest cost
    of snapshot sync on any engine).

    ``not_matched_by_source_update``: Spark 4 / Delta ``WHEN NOT
    MATCHED BY SOURCE THEN UPDATE SET col = <expr>, ...`` — assignments
    (SQL expressions over the target alias ``t``) applied to target
    rows whose key has no source row: the standard stale-flagging /
    tombstone-marking move of a full-snapshot sync that must KEEP
    history rows. Key columns cannot be assigned. Same full-rewrite
    cost shape as the delete variant (any file may hold an unmatched
    row). Mutually exclusive with ``not_matched_by_source_delete`` —
    a row cannot both vanish and be updated.
    """
    if not_matched_by_source_update and not_matched_by_source_delete:
        raise ValueError(
            "not_matched_by_source_update and not_matched_by_source_delete "
            "are mutually exclusive: an unmatched target row cannot both "
            "be deleted and updated"
        )
    if not_matched_by_source_update:
        tbl_cols = {f.name for f in table.schema.fields}
        if evolve_schema:
            # validate against the POST-evolution schema: a column the
            # same call is about to ADD from the source is a legal
            # assignment target
            tbl_cols |= {
                f.name for f in source.schema.fields if f.name != (op_col or "")
            }
        bad = [c for c in not_matched_by_source_update if c not in tbl_cols]
        if bad:
            raise ValueError(f"not_matched_by_source_update targets unknown columns: {bad}")
        key_cols = set(on or table.keys)
        bad = [c for c in not_matched_by_source_update if c in key_cols]
        if bad:
            raise ValueError(f"not_matched_by_source_update cannot assign key columns: {bad}")
    spark = source.sparkSession
    keys = on or table.keys
    if not keys:
        raise ValueError("merge_into requires key columns (table.keys or on=)")
    if evolve_schema:
        existing = {f.name: f.dataType for f in table.schema.fields}
        for f in source.schema.fields:
            if f.name == op_col:
                continue
            cur_t = existing.get(f.name)
            if cur_t is None:
                table.add_column(f.name, f.dataType)
            elif cur_t.simpleString() != f.dataType.simpleString():
                # a WIDER source column promotes the table column first
                # (metadata-only, Iceberg type-promotion semantics) so
                # e.g. an upstream int->bigint ALTER propagated through
                # CDC applies losslessly; a NARROWER source still casts
                # up to the table type in the rewrite (lossless).
                # INCOMPATIBLE drift (e.g. int -> string) must FAIL
                # here: the blanket except used to swallow it and the
                # rewrite's cast then silently NULLed every unparseable
                # value in matched rows (review round 12).
                try:
                    table.widen_column(f.name, f.dataType)
                except ValueError:
                    src_s = f.dataType.simpleString()
                    tbl_s = cur_t.simpleString()
                    base = (src_s.split("(")[0], tbl_s.split("(")[0])
                    if not (
                        base in table._WIDENINGS or base[0] == base[1]
                    ):
                        raise ValueError(
                            f"merge_into(evolve_schema=True): source "
                            f"column {f.name!r} is {src_s} but the "
                            f"table stores {tbl_s} — neither direction "
                            "is a lossless widening, and casting would "
                            "silently NULL unparseable values. Evolve "
                            "the table explicitly or fix the upstream "
                            "type."
                        ) from None
                    # source narrower than (or decimal-compatible with)
                    # the table type: the rewrite's cast up is lossless
    schema = table.schema
    data_cols = [f.name for f in schema.fields]
    if update_cols is not None:
        # a misspelled column must raise, not silently no-op the update
        # of the column the caller meant
        unknown = [c for c in update_cols if c not in data_cols]
        if unknown:
            raise ValueError(f"update_cols not in table schema: {unknown}")

    needed = keys + ([op_col] if op_col else [])
    src = source.select(*dict.fromkeys(data_cols + [c for c in needed if c not in data_cols]))

    nmbs = not_matched_by_source_delete or bool(not_matched_by_source_update)
    gates_delete = condition_gates_delete and bool(match_condition)

    # ---- 0. a small source is collected once and merged on the driver --
    arrow = (
        None
        if update_cols is not None or nmbs
        else _collect_source(table, src, schema, keys, op_col, delete_value)
    )

    # ---- 1. one source pass: row count, dup check, key range for pruning --
    # min/max stats ignore NULLs, so a source carrying a NULL range key
    # must disable stats pruning (a null-key target file would otherwise
    # be skipped and the null-safe rewrite never sees its row — duplicate
    # insert)
    range_key = _rangeable_key(src, keys)
    lo = hi = null_rk = None
    if arrow is not None:
        src_rows = arrow.num_rows
        if not assume_unique and len(np.unique(_key_codes(arrow, keys))) < src_rows:
            _raise_not_unique(keys)
        if range_key:
            col = arrow.column(range_key)
            lo_hi = pc.min_max(col)
            lo, hi, null_rk = lo_hi["min"].as_py(), lo_hi["max"].as_py(), col.null_count > 0
    else:
        # assume_unique needs no groupBy shuffle; aliased count, never
        # .count(): a key column literally named "count" made the max/sum
        # references ambiguous
        rows = src if assume_unique else src.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cnt"))
        cnt = F.lit(1) if assume_unique else F.col("__cnt")
        aggs = [F.max(cnt).alias("__mx"), F.sum(cnt).alias("__n")]
        if range_key:
            aggs += [
                F.min(range_key).alias("__lo"),
                F.max(range_key).alias("__hi"),
                F.max(F.col(range_key).isNull()).alias("__nrk"),
            ]
        stat = rows.agg(*aggs).collect()[0].asDict()
        src_rows = stat["__n"] or 0
        if (stat["__mx"] or 0) > 1:
            _raise_not_unique(keys)
        lo, hi, null_rk = stat.get("__lo"), stat.get("__hi"), stat.get("__nrk")
    key_preds = (
        [Predicate(range_key, ">=", lo), Predicate(range_key, "<=", hi)]
        if lo is not None and not null_rk
        else []
    )

    # ---- empty-batch early exit ------------------------------------------
    # a zero-row source (idle streaming trigger) must not probe-scan the
    # table or burn a snapshot version. Exceptions: NOT MATCHED BY SOURCE
    # clauses give an empty source real semantics (sync-to-empty), and a
    # caller-provided extra_summary still needs a (metadata-only) commit.
    if src_rows == 0 and not nmbs:
        if extra_summary is None:
            return table.current_version()
        return table.commit(
            [], operation="merge", extra_summary={"matched_files": 0, **extra_summary}
        )

    # ---- 2. find touched files (manifest-stats prune + semi join) --------
    # zero candidate files after pruning (empty table, or the source key
    # range misses every file) -> skip the probe job entirely
    if nmbs:
        # a to-be-deleted/updated (not-in-source) row can live in ANY
        # file, even one outside the source key range: every file is
        # touched and the probe job is pointless
        touched_rel = sorted(
            f["path"] for f in table.manifest()["files"]
        )
        metrics.bump("merge.full_candidates")
    elif not (cand_rel := sorted(f["path"] for f in table._pruned_files(predicates=key_preds))):
        touched_rel: list[str] = []
        metrics.bump("merge.no_candidates")
    elif arrow is not None and _fits_driver(*table._manifest_volume(cand_rel)):
        # the collected source probes the candidates' key columns on
        # the driver: the exact touched set, with no job
        touched_rel = _probe_on_driver(table, arrow, keys, cand_rel)
        metrics.bump("merge.probe_driver")
    elif (
        key_preds  # real key-range pruning happened (rangeable key)
        # compared with <=, never truthiness-tested, so a ZERO-byte
        # candidate set stays on the skip path
        and table._manifest_volume(cand_rel)[0] <= _PROBE_SKIP_BYTES
    ):
        # the probe job exists to shrink the rewrite to files that truly
        # hold matching keys — but it SCANS every candidate to find out.
        # When the range-pruned candidates total less than one
        # target output file, rewriting them all outright is cheaper
        # than scanning them twice (and compacts small files for free);
        # carried-over rows of an unmatched candidate diff as non-
        # changes in the changelog. Gated on key_preds so composite-key
        # merges (no range pruning -> candidates = the whole table)
        # never degrade to a full-table rewrite. At scale the candidates
        # of a real merge exceed the byte threshold and the probe earns
        # its keep.
        touched_rel = cand_rel
        metrics.bump("merge.probe_skip_small")
    else:
        metrics.bump("merge.probe_job")
        src_keys = src.select(*keys).distinct()
        tgt = table.read(spark, predicates=key_preds, with_file_path=True)
        # NULL-SAFE probe, same as the rewrite join (SQL MERGE's
        # ON t.k <=> s.k): a plain on=keys semi-join drops a
        # null-key match, the file goes unprobed, and the source row
        # double-inserts instead of updating. <=> is still a
        # hash-joinable equi-condition — same plan shape.
        probe = F.broadcast(src_keys).select(
            *[F.col(k).alias(f"__p_{k}") for k in keys]
        )
        cond = [
            F.col(k).eqNullSafe(F.col(f"__p_{k}")) for k in keys
        ]
        files = table._file_map(tgt, table.manifest())
        touched_rel = sorted({
            files[r["_file"]]["path"]
            for r in tgt.join(probe, on=cond, how="left_semi")
            .select("_file")
            .distinct()
            .collect()
        })

    # rough in-parquet volume of the source rows (adds to the rewrite's
    # file-count hint; order-of-magnitude is all the hint needs)
    src_bytes = src_rows * _EST_ROW_BYTES_PER_COL * len(data_cols)
    summary = {"matched_files": len(touched_rel), **(extra_summary or {})}

    # ---- 3. fast path: nothing matched -> append the non-delete rows -----
    if not touched_rel:
        if arrow is not None:
            metrics.bump("merge.inprocess")
            inserts = arrow.filter(pc.invert(arrow.column("__del"))).select(data_cols)
            added = table._write_files(
                inserts, size_hint_bytes=src_bytes, max_rows=src_rows, spark=spark
            )
        else:
            inserts = src.filter(~_is_delete(op_col, delete_value)).select(*data_cols)
            added = table._write_files(
                inserts, size_hint_bytes=src_bytes, max_rows=src_rows
            )
        return table.commit(added, operation="merge", extra_summary=summary)

    # ---- 4a. small rewrite on the driver ----------------------------------
    if arrow is not None:
        version = _rewrite_on_driver(
            table, spark, arrow, keys, data_cols, touched_rel,
            match_condition, gates_delete, src_bytes, summary,
        )
        if version is not None:
            return version

    # ---- 4b. rewrite touched files via full-outer join --------------------
    # the touched files' live rows (delete-aware: pending merge-on-read
    # deletes are not resurrected) are aliased t, the source s
    new = src.withColumn("__src", F.lit(1)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]

    src_present = F.col("s.__src").isNotNull()
    tgt_present = F.col("t.__tgt").isNotNull()
    src_is_delete = _is_delete(op_col, delete_value, "s.")
    # WHEN MATCHED [AND cond] THEN UPDATE: a matched row failing the
    # condition keeps its target values; inserts (no target row) always
    # take the source row in full
    upd_gate = F.expr(match_condition) if match_condition else F.lit(True)
    if gates_delete:
        # a stale delete (condition false vs the current row) is a no-op
        keep = ~(
            src_present
            & src_is_delete
            & (~tgt_present | F.coalesce(upd_gate, F.lit(False)))
        )
    else:
        keep = ~(src_present & src_is_delete)
    if not_matched_by_source_delete:
        # WHEN NOT MATCHED BY SOURCE THEN DELETE: a target row with no
        # source counterpart does not survive the rewrite
        keep = keep & ~(tgt_present & ~src_present)
    takes_update = src_present & (~tgt_present | upd_gate)

    nmbs_upd = not_matched_by_source_update or {}
    out_cols = []
    for f in schema.fields:
        if f.name in keys:
            c = F.coalesce(F.col(f"t.{f.name}"), F.col(f"s.{f.name}"))
        elif update_cols is not None and f.name not in update_cols:
            # partial-column UPDATE SET: unlisted columns keep target
            # values on match, but still fill from source on insert
            c = F.when(tgt_present, F.col(f"t.{f.name}")).otherwise(
                F.col(f"s.{f.name}")
            )
        else:
            c = F.when(takes_update, F.col(f"s.{f.name}")).otherwise(
                F.col(f"t.{f.name}")
            )
        if f.name in nmbs_upd:
            # WHEN NOT MATCHED BY SOURCE THEN UPDATE SET <col> = <expr>:
            # expressions reference the target alias (t.<col>) and apply
            # only to target rows with no source counterpart
            c = F.when(
                tgt_present & ~src_present, F.expr(nmbs_upd[f.name])
            ).otherwise(c)
        out_cols.append(c.cast(f.dataType).alias(f.name))
    if table.row_lineage:
        # carried/updated rows keep their lineage id; source-inserted
        # rows write NULL and lazily derive a fresh id from the new
        # file's first_row_id block (Iceberg v3 row-lineage semantics)
        out_cols.append(F.col("t._row_id").cast("long").alias("_row_id"))

    # rewrite volume = the touched files' manifest bytes plus the
    # source's insert contribution (estimated); the full outer join
    # emits each touched row at most once and each source row at most
    # once unmatched, so their rows bound the output
    return table._rewrite_files(
        spark, touched_rel,
        lambda old: old.withColumn("__tgt", F.lit(1)).alias("t")
        .join(new, on=cond, how="full_outer")
        .filter(keep)
        .select(*out_cols),
        extra_bytes=src_bytes,
        extra_rows=src_rows,
        operation="merge",
        extra_summary=summary,
    )


def _is_delete(op_col: str | None, delete_value: str, prefix: str = ""):
    """The source row's delete flag. A NULL op value (malformed CDC
    metadata) reads as "not a delete", never as three-valued NULL: an
    un-coalesced NULL gate silently dropped the row from the fast-path
    insert filter AND deleted the matched target row in the rewrite's
    keep predicate, where SQL MERGE's WHEN MATCHED AND op='delete'
    clause simply does not fire on a NULL op (review round 10)."""
    if not op_col:
        return F.lit(False)
    return F.coalesce(F.col(f"{prefix}{op_col}") == F.lit(delete_value), F.lit(False))


def _raise_not_unique(keys: list[str]) -> None:
    raise MergeSourceNotUnique(
        f"MERGE source has duplicate keys on {keys}; run latest-per-key "
        "dedup (cdc_apply.collapse_latest_per_key) first"
    )


def _collect_source(
    table: LakeTable, src: DataFrame, schema: T.StructType, keys: list[str],
    op_col: str | None, delete_value: str,
) -> pa.Table | None:
    """The source cast to the table's types in Spark (Spark's cast rules
    hold), plus its op column when that is no table column and the
    ``__del`` flag, collected once to Arrow by ``_small_output``'s
    bounded collect. None, and no job, when the MERGE stays in Spark: a
    row-lineage table (the pyarrow read attaches no ``_row_id``), a key
    outside the table or of a float type (pyarrow does not match
    -0.0/NaN as Spark's join does), and every case ``_small_output``
    refuses (a type or codec off its whitelist, more than
    ``_INPROCESS_MAX_ROWS`` rows)."""
    types = {f.name: f.dataType for f in schema.fields}
    if table.row_lineage or not all(
        k in types and not isinstance(types[k], (T.FloatType, T.DoubleType))
        for k in keys
    ):
        return None
    frame = src.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields],
        *([F.col(op_col)] if op_col and op_col not in types else []),
        _is_delete(op_col, delete_value).alias("__del"),
    )
    small = lake_table._small_output(frame, table.cluster_by, None, None)
    return None if small is None else small[0]


def _fits_driver(n_bytes: int, n_rows: int) -> bool:
    """Whether files of ``n_bytes`` and ``n_rows`` may be probed or
    rewritten on the driver: the in-process writer's gate."""
    return n_bytes <= lake_table._TARGET_FILE_BYTES and n_rows <= lake_table._INPROCESS_MAX_ROWS


def _probe_on_driver(
    table: LakeTable, arrow: pa.Table, keys: list[str], cand_rel: list[str]
) -> list[str]:
    """The candidate files holding a key of the collected source: only
    their key columns are read, with pyarrow, and matched null-safe.
    Runs no job."""
    key_schema = pa.schema([arrow.schema.field(k).with_nullable(True) for k in keys])
    parts = table._read_arrow(cand_rel, key_schema)
    codes = _key_codes(pa.concat_tables([arrow.select(keys).cast(key_schema), *parts]), keys)
    hit = np.isin(codes[arrow.num_rows:], codes[: arrow.num_rows])
    bounds = np.cumsum([0, *(p.num_rows for p in parts)])
    return [rel for rel, lo, hi in zip(cand_rel, bounds, bounds[1:]) if hit[lo:hi].any()]


def _rewrite_on_driver(
    table: LakeTable, spark, arrow: pa.Table, keys: list[str],
    data_cols: list[str], touched_rel: list[str], match_condition: str | None,
    gates_delete: bool, src_bytes: int, summary: dict,
) -> int | None:
    """Step 4 with pyarrow: the touched files are read in-process, their
    rows whose key the source holds are replaced or deleted as the
    Spark rewrite's full outer join would, and the result is written by
    ``_write_files`` in one commit that removes the touched files.
    None, before anything is written, when the rewrite must run in
    Spark: the touched files exceed ``_TARGET_FILE_BYTES``, their rows
    plus the source's non-delete rows exceed ``_INPROCESS_MAX_ROWS``,
    or a source key matches several target rows."""
    touched_bytes, touched_rows = table._manifest_volume(touched_rel)
    is_del = arrow.column("__del").to_numpy(zero_copy_only=False)
    max_rows = touched_rows + int((~is_del).sum())
    if not _fits_driver(touched_bytes, max_rows):
        return None
    out_schema = pa.schema([arrow.schema.field(c).with_nullable(True) for c in data_cols])
    src = arrow.select(data_cols).cast(out_schema)
    tgt = pa.concat_tables(table._read_arrow(touched_rel, out_schema))
    codes = _key_codes(pa.concat_tables([src.select(keys), tgt.select(keys)]), keys)
    # the source row each target row matches (null: none)
    pos = pc.index_in(pa.array(codes[src.num_rows:]), value_set=pa.array(codes[: src.num_rows]))
    matched = pos.is_valid().to_numpy(zero_copy_only=False)
    m_src = pos.drop_null().to_numpy(zero_copy_only=False)
    if len(np.unique(m_src)) < len(m_src):
        return None
    # WHEN MATCHED [AND cond]: a pair failing the condition keeps its
    # target row, and a delete is gated only under gates_delete
    applies = (
        np.ones(len(m_src), dtype=bool) if not (match_condition and len(m_src))
        else _condition_on_driver(
            spark, match_condition, tgt.filter(pa.array(matched)), arrow.take(m_src)
        )
    )
    keep_tgt = ~matched
    keep_tgt[matched] = ~(applies | (is_del[m_src] & (not gates_delete)))
    take_src = ~is_del
    take_src[m_src] &= applies
    added = table._write_files(
        pa.concat_tables([tgt.filter(pa.array(keep_tgt)), src.filter(pa.array(take_src))]),
        size_hint_bytes=touched_bytes + src_bytes, max_rows=max_rows, spark=spark,
    )
    metrics.bump("merge.inprocess")
    return table.commit(
        added, removed_paths=touched_rel, operation="merge", extra_summary=summary
    )


def _condition_on_driver(spark, condition: str, t: pa.Table, s: pa.Table) -> np.ndarray:
    """``coalesce(condition, false)`` for each matched (``t``, ``s``)
    row pair. Spark evaluates the SQL, so its semantics are Spark's;
    the pairs form a local relation, and collecting a projection of one
    runs no job. Every field is made nullable: Spark's Arrow conversion
    refuses a struct child declared NOT NULL."""
    def struct(tbl: pa.Table):
        return tbl.cast(pa.schema([f.with_nullable(True) for f in tbl.schema])).to_struct_array()

    pairs = pa.table({"t": struct(t), "s": struct(s.drop_columns(["__del"]))})
    rows = spark.createDataFrame(pairs).select(
        F.coalesce(F.expr(condition), F.lit(False))
    ).collect()
    return np.array([r[0] for r in rows], dtype=bool)


def _rangeable_key(src: DataFrame, keys: list[str]) -> str | None:
    """The single orderable key whose min/max buys manifest file skipping
    on the target (None when keys are composite or unordered). The
    min/max itself comes from merge_into's one source pass."""
    if len(keys) != 1:
        return None
    k = keys[0]
    dt = dict(src.dtypes).get(k)
    if dt not in ("int", "bigint", "smallint", "tinyint", "date", "timestamp", "string"):
        return None
    return k
