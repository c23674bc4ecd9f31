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

1. A semi-join of target×source-keys — with the source side broadcast,
   since a CDC micro-batch is small — identifies the *files* containing
   matched keys via the ``_metadata.file_path`` virtual column. Manifest
   stats have already pruned candidate files by key range.
2. Only those files are rewritten: their rows are full-outer-joined with
   the source (shuffle bounded by touched-file volume, not table volume).
3. Untouched files carry over into the new snapshot by reference.

This is exactly Iceberg's copy-on-write MERGE; the alternative
merge-on-read (delete files) is traded away for read speed, matching the
reference's compaction-threshold choice (README.md:307).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import metrics
from .lake_table import LakeTable, Predicate

# rough parquet bytes per (row, column) for write-size hints; only the
# order of magnitude matters (see LakeTable._write_files size_hint_bytes)
_EST_ROW_BYTES_PER_COL = 24

# when the pruned MERGE candidates total no more than this, rewrite them
# all instead of running the touched-file probe scan (one target file's
# worth — the rewrite then costs at most what the probe alone would)
_PROBE_SKIP_BYTES = 128 * 1024 * 1024


class MergeSourceNotUnique(Exception):
    """Iceberg parity: MERGE throws when two source rows match one target row."""


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
            # assignment target (review round 12)
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
    # Lost-race re-plan (the COW commit removes files, so commit-level
    # retry is forbidden — see LakeTable.commit): the merge is a pure
    # function of (source batch, current table state), so on a
    # CommitConflict the WHOLE merge re-plans once against the new head
    # — re-probe touched files, re-rewrite — which is exactly what a
    # streaming micro-batch or a writer racing a compaction needs. The
    # first attempt's orphaned data files are unreferenced and reaped by
    # snapshot expiry.
    from .lake_table import CommitConflict

    # evolve_schema is passed through unchanged on the re-plan: column
    # evolution is idempotent (the evolve loop skips columns that
    # already exist), and hardcoding False would silently drop new
    # source columns when the conflict raced the add-column commits
    for attempt in range(2):
        try:
            return _merge_into_cow(
                table, source, on, op_col, delete_value, assume_unique,
                extra_summary, evolve_schema, match_condition, update_cols,
                condition_gates_delete, not_matched_by_source_delete,
                not_matched_by_source_update,
            )
        except CommitConflict:
            if attempt:
                raise


def _merge_into_cow(
    table: LakeTable,
    source: DataFrame,
    on: list[str] | None,
    op_col: str | None,
    delete_value: str,
    assume_unique: bool,
    extra_summary: dict | None,
    evolve_schema: bool,
    match_condition: str | None,
    update_cols: list[str] | None,
    condition_gates_delete: bool,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_update: dict[str, str] | None = None,
) -> int:
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

    # ---- 1. one source pass: dup check + key range for manifest pruning --
    # (previously two separate jobs per merge; a streaming micro-batch
    # pays this on every trigger, so the fused aggregate halves the
    # source-side job count)
    key_preds: list[Predicate] = []
    range_key = _rangeable_key(src, keys)
    src_rows: int | None = None  # rides the fused agg; sizes the write
    # NULL-key flag rides the same fused aggregate: min/max stats ignore
    # NULLs, so a source batch carrying a NULL range key must disable
    # stats pruning (a null-key target file would otherwise be skipped
    # and the null-safe rewrite never sees its row — duplicate insert)
    null_rk = (
        F.max(F.when(F.col(range_key).isNull(), 1).otherwise(0)).alias("__nrk")
        if range_key
        else None
    )
    src_obs = None
    if assume_unique:
        # dedup already guaranteed (D4): plain min/max agg, no groupBy
        # shuffle. Composite/unordered keys have no fused stats aggregate
        # to ride, and the old dedicated isEmpty() probe was one extra
        # driver-sequential job per merge (3x per scd2 build, review
        # round 16 verdict). The row count now rides an Observation on
        # whichever job consumes the source first — the touched-file
        # probe, or the no-candidates fast-path write — and the
        # empty-batch exit below moves to those sites intact: an empty
        # broadcast side AQE-eliminates the probe's table scan, so an
        # idle streaming trigger still never pays a full-table probe
        # scan or burns a snapshot (guide §2.4: fewer jobs).
        if not range_key:
            from pyspark.sql import Observation

            stats = [{"__lo": None}]
            src_obs = Observation()
            src = src.observe(src_obs, F.count(F.lit(1)).alias("__n"))
        else:
            stats = src.agg(
                F.min(range_key).alias("__lo"),
                F.max(range_key).alias("__hi"),
                F.count(F.lit(1)).alias("__n"),
                null_rk,
            ).collect()
            src_rows = stats[0]["__n"]
    else:
        # aliased count, never .count(): a key column literally named
        # "count" made the downstream max/sum references ambiguous
        # (review round 12)
        aggs = [F.max("__cnt").alias("__mx"), F.sum("__cnt").alias("__n")]
        if range_key:
            aggs += [
                F.min(range_key).alias("__lo"),
                F.max(range_key).alias("__hi"),
                null_rk,
            ]
        stats = (
            src.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .agg(*aggs)
            .collect()
        )
        src_rows = stats[0]["__n"] or 0
        if stats[0]["__mx"] is not None and stats[0]["__mx"] > 1:
            raise MergeSourceNotUnique(
                f"MERGE source has duplicate keys on {keys}; run latest-per-key "
                "dedup (cdc_apply.collapse_latest_per_key) first"
            )
    stat0 = stats[0].asDict() if hasattr(stats[0], "asDict") else stats[0]
    if (
        range_key
        and stat0["__lo"] is not None
        and not stat0.get("__nrk")
    ):
        key_preds = [
            Predicate(range_key, ">=", stat0["__lo"]),
            Predicate(range_key, "<=", stat0["__hi"]),
        ]

    # ---- empty-batch early exit ------------------------------------------
    # a zero-row source (idle streaming trigger) must not probe-scan the
    # table or burn a snapshot version. Exceptions: NOT MATCHED BY SOURCE
    # clauses give an empty source real semantics (sync-to-empty), and a
    # caller-provided extra_summary still needs a (metadata-only) commit.
    if (
        src_rows == 0
        and not not_matched_by_source_delete
        and not not_matched_by_source_update
    ):
        return _empty_source_exit(table, extra_summary)

    # NULL op value (malformed CDC metadata) must read as "not a
    # delete", never as three-valued NULL: an un-coalesced NULL gate
    # silently dropped the row from the fast-path insert filter AND
    # deleted the matched target row in the rewrite's keep predicate,
    # where SQL MERGE's WHEN MATCHED AND op='delete' clause simply does
    # not fire on a NULL op (review round 10)
    is_delete = (
        F.coalesce(F.col(op_col) == F.lit(delete_value), F.lit(False))
        if op_col
        else F.lit(False)
    )

    # ---- 2. find touched files (manifest-stats prune + semi join) --------
    # zero candidate files after pruning (empty table, or the source key
    # range misses every file) -> skip the probe job entirely
    if not_matched_by_source_delete or not_matched_by_source_update:
        # a to-be-deleted/updated (not-in-source) row can live in ANY
        # file, even one outside the source key range: every file is
        # touched and the probe job is pointless
        touched_rel = sorted(
            f["path"] for f in table.manifest()["files"]
        )
        metrics.bump("merge.full_candidates")
    elif not (cand_paths := table.file_paths(predicates=key_preds)):
        touched_rel: list[str] = []
        metrics.bump("merge.no_candidates")
    elif (
        key_preds  # real key-range pruning happened (rangeable key)
        and src_rows  # known NON-EMPTY source (an empty batch must not rewrite)
        # compared with <=, never truthiness-tested, so a ZERO-byte
        # candidate set stays on the skip path
        and table._manifest_bytes_of(
            cand_rel := sorted(table._relpath(p) for p in cand_paths)
        ) <= _PROBE_SKIP_BYTES
    ):
        # the probe job exists to shrink the rewrite to files that truly
        # hold matching keys — but it SCANS every candidate to find out.
        # When the range-pruned candidates total less than one
        # target output file, rewriting them all outright is cheaper
        # than scanning them twice (and compacts small files for free);
        # carried-over rows of an unmatched candidate diff as non-
        # changes in the changelog. Gated on key_preds so composite-key
        # merges (no range pruning -> candidates = the whole table)
        # never degrade to a full-table rewrite, and on a known
        # non-empty source. At scale the candidates of a real merge
        # exceed the byte threshold and the probe earns its keep.
        touched_rel = cand_rel
        metrics.bump("merge.probe_skip_small")
    else:
        metrics.bump("merge.probe_job")
        src_keys = src.select(*keys).distinct()
        tgt = table.read(spark, predicates=key_preds, with_file_path=True)
        # NULL-SAFE probe, same as the rewrite join (SQL MERGE's
        # ON t.k <=> s.k): a plain on=keys semi-join drops a
        # null-key match, the file goes unprobed, and the source row
        # double-inserts instead of updating (review round 10). <=> is
        # still a hash-joinable equi-condition — same plan shape.
        probe = F.broadcast(src_keys).select(
            *[F.col(k).alias(f"__p_{k}") for k in keys]
        )
        cond = [
            F.col(k).eqNullSafe(F.col(f"__p_{k}")) for k in keys
        ]
        touched = [
            r["_file"]
            for r in tgt.join(probe, on=cond, how="left_semi")
            .select("_file")
            .distinct()
            .collect()
        ]
        touched_rel = sorted({table._relpath(p) for p in touched if p})
        if src_obs is not None:
            # the probe consumed the observed source: harvest the row
            # count (NMBS modes never reach this branch, so an empty
            # source means the empty-batch exit the upfront isEmpty()
            # used to provide — and src_rows now also sizes the rewrite
            # shuffle for composite-key merges, which the old path left
            # unhinted)
            src_rows = _observed_rows(src_obs, src)
            if src_rows == 0:
                return _empty_source_exit(table, extra_summary)

    # rough in-parquet volume of the source rows (adds to the rewrite's
    # file-count hint; order-of-magnitude is all the hint needs)
    src_bytes = (
        src_rows * _EST_ROW_BYTES_PER_COL * len(data_cols)
        if src_rows is not None
        else None
    )

    # ---- 3. fast path: nothing matched -> append the non-delete rows -----
    if not touched_rel:
        inserts = src.filter(~is_delete).select(*data_cols)
        added = table._write_files(
            inserts, size_hint_bytes=src_bytes, max_rows=src_rows
        )
        if src_obs is not None and src_rows is None:
            # probe skipped (no candidate files, e.g. a brand-new table):
            # the write just consumed the observed source, so the count
            # is free now — preserve the empty-batch contract (an idle
            # trigger must not burn a snapshot version). NMBS modes give
            # an empty source real semantics and must still commit.
            src_rows = _observed_rows(src_obs, src)
            if (
                src_rows == 0
                and not added
                and extra_summary is None
                and not not_matched_by_source_delete
                and not not_matched_by_source_update
            ):
                return table.current_version()
        return table.commit(
            added,
            operation="merge",
            extra_summary={"matched_files": 0, **(extra_summary or {})},
        )

    # ---- 4. rewrite touched files via full-outer join --------------------
    # the touched files' live rows (delete-aware: pending merge-on-read
    # deletes are not resurrected) are aliased t, the source s
    new = src.withColumn("__src", F.lit(1)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]

    src_present = F.col("s.__src").isNotNull()
    tgt_present = F.col("t.__tgt").isNotNull()
    # coalesce: NULL op = not a delete (see is_delete above); an
    # un-coalesced NULL here nulled the keep predicate and the filter
    # DELETED the matched target row
    src_is_delete = (
        F.coalesce(F.col(f"s.{op_col}") == F.lit(delete_value), F.lit(False))
        if op_col
        else F.lit(False)
    )
    # WHEN MATCHED [AND cond] THEN UPDATE: a matched row failing the
    # condition keeps its target values; inserts (no target row) always
    # take the source row in full
    upd_gate = F.expr(match_condition) if match_condition else F.lit(True)
    if condition_gates_delete and match_condition:
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
        extra_bytes=src_bytes or 0,
        extra_rows=src_rows,
        operation="merge",
        extra_summary={"matched_files": len(touched_rel), **(extra_summary or {})},
    )


def _empty_source_exit(table: LakeTable, extra_summary: dict | None) -> int:
    """The MERGE of an empty source: no snapshot, unless the caller's
    ``extra_summary`` still needs its (metadata-only) commit."""
    if extra_summary is None:
        return table.current_version()
    return table.commit(
        [], operation="merge",
        extra_summary={"matched_files": 0, **extra_summary},
    )


def _observed_rows(obs, src: DataFrame) -> int | None:
    """Row count from a merge-source Observation after an action has
    consumed the observed plan. A statically-empty source (an empty
    LocalRelation) lets PropagateEmptyRelation eliminate the
    CollectMetrics node before execution, so the metric row never
    materializes and ``get`` raises — fall back to the direct probe,
    which is near-free on exactly that corner (no scan to run). Any
    other failure returns None = unknown, which every caller treats as
    "do not take the empty-batch exit" (fail-safe: a merge is never
    skipped on a source that might hold rows)."""
    try:
        return int(obs.get["__n"] or 0)
    except Exception:
        try:
            return 0 if src.isEmpty() else None
        except Exception:
            return None


def _rangeable_key(src: DataFrame, keys: list[str]) -> str | None:
    """The single orderable key whose min/max buys manifest file skipping
    on the target (None when keys are composite or unordered). The
    min/max itself rides along in merge_into's fused source aggregate."""
    if len(keys) != 1:
        return None
    k = keys[0]
    dt = dict(src.dtypes).get(k)
    if dt not in ("int", "bigint", "smallint", "tinyint", "date", "timestamp", "string"):
        return None
    return k
