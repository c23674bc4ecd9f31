"""Opportunistic real-Iceberg backend.

The reference's tables are genuine Apache Iceberg (S3 + Glue,
cdk_stacks/firehose_to_iceberg.py:109-116; README.md:292-309
``table_type='iceberg'``). This repo's ``LakeTable`` is an offline,
API-compatible stand-in because the Iceberg Spark runtime jar cannot be
fetched in the build sandbox (SURVEY.md §7.1 step-1 fallback).

This module is the slot the real thing drops into: when
``org.apache.iceberg.spark.SparkCatalog`` is loadable in the session JVM
(jar on the classpath, e.g. via ``spark.jars.packages`` on a real
cluster), ``IcebergTable`` exposes the same surface the CDC pipeline
uses — create/append/read/time-travel/delete/update and a SQL ``MERGE
INTO`` — against a hadoop catalog, so ``tests/test_iceberg_backend.py``
runs the golden CDC replay on BOTH backends (and skips the Iceberg half
cleanly when the jar is absent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .lake_table import merge_watermarks

CATALOG = "lakehouse"


# Promotions REAL Iceberg's `ALTER COLUMN ... TYPE` accepts (the spec's
# schema-evolution rules): int -> long, float -> double, decimal
# precision increase at equal scale — and nothing else. Deliberately
# NARROWER than LakeTable._WIDENINGS, which also allows Spark/parquet-
# reader promotions (int -> double, tinyint -> anything) that the
# native backend would reject at execution time: generating an ALTER
# Iceberg throws on would fail the whole MERGE, whereas generating
# nothing falls back to the documented path (the MERGE's store-
# assignment cast handles a non-widenable source type). The sweep test
# pins that this set is a strict SUBSET of the LakeTable set, so every
# ALTER the SQL path emits is also a widening the offline backend
# performs — drift is only possible in the safe direction.
_ICEBERG_WIDENINGS = frozenset(
    {("int", "bigint"), ("float", "double"), ("decimal", "decimal")}
)


def _sql_str_literal(s: str) -> str:
    """Escape a value for embedding in a Spark SQL single-quoted string
    literal. Backslashes FIRST: Spark's parser treats ``\\`` as an
    escape, so a json.dumps-escaped value (an app_id containing a quote
    or backslash) would otherwise be consumed and the stored
    ``stream_sink_txn`` ledger would no longer round-trip json.loads —
    the read path then silently fell back to hwm=-1, degrading replay
    protection for that app (round-11 advice)."""
    return str(s).replace("\\", "\\\\").replace("'", "''")


def _is_widening(old_s: str, new_s: str) -> bool:
    """True iff real Iceberg accepts ``ALTER COLUMN ... TYPE old -> new``.
    Decimal widens only on a precision increase at equal scale."""
    base = (old_s.split("(")[0], new_s.split("(")[0])
    if base not in _ICEBERG_WIDENINGS:
        return False
    if base == ("decimal", "decimal"):
        try:
            op = [int(x) for x in old_s.split("(")[1].rstrip(")").split(",")]
            np = [int(x) for x in new_s.split("(")[1].rstrip(")").split(",")]
        except (IndexError, ValueError):
            return False
        return np[1] == op[1] and np[0] >= op[0]
    return True


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on this session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def configure_catalog(spark: SparkSession, warehouse: str, name: str = CATALOG) -> None:
    """Register a hadoop (filesystem) Iceberg catalog on the session —
    the local-test analogue of the reference's Glue catalog."""
    spark.conf.set(f"spark.sql.catalog.{name}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)


class IcebergTable:
    """The LakeTable call surface, backed by a real Iceberg table.

    Methods intentionally mirror ``LakeTable`` (same names/shapes for
    everything the CDC apply path and the runbook SQL touch) so the two
    backends are drop-in interchangeable in tests and pipelines.
    """

    def __init__(self, spark: SparkSession, identifier: str, keys: list[str]):
        self.spark = spark
        self.identifier = identifier  # catalog.db.table
        self._keys = list(keys)

    # -- creation ------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        identifier: str,
        schema: T.StructType,
        keys: list[str] | None = None,
        cluster_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "IcebergTable":
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        part = f" PARTITIONED BY ({', '.join(cluster_by)})" if cluster_by else ""
        props = dict(properties or {})
        # reference table properties, README.md:301-308
        props.setdefault("format-version", "2")
        props.setdefault("write.parquet.compression-codec", "snappy")
        tblprops = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        db = identifier.rsplit(".", 1)[0]
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE {identifier} ({cols}) USING iceberg{part}"
            f" TBLPROPERTIES ({tblprops})"
        )
        return cls(spark, identifier, keys or [])

    # -- LakeTable surface --------------------------------------------
    @property
    def keys(self) -> list[str]:
        return list(self._keys)

    @property
    def schema(self) -> T.StructType:
        return self.spark.table(self.identifier).schema

    def manifest(self) -> dict:
        """Minimal manifest shim (properties + summary) for callers that
        branch on table properties (e.g. write.delete.mode).

        The streaming exactly-once ledger is persisted as a TABLE
        PROPERTY on this backend (``sql_merge`` stamps it after the
        MERGE), so it is surfaced into ``summary`` here, JSON-decoded,
        where ``lake_table.batch_watermark`` reads it (review round 11 —
        without it the watermark read -1 forever and checkpoint replays
        re-applied stale batches on the native backend)."""
        import json as _json

        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect()
        }
        snaps = self.snapshots()
        summary = dict(snaps[-1].get("summary", {})) if snaps else {}
        if "stream_sink_txn" in props:
            try:
                summary.setdefault(
                    "stream_sink_txn", _json.loads(props["stream_sink_txn"])
                )
            except (ValueError, TypeError):
                pass  # unreadable ledger property: no watermark
        return {
            "version": snaps[-1]["version"] if snaps else 0,
            "properties": props,
            "summary": summary,
        }

    def append(self, df: DataFrame) -> int:
        df.writeTo(self.identifier).append()
        return self.current_version()

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        if version is None:
            return spark.table(self.identifier)
        return spark.sql(f"SELECT * FROM {self.identifier} VERSION AS OF {version}")

    def row_count(self) -> int:
        return self.spark.table(self.identifier).count()

    def current_version(self) -> int:
        snaps = self.snapshots()
        return snaps[-1]["version"] if snaps else 0

    def snapshots(self) -> list[dict]:
        # snapshot_id tie-break (review round 11): committed_at has
        # millisecond granularity, so two commits in one millisecond
        # made current_version()/manifest() flip between calls —
        # arbitrary-but-deterministic beats nondeterministic for a
        # value callers record for time travel
        rows = self.spark.sql(
            f"SELECT snapshot_id, operation, summary FROM {self.identifier}.snapshots"
            " ORDER BY committed_at, snapshot_id"
        ).collect()
        return [
            {"version": r["snapshot_id"], "operation": r["operation"], "summary": dict(r["summary"] or {})}
            for r in rows
        ]

    # -- DML -----------------------------------------------------------
    def delete_where(self, spark: SparkSession, condition: str, **_kw) -> int:
        spark.sql(f"DELETE FROM {self.identifier} WHERE {condition}")
        return self.current_version()

    def update_where(self, spark: SparkSession, condition: str, assignments: dict[str, str], **_kw) -> int:
        sets = ", ".join(f"{c} = {expr}" for c, expr in assignments.items())
        spark.sql(f"UPDATE {self.identifier} SET {sets} WHERE {condition}")
        return self.current_version()

    @property
    def _SRC_VIEW(self) -> str:
        return f"__merge_src_{abs(hash(self.identifier)) % 10**8}"

    def evolve_sql(
        self,
        source_fields: list[tuple[str, str]],
        op_col: str | None = None,
        evolve_ignore: tuple[str, ...] = (),
        current_fields: list[tuple[str, str]] | None = None,
    ) -> list[str]:
        """Generate the ALTER statements ``evolve_schema=True`` runs
        before the MERGE — the SQL-path mirror of the LakeTable evolve
        loop (plans/merge.py): source columns absent from the table are
        ADDed in one batched ``ADD COLUMNS`` (existing rows read back
        NULL, Iceberg mergeSchema semantics); a source column at a
        strictly WIDER type promotes the table column via ``ALTER
        COLUMN ... TYPE`` (Iceberg type promotion, metadata-only); a
        narrower or non-widenable source type generates nothing — the
        MERGE's store-assignment cast handles it, exactly as the COW
        rewrite's cast does. Transport columns (``op_col`` +
        ``evolve_ignore``) never become table columns.

        Pure string assembly over ``(name, simpleString-type)`` pairs —
        pass ``current_fields`` explicitly to pin the generated
        statements jar-free (tests/test_iceberg_backend.py), same
        pattern as ``merge_sql``'s ``data_cols``."""
        if current_fields is None:
            current_fields = [
                (f.name, f.dataType.simpleString()) for f in self.schema.fields
            ]
        existing = dict(current_fields)
        skip = set(evolve_ignore) | ({op_col} if op_col else set())
        adds: list[str] = []
        widens: list[str] = []
        for name, stype in source_fields:
            if name in skip:
                continue
            cur = existing.get(name)
            if cur is None:
                adds.append(f"`{name}` {stype}")
            elif cur != stype and _is_widening(cur, stype):
                widens.append(
                    f"ALTER TABLE {self.identifier} "
                    f"ALTER COLUMN `{name}` TYPE {stype}"
                )
        stmts: list[str] = []
        if adds:
            stmts.append(
                f"ALTER TABLE {self.identifier} ADD COLUMNS ({', '.join(adds)})"
            )
        stmts.extend(widens)
        return stmts

    def merge_sql(
        self,
        on: list[str] | None = None,
        op_col: str | None = None,
        delete_value: str = "delete",
        match_condition: str | None = None,
        update_cols: list[str] | None = None,
        condition_gates_delete: bool = False,
        data_cols: list[str] | None = None,
        not_matched_by_source_delete: bool = False,
        not_matched_by_source_update: dict[str, str] | None = None,
    ) -> str:
        """Assemble the MERGE INTO statement ``sql_merge`` executes.

        Pure string assembly — ``data_cols`` may be passed explicitly so
        the statement shape is assertable without the Iceberg jar on the
        classpath (tests/test_iceberg_backend.py pins the generated SQL
        for every option combination jar-free)."""
        keys = on or self._keys
        if not keys:
            raise ValueError("sql_merge requires key columns (table.keys or on=)")
        # backtick-quote every identifier (review round 11): create()/
        # evolve_sql() already quote, so a column legal on the DDL path
        # (reserved word, dash) must not break the generated MERGE
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        cols = list(data_cols) if data_cols is not None else [
            f.name for f in self.schema.fields
        ]
        # `is None`, never truthiness: update_cols=[] means "update NO
        # columns" (insert-only merge) and the COW backend honors it —
        # the falsy check silently expanded [] to ALL columns, clobbering
        # matched rows on this backend only (review round 12)
        upd_cols = cols if update_cols is None else list(update_cols)
        unknown = [c for c in upd_cols if c not in cols]
        if unknown:
            raise ValueError(f"update_cols not in table schema: {unknown}")
        set_clause = ", ".join(f"t.`{c}` = s.`{c}`" for c in upd_cols)
        ins_cols = ", ".join(f"`{c}`" for c in cols)
        ins_vals = ", ".join(f"s.`{c}`" for c in cols)
        gate = f" AND ({match_condition})" if match_condition else ""
        delete_gate = gate if condition_gates_delete else ""
        # delete_value is a VALUE, not trusted SQL: escape it like
        # _stamp_properties escapes property literals, or a quoted
        # value breaks (or injects into) the generated MERGE
        # (review round 12)
        dv = _sql_str_literal(delete_value)
        opq = op_col.replace("`", "``") if op_col else op_col  # identifier-quote
        delete_clause = (
            f"WHEN MATCHED AND s.`{opq}` = '{dv}'{delete_gate} THEN DELETE "
            if op_col
            else ""
        )
        # null-safe inequality (review round 11): a NULL op (malformed
        # CDC metadata) is "not a delete" on every path — plain <> made
        # the NOT MATCHED clause skip NULL-op rows under three-valued
        # logic, silently losing inserts the COW backend performs
        insert_guard = (
            f" AND NOT (s.`{opq}` <=> '{dv}')" if op_col else ""
        )
        if not_matched_by_source_update and not_matched_by_source_delete:
            raise ValueError(
                "not_matched_by_source_update and not_matched_by_source_"
                "delete are mutually exclusive"
            )
        # Spark 4 native clauses: full-snapshot sync deletes target rows
        # absent from the source, or stale-flags them via UPDATE SET
        if not_matched_by_source_delete:
            nmbs = " WHEN NOT MATCHED BY SOURCE THEN DELETE"
        elif not_matched_by_source_update:
            unknown = [c for c in not_matched_by_source_update if c not in cols]
            if unknown:
                raise ValueError(
                    f"not_matched_by_source_update targets unknown columns: {unknown}"
                )
            in_keys = [c for c in not_matched_by_source_update if c in keys]
            if in_keys:
                raise ValueError(
                    f"not_matched_by_source_update cannot assign key columns: {in_keys}"
                )
            assigns = ", ".join(
                f"t.`{c}` = {e}"
                for c, e in sorted(not_matched_by_source_update.items())
            )
            nmbs = f" WHEN NOT MATCHED BY SOURCE THEN UPDATE SET {assigns}"
        else:
            nmbs = ""
        # update_cols=[]: insert-only merge — OMIT the matched-update
        # clause (an empty SET list is invalid SQL; matched rows stay
        # untouched, exactly the COW backend's behavior)
        update_clause = (
            f"WHEN MATCHED{gate} THEN UPDATE SET {set_clause} "
            if upd_cols
            else ""
        )
        return (
            f"MERGE INTO {self.identifier} t USING {self._SRC_VIEW} s ON {cond} "
            + delete_clause
            + update_clause
            + f"WHEN NOT MATCHED{insert_guard} THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
            + nmbs
        )

    def sql_merge(
        self,
        source: DataFrame,
        on: list[str] | None = None,
        op_col: str | None = None,
        delete_value: str = "delete",
        extra_summary: dict | None = None,
        match_condition: str | None = None,
        update_cols: list[str] | None = None,
        condition_gates_delete: bool = False,
        not_matched_by_source_delete: bool = False,
        not_matched_by_source_update: dict[str, str] | None = None,
        evolve_schema: bool = False,
        evolve_ignore: tuple[str, ...] = (),
    ) -> int:
        """Native MERGE INTO — what the Firehose Iceberg destination does
        per delivery (routed upsert/delete by unique key). ``merge_into``
        dispatches here when the target is an IcebergTable.

        ``extra_summary`` (the streaming ledger's ``batch_stamp``)
        is persisted as TABLE PROPERTIES immediately after the MERGE —
        previously it was silently dropped, leaving the pipeline's
        replay guard inert on this backend (a checkpoint-replayed batch
        would re-apply stale after-images over newer data). The stamp is
        a second statement, so there is a one-batch crash window between
        MERGE and stamp; a replay inside that window re-merges ONE batch
        whose source rows are unchanged (latest-per-key collapse makes
        the merge deterministic), never an older one — the guard is
        monotone. A production tightening would attach the watermark to
        the commit itself via Iceberg's CommitMetadata snapshot
        properties (JVM API); the table-property stamp keeps the surface
        pure-SQL.

        ``match_condition`` / ``update_cols`` / ``condition_gates_delete``
        carry the same semantics as ``merge_into`` (LakeTable backend):
        the condition gates the UPDATE branch (and, when
        ``condition_gates_delete``, the op-col DELETE branch — the
        out-of-order CDC stale guard), and ``update_cols`` narrows
        UPDATE SET to the listed columns. Previously these were silently
        dropped here, turning a gated partial MERGE into an
        unconditional full-column upsert on the native backend.

        ``evolve_schema`` (CDC schema drift): generated ``ALTER TABLE
        ... ADD COLUMNS`` / ``ALTER COLUMN ... TYPE`` statements run
        BEFORE the MERGE (``evolve_sql``), so new/widened source
        columns land exactly as on the LakeTable backend. The ALTERs
        are separate metadata commits — idempotent to replay (re-adding
        an existing column can't happen: the generator diffs against
        the live schema each call), matching Iceberg's own
        schema-update-then-write sequencing."""
        if evolve_schema:
            for stmt in self.evolve_sql(
                [(f.name, f.dataType.simpleString()) for f in source.schema.fields],
                op_col=op_col,
                evolve_ignore=evolve_ignore,
            ):
                self.spark.sql(stmt)
        sql = self.merge_sql(
            on=on,
            op_col=op_col,
            delete_value=delete_value,
            match_condition=match_condition,
            update_cols=update_cols,
            condition_gates_delete=condition_gates_delete,
            not_matched_by_source_delete=not_matched_by_source_delete,
            not_matched_by_source_update=not_matched_by_source_update,
        )
        # finally: a raising MERGE must not leak the source view into the
        # session — a later merge would silently reuse the stale
        # registration until the next createOrReplaceTempView
        source.createOrReplaceTempView(self._SRC_VIEW)
        try:
            self.spark.sql(sql)
        finally:
            self.spark.catalog.dropTempView(self._SRC_VIEW)
        if extra_summary:
            self._stamp_properties(extra_summary)
        return self.current_version()

    def _stamp_properties(self, extra_summary: dict) -> None:
        """Persist watermark metadata as table properties.

        Dict values (the per-app ``stream_sink_txn`` ledger) are merged
        per key against the live property (``merge_watermarks``, the
        ``_commit_once`` discipline) and JSON-encoded; naive f-string
        interpolation of a dict produced unparseable SQL whose failure
        AFTER the MERGE crashed the stream, and on restart the
        unstamped batch re-merged and crashed again — a permanent wedge
        (review round 11). All values are escaped for the SQL string
        literal."""
        import json as _json

        live: dict[str, str] | None = None
        parts = []
        for k, v in extra_summary.items():
            if isinstance(v, dict):
                if live is None:
                    live = {
                        r["key"]: r["value"]
                        for r in self.spark.sql(
                            f"SHOW TBLPROPERTIES {self.identifier}"
                        ).collect()
                    }
                head = {}
                if k in live:
                    try:
                        head = dict(_json.loads(live[k]))
                    except (ValueError, TypeError):
                        head = {}
                v = _json.dumps(merge_watermarks(head, v), sort_keys=True)
            sv = _sql_str_literal(v)
            sk = _sql_str_literal(k)
            parts.append(f"'{sk}'='{sv}'")
        self.spark.sql(
            f"ALTER TABLE {self.identifier} SET TBLPROPERTIES ({', '.join(parts)})"
        )
