"""CDC pipeline as a declared, oracle-checked query.

The Spark side replays the golden corpora (FIXTURES.md §A3) through the
full transform→collapse→MERGE pipeline into a fresh LakeTable and
returns the final table. The oracle is an independent pure-Python
reference apply (a ~15-line dict upsert) rendered as a VALUES relation —
so the whole transactional path is value-hash checked, not just
row-counted."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators.cdc_apply import apply_batch, typed_rows
from ..operators.cdc_transform import transform
from ..operators.materialize import materialize
from ..plans.lake_table import LakeTable
from ..schemas import (
    DEAD_LETTER,
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)
from ..sources.cdc_jsonl import golden_corpora, read_cdc_batch, write_golden_corpus
from .base import QuerySpec, scratch_dir

_DB, _TBL = "cdc_iceberg_demo_db", "retail_trans_iceberg"


def _reference_apply() -> list[dict]:
    """Independent reference semantics: sequential key-based upsert/delete
    over the ordered corpora (the Lambda/Firehose apply contract)."""
    state: dict[int, dict] = {}
    insert_only, dml = golden_corpora()
    for env in insert_only + dml:
        op = env["metadata"]["operation"]
        row = env["data"]
        k = row["trans_id"]
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = row
    return [state[k] for k in sorted(state)]


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _oracle_values() -> str:
    rows = []
    for r in _reference_apply():
        ts = r["trans_datetime"].replace("T", " ").rstrip("Z")
        rows.append(
            f"({r['trans_id']}, {_sql_str(r['customer_id'])}, {_sql_str(r['event'])}, "
            f"{_sql_str(r['sku'])}, {r['amount']}, {_sql_str(r['device'])}, TIMESTAMP '{ts}')"
        )
    values = ",\n".join(rows)
    return f"""
SELECT CAST(trans_id AS INTEGER) AS trans_id,
       customer_id, event, sku,
       CAST(amount AS INTEGER) AS amount,
       device, trans_datetime
FROM (VALUES
{values}
) t(trans_id, customer_id, event, sku, amount, device, trans_datetime)
ORDER BY trans_id
"""


def _replay_build(spark, sf):
    workdir = scratch_dir("cdc_replay_")
    p1, p2 = write_golden_corpus(os.path.join(workdir, "in"))
    table = LakeTable.create(
        os.path.join(workdir, "retail"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    for p in (p1, p2):
        good, _dead = transform(read_cdc_batch(spark, p), _DB, _TBL)
        apply_batch(table, typed_rows(good))
    return table.read(spark).orderBy("trans_id")


def _incremental_mv_build(spark, sf):
    """Materialized-view maintenance driven by the changelog: after each
    CDC commit the per-event aggregate is updated from the commit's
    row-level change stream (INSERT/UPDATE_AFTER add, DELETE/
    UPDATE_BEFORE subtract) — the downstream-consumer pattern the
    CDC-OUT half exists for. At 100 TB the delta aggregation shuffles
    changed-file rows only (changelog contract) and the view update is a
    keyed outer join on the view's (small) group domain — table volume
    is never re-scanned."""
    workdir = scratch_dir("mv_")
    p1, p2 = write_golden_corpus(os.path.join(workdir, "in"))
    table = LakeTable.create(
        os.path.join(workdir, "retail"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    mv = None
    for p in (p1, p2):
        v0 = table.current_version()
        good, _dead = transform(read_cdc_batch(spark, p), _DB, _TBL)
        apply_batch(table, typed_rows(good))
        delta = (
            table.changelog(spark, v0, table.current_version())
            .withColumn(
                "__sign",
                F.when(
                    F.col("_change_type").isin("INSERT", "UPDATE_AFTER"), F.lit(1)
                ).otherwise(F.lit(-1)),
            )
            .groupBy("event")
            .agg(
                F.sum("__sign").alias("__dn"),
                F.sum(F.col("__sign") * F.col("amount")).alias("__damount"),
            )
        )
        if mv is None:
            mv = delta.select(
                "event",
                F.col("__dn").alias("n_rows"),
                F.col("__damount").alias("sum_amount"),
            )
        else:
            mv = mv.join(delta, "event", "full_outer").select(
                "event",
                (F.coalesce("n_rows", F.lit(0)) + F.coalesce("__dn", F.lit(0))).alias(
                    "n_rows"
                ),
                (
                    F.coalesce("sum_amount", F.lit(0))
                    + F.coalesce("__damount", F.lit(0))
                ).alias("sum_amount"),
            )
        # groups whose rows all vanished leave the view
        # truncate_required: the loop nests the previous snapshot's
        # plan into the next full_outer otherwise
        mv = materialize(
            mv.filter(F.col("n_rows") > 0), truncate_required=True
        )
    return mv.select(
        "event",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_amount").cast("bigint").alias("sum_amount"),
    ).orderBy("event")


def _mv_oracle() -> str:
    """The maintained view must equal the aggregate over the final table
    state (independent pure-Python reference apply)."""
    agg: dict[str, list[int]] = {}
    for r in _reference_apply():
        a = agg.setdefault(r["event"], [0, 0])
        a[0] += 1
        a[1] += r["amount"]
    rows = ",\n".join(
        f"({_sql_str(e)}, {n}, {s})" for e, (n, s) in sorted(agg.items())
    )
    return f"""
SELECT event, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(sum_amount AS BIGINT) AS sum_amount
FROM (VALUES
{rows}
) t(event, n_rows, sum_amount)
ORDER BY event
"""


def _streaming_pipeline_build(spark, sf):
    """The full Structured Streaming path — readStream(JSONL) →
    foreachBatch(transform → dead-letter → latest-per-key → MERGE) with
    checkpointing — replayed to completion with availableNow. Both
    corpora arrive in ONE delivery buffer, so the intra-batch
    latest-per-key collapse (D4) must converge the 23-envelope history
    to the same 12 live rows the sequential batch replay produces
    (Firehose contract: a buffer holding a key's whole history applies
    cleanly, firehose_to_iceberg.py:100-116)."""
    from ..streaming.pipeline import CdcStreamPipeline

    workdir = scratch_dir("scdc_")
    in_dir = os.path.join(workdir, "in")
    write_golden_corpus(in_dir)
    table = LakeTable.create(
        os.path.join(workdir, "retail"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    # the reference ALWAYS has an error prefix (firehose_to_iceberg.py:
    # 97,118) — a dead-letter table is the spec default, not an option
    dl = LakeTable.create(os.path.join(workdir, "dead_letter"), DEAD_LETTER)
    q = CdcStreamPipeline(table, _DB, _TBL, dead_letter_table=dl).start(
        spark,
        in_dir,
        os.path.join(workdir, "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    return table.read(spark).orderBy("trans_id")


def _pydatasource_build(spark, sf):
    """The golden corpus consumed through the REGISTERED custom Python
    data source (one partition per corpus), then the full transform →
    latest-per-key → MERGE path in one batch — the transport is
    swappable without touching the pipeline."""
    from ..sources.py_datasource import CdcEnvelopeDataSource

    # re-registering is a documented no-op overwrite in PySpark 4 (no
    # already-exists error), so a failure here is a genuine import/API
    # problem and must propagate — a swallowed one would resurface as a
    # confusing format('cdc_envelopes') load error (round-4 advice)
    spark.dataSource.register(CdcEnvelopeDataSource)
    raw = spark.read.format("cdc_envelopes").load()
    table = LakeTable.create(
        os.path.join(scratch_dir("pyds_"), "retail"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    good, _dead = transform(raw, _DB, _TBL)
    apply_batch(table, typed_rows(good))
    return table.read(spark).orderBy("trans_id")


SPECS = [
    QuerySpec(
        name="cdc_retail_replay",
        doc="Full transactional path: golden CDC corpora -> transform "
            "(T1-T7) -> latest-per-key (D4) -> copy-on-write MERGE "
            "(D1-D3) -> final table state, vs an independent pure-Python "
            "reference apply (12 live rows, README.md:400-460).",
        tags=("cdc", "headline"),
        build=_replay_build,
        oracle=_oracle_values,
    ),
    QuerySpec(
        name="pydatasource_cdc_ingest",
        doc="Custom Python Data Source (Spark 4 pyspark.sql.datasource): "
            "the CDC envelope transport as a registered pluggable source "
            "(format('cdc_envelopes'), one partition per corpus) feeding "
            "the unchanged transform -> collapse -> MERGE pipeline; the "
            "single batch must converge to the reference's 12 live rows.",
        tags=("cdc", "source"),
        build=_pydatasource_build,
        oracle=_oracle_values,
    ),
    QuerySpec(
        name="streaming_cdc_pipeline",
        doc="The streaming half of the flagship path driver-checked: "
            "readStream over the golden JSONL corpora -> foreachBatch "
            "(transform, dead-letter split, latest-per-key collapse, "
            "MERGE with atomic batch-id watermark) -> final table state, "
            "vs the independent pure-Python reference apply.",
        tags=("cdc", "streaming"),
        build=_streaming_pipeline_build,
        oracle=_oracle_values,
    ),
    QuerySpec(
        name="incremental_mv_maintenance",
        doc="Changelog-driven incremental materialized-view maintenance: "
            "a per-event aggregate updated from each commit's change "
            "stream (never re-scanning the table) must equal the "
            "aggregate over the final replayed state.",
        tags=("cdc", "changelog", "mv"),
        build=_incremental_mv_build,
        oracle=_mv_oracle,
    ),
]
