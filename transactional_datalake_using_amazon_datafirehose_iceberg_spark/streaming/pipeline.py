"""Streaming CDC pipeline — the reference's Kinesis→Firehose→Iceberg path
as one Structured Streaming job (SURVEY.md §3.1 Spark mapping).

readStream(JSONL dir)  ≡ Kinesis consume (S5)
trigger(processingTime)≡ 60 s / 128 MB delivery buffer (S6,
                         firehose_to_iceberg.py:100-103)
foreachBatch:
    transform (T1-T7) -> dead-letter split (S9) ->
    latest-per-key collapse (D4) -> MERGE INTO (S7/D1-D3)

Exactly-once: Structured Streaming checkpointing gives at-least-once
foreachBatch invocations; the per-app batch watermark in the table's
snapshot summary (the ``lake_table`` streaming ledger) makes the apply
idempotent (a replayed batch is skipped), and the MERGE itself is
idempotent by key on top of that (reference analogue: 3 Firehose
retries, firehose_to_iceberg.py:52-54, must not duplicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.cdc_apply import apply_batch, typed_rows
from ..operators.cdc_transform import to_dead_letter, transform
from ..plans.lake_table import (
    DEFAULT_APP_ID,
    CommitConflict,
    LakeTable,
    append_once,
    batch_stamp,
    is_replay,
)
from ..sources.cdc_jsonl import read_cdc_stream


class CdcStreamPipeline:
    def __init__(
        self,
        table: LakeTable,
        destination_database: str,
        destination_table: str,
        dead_letter_table: LakeTable | None = None,
        app_id: str = DEFAULT_APP_ID,
    ):
        self.table = table
        self.db = destination_database
        self.tbl = destination_table
        self.dead_letter_table = dead_letter_table
        # per-app watermark scoping (the data-source sink's txnAppId
        # contract): a second pipeline or a FRESH checkpoint restarting
        # batch ids at 0 must not collide with this pipeline's watermark;
        # the sink's implicit app is the same "default" watermark
        self.app_id = app_id
        if dead_letter_table is None:
            import warnings

            warnings.warn(
                "CdcStreamPipeline without a dead_letter_table: malformed "
                "records will be dropped unobserved (the reference lands "
                "them in the S3 error prefix) — pass dead_letter_table "
                "to retain them",
                stacklevel=2,
            )

    @property
    def _dl_app_id(self) -> str:
        """Dead-letter ledger key: app_id scoped by DESTINATION table.

        Two pipelines feeding different main tables may share one
        dead_letter_table under the same (often implicit ``default``)
        app_id; the main-table fresh-checkpoint guard never fires for
        them because their main watermarks are independent. A dl
        watermark keyed by app_id alone would then silently skip dl
        appends for whichever pipeline runs at a lower batch id —
        dropping exactly the malformed records the table exists to
        retain (round-10 advice). Scoped by the main table's PHYSICAL
        identity (its root path), not the decorative (db, tbl)
        annotation strings — every call site copy-pastes ('db', 'tbl'),
        so two pipelines feeding different tables still collided under
        the string key (review round 12; re-keying costs at most one
        duplicate dl append when an old-key watermark is abandoned —
        duplicated observability rows, never lost ones)."""
        ident = getattr(self.table, "root", None) or getattr(
            self.table, "identifier", f"{self.db}.{self.tbl}"
        )
        return f"{self.app_id}@{ident}"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Skips batches at or below this app's
        watermark (``lake_table.is_replay``: idempotent under checkpoint
        replay; a far-regressed id under the implicit app raises).

        The watermark is committed ATOMICALLY with the data:
        ``apply_batch`` threads this app's ``batch_stamp`` into the
        MERGE's manifest summary inside the exclusive-create commit.
        (An earlier version re-opened and rewrote the committed manifest
        in place — a crash mid-rewrite could truncate the CURRENT
        snapshot file, exactly the window exactly-once exists to close.)
        ``LakeTable.commit`` then carries the watermark forward across
        later compaction/DML commits so the replay guard survives table
        maintenance. The dead-letter appends commit BEFORE that MERGE,
        so each stamps the dead-letter table under its own scope
        (``lake_table.append_once``) and a crash-replay never appends
        the same dead rows twice.

        The micro-batch is cached first: the dead-letter write and the
        MERGE both read it (a MERGE on the driver collects it once;
        ``apply_batch`` caches the collapsed batch for the Spark MERGE's
        passes when its plan does not estimate it within the gate), and
        without the cache each re-reads the delivery buffer (observed via
        the delivery log: numInputRows was 3x the batch size before
        caching)."""
        if is_replay(self.table.manifest()["summary"], self.app_id, batch_id):
            return
        batch_df = batch_df.cache()
        try:
            good, dead = transform(batch_df, self.db, self.tbl)
            if self.dead_letter_table is not None:
                append_once(
                    self.dead_letter_table,
                    to_dead_letter(dead),
                    (self._dl_app_id, batch_id),
                )
            apply_batch(
                self.table,
                typed_rows(good),
                extra_summary=batch_stamp(self.app_id, batch_id),
                dead_letter_table=self.dead_letter_table,
                # distinct scope from the transform-dead stamp above:
                # both routes write the same batch id, and sharing one
                # key would make whichever commits first suppress the
                # other's rows (review round 12)
                dl_stamp=(self._dl_app_id + "#noev", batch_id),
            )
            # merge-on-read upkeep: fold accumulated position-delete
            # files back into data once past the reference's
            # optimize_rewrite_delete_file_threshold (README.md:307)
            from ..plans.maintenance import (
                rewrite_delete_files,
                should_rewrite_deletes,
            )

            if should_rewrite_deletes(self.table):
                try:
                    rewrite_delete_files(batch_df.sparkSession, self.table)
                except CommitConflict:
                    # optional upkeep lost a race to a concurrent
                    # maintenance commit: skip — the threshold check
                    # re-triggers it on the next batch; killing the
                    # query for upkeep would trade availability for
                    # nothing (the batch's data already committed)
                    pass
        finally:
            batch_df.unpersist()

    def start(
        self,
        spark: SparkSession,
        input_dir: str | None,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
        max_files_per_trigger: int | None = None,
        available_now: bool = False,
        source: DataFrame | None = None,
    ) -> StreamingQuery:
        """``source`` overrides the file transport with any streaming
        DataFrame honoring the one-string-column ``value`` envelope
        contract (e.g. ``sources.cdc_jsonl.read_cdc_kafka_stream``) —
        the pipeline is transport-agnostic past this point."""
        raw = (
            source
            if source is not None
            else read_cdc_stream(spark, input_dir, max_files_per_trigger)
        )
        writer = raw.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


def _with_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to LTZ TIMESTAMP. Structured
    Streaming's withWatermark rejects TIMESTAMP_NTZ outright
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); with the session TZ pinned
    UTC (session.py) the cast preserves wall-clock values."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling- or sliding-window streaming agg with watermarked
    late-data drop (S6/S9 generalization; Kinesis 24 h retention ⇒
    bounded lateness). ``slide=None`` tumbles; ``slide`` < ``window``
    assigns each event to window/slide overlapping windows (state cost
    multiplies by that ratio — keep it small at scale)."""
    from pyspark.sql import functions as F

    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        _with_event_time(events_stream).withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )


def sessionized_event_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window streaming agg (SURVEY.md §2.5 streaming table)."""
    from pyspark.sql import functions as F

    return (
        _with_event_time(events_stream).withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def running_user_counts(events_stream: DataFrame) -> DataFrame:
    """Arbitrary-state custom operator via applyInPandasWithState
    (SURVEY.md §2.5 'arbitrary state'): a per-user running event count
    kept in the state store, emitted on every update. The engine's CDC
    apply deliberately does NOT use this (state = the table itself via
    foreachBatch+MERGE is deterministic and replayable); this exists for
    operators whose state genuinely isn't a table."""
    import pandas as pd

    def count_fn(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    return events_stream.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def interval_join_purchase_click(
    purchases_stream: DataFrame,
    clicks_stream: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition:
    each purchase matches the same user's clicks in the ``lookback``
    window ending at the purchase (attribution join). Both sides carry
    watermarks and the join condition bounds event-time distance, so the
    state store retains only ``watermark + lookback`` of either stream —
    the requirement for a stream-stream join that does not grow without
    bound (Structured Streaming's interval-join contract).

    Input streams need (user_id, event_id, ts) [+ value on purchases].
    """
    from pyspark.sql import functions as F

    p = _with_event_time(purchases_stream).withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = _with_event_time(clicks_stream).withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (p["user_id"] == c["c_user"])
        & (c["c_ts"] <= p["p_ts"])
        & (c["c_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {lookback}"))
    )
    # how="left_outer": unmatched purchases emit with NULL click once the
    # watermark finalizes them (p_ts <= global watermark = min over both
    # streams of max event time - delay); matched pairs stream out
    # immediately. Both sides watermarked + the interval bound keep the
    # join state finite either way.
    return p.join(c, cond, how).select(
        "user_id", "purchase_id", "click_id", "p_ts", "c_ts", "purchase_value"
    )


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (re-evaluated) static side, broadcast so the stream never shuffles —
    the canonical pattern for decorating an event stream with a slowly-
    changing dimension (the static side may be a LakeTable.read(), which
    re-reads the current snapshot every trigger)."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on=on, how=how)


def stateful_dedup(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup by (event_id, ts) within the watermark
    horizon (replay idempotency, D1 — transport retries replay the SAME
    event bytes, so the event time rides along unchanged).

    The event-time column MUST be part of the dedup key: Spark only
    evicts dropDuplicates state when the watermark column is among the
    keys, so dedup on event_id alone held every id ever seen in the
    state store forever — unbounded growth on an unbounded id space
    (review round 10). For close-together duplicates whose key space is
    unbounded, use :func:`stateful_dedup_within_watermark` instead."""
    return (
        _with_event_time(events_stream)
        .withWatermark("ts", watermark)
        .dropDuplicates(["event_id", "ts"])
    )


def stateful_dedup_within_watermark(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """dropDuplicatesWithinWatermark variant: dedup keys expire from the
    state store once the watermark passes their event time + delay, so
    state stays bounded WITHOUT including the event-time column in the
    dedup key — the right operator when duplicates arrive close together
    (transport retries) but the key space is unbounded over the stream's
    lifetime."""
    return (
        _with_event_time(events_stream)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
