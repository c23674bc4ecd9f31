"""CDC apply — D1–D5 of SURVEY.md §2.3: typed rows, latest-per-key
collapse, MERGE into the transactional table.

Reference semantics (Firehose Iceberg destination,
cdk_stacks/firehose_to_iceberg.py:109-116 + runbook README.md:400-460):
insert/update are full-after-image upserts by ``unique_keys``, delete
removes the row, a delete for a never-seen key is a silent no-op, and a
replayed batch converges to the same state (idempotency under the 3
Lambda retries, firehose_to_iceberg.py:52-54).

D4 (latest-per-key collapse) is a *correctness precondition*: a 60 s
buffer can hold several ops for one key (firehose_to_iceberg.py:100-103)
and MERGE requires unique source keys. Ordering is
(``metadata.timestamp`` µs, ``metadata.transaction-id``) — the fields
the envelopes carry (firehose_to_iceberg_transformer.py:65,71).
``try_to_timestamp`` tolerates the corpus's deliberately corrupt hour-29
timestamp (gen_fake_cdc_data.py:58): an unparseable timestamp sorts
last (stalest) but the record still applies — pinned in tests per
SURVEY.md §7.3 item 1.

Scale: the window for D4 shuffles one micro-batch (small); the MERGE is
file-pruned copy-on-write (see plans/merge.py) so cost is bounded by
touched files, not table size. Every table takes this one MERGE commit,
whatever its ``write.delete.mode``: a separate position-delete commit
would point at the very file the MERGE then rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans import lake_table
from ..plans.lake_table import LakeTable, append_once
from ..plans.merge import merge_into
from ..schemas import CDC_DATA_RETAIL


def typed_rows(good: DataFrame) -> DataFrame:
    """Parse the pass-through ``data`` JSON into the retail_trans row
    image + ordering metadata. The row's ``trans_datetime`` ISO-'Z'
    string (transformer:62) is cast to timestamp; metadata timestamp is
    parsed leniently for D4 ordering."""
    return good.select(
        F.from_json("data", CDC_DATA_RETAIL).alias("d"),
        "operation",
        F.try_to_timestamp(F.col("metadata.timestamp")).alias("_order_ts"),
        F.col("metadata.`transaction-id`").alias("_order_txn"),
    ).select(
        F.col("d.trans_id").alias("trans_id"),
        F.col("d.customer_id").alias("customer_id"),
        F.col("d.event").alias("event"),
        F.col("d.sku").alias("sku"),
        F.col("d.amount").alias("amount"),
        F.col("d.device").alias("device"),
        F.try_to_timestamp(F.col("d.trans_datetime")).alias("trans_datetime"),
        "operation",
        "_order_ts",
        "_order_txn",
    )


def collapse_latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str] = ("_order_ts", "_order_txn"),
) -> DataFrame:
    """D4 — keep the newest record per key within a micro-batch.

    ``ROW_NUMBER() OVER (PARTITION BY keys ORDER BY ts DESC NULLS LAST,
    txn DESC NULLS LAST) = 1``. Deterministic: nulls (corrupt
    timestamps) lose to any parseable timestamp; transaction-id breaks
    ties (per-key order is guaranteed upstream only within a partition
    key — gen_fake_cdc_data.py:76). Two records sharing BOTH order
    columns (one transaction stamping several ops with the same ts and
    txn-id) fall to a content-hash tiebreak: arbitrary but STABLE, so
    a replayed batch collapses to the same winner every time — the
    idempotent-replay contract needs determinism, not a correct order
    the transport never provided.

    Measured and kept as a WINDOW (round 17): a max_by(struct(row),
    struct(order_cols, content)) aggregate is semantically identical
    (null-edge fuzz verified — struct comparison ranks a NULL field
    smallest, exactly desc_nulls_last's loser) and gets map-side partial
    aggregation, but interleaved A/B through the full cdc_retail_replay
    spec measured neutral-to-worse (best 1.849 window vs 1.938 max_by;
    means 2.19 vs 2.13/2.52 across two sessions): a micro-batch is
    bounded by the delivery buffer (128 MB / 60 s), so the collapse is
    never corpus-scale and the spec wall is commit machinery, not this
    exchange. Do not re-apply without a fixture where one batch's
    per-key fan-in is large enough for the partial aggregate to win."""
    content = F.xxhash64(*[F.col(c) for c in df.columns])
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols], content.desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_batch(
    table: LakeTable,
    typed: DataFrame,
    keys: list[str] | None = None,
    extra_summary: dict | None = None,
    dead_letter_table: LakeTable | None = None,
    dl_stamp: tuple[str, int] | None = None,
) -> int:
    """D1–D5: collapse then MERGE upserts and deletes in ONE commit, on
    every table whatever its delete mode; returns the committed snapshot
    version.

    ``dead_letter_table``: under the cross-batch stale guard, a record
    with NO ordering evidence at all (both ``_order_ts`` and
    ``_order_txn`` failed to parse) can be proven neither fresh nor
    stale. With a dead-letter table those rows land there
    (``error_type='no-ordering-evidence'`` — the reference's S3
    error-prefix move, firehose_to_iceberg.py:97) instead of being
    applied or dropped on a guess; without one they APPLY (the module's
    corrupt-timestamp contract is fail-open, and a silent drop hides
    data loss).

    ``dl_stamp``: optional ``(app_id, batch_id)`` exactly-once scope for
    the dl append (the streaming pipeline passes a ``#noev``-suffixed
    per-pipeline key), handed to ``lake_table.append_once``: a replayed
    batch at or below the scope's watermark appends nothing — without
    the stamp a crash-restart cycle re-appended the rows once PER
    replay (review round 12).

    ``extra_summary`` lands inside the atomic manifest commit — the
    streaming pipeline passes its ``batch_stamp`` so the watermark
    commits with the data (a post-commit rewrite of the manifest would
    break the exclusive-create immutability contract and could corrupt
    the current snapshot on crash).

    Rows whose unique key is NULL (a ``data`` payload that parsed as JSON
    but carries no key — e.g. a foreign table's row) are dropped before
    the MERGE: with a null-safe join they would otherwise upsert a
    single garbage null-key row. The managed reference would fail such a
    delivery into the S3 error prefix; key-less rows are this engine's
    equivalent of an unroutable record."""
    keys = keys or table.keys
    key_ok = F.lit(True)
    for k in keys:
        key_ok = key_ok & F.col(k).isNotNull()
    # A batch the plan estimates within merge_into's in-process gate is
    # not persisted: the driver path reads it once (one Arrow collect),
    # and a cache would cost a separate cache-materializing job. Any
    # other batch (estimate over the gate, or none) is persisted as the
    # standard foreachBatch pattern: the dead-letter check and the Spark
    # MERGE (fused stats, touched-file probe, rewrite) each read it, and
    # without a cache each would re-parse the payload and re-run the
    # collapse window. A micro-batch is bounded by the delivery buffer
    # (reference: 128 MB / 60 s), so this is never a table-volume cache.
    batch = collapse_latest_per_key(typed.filter(key_ok), keys)
    estimate = lake_table._plan_estimate(batch)
    cached = estimate is None or estimate[1] > lake_table._INPROCESS_MAX_ROWS
    if cached:
        batch.persist()
    try:
        latest = batch

        # Cross-batch out-of-order guard (SURVEY §7.3 hard part 1): when
        # the table persists the CDC ordering metadata (_order_ts/
        # _order_txn columns in its schema), every matched apply —
        # update AND delete — is gated on newer-than-current, so a
        # late-arriving older batch (a replayed shard, a slow partition)
        # cannot clobber or resurrect newer row images. Tables without
        # the columns keep the plain apply (per-key transport ordering
        # is the reference's own guarantee).
        table_cols = {f.name for f in table.schema.fields}
        stale_guard = {"_order_ts", "_order_txn"} <= table_cols

        # No-ordering-evidence route (round-11 advice): both order
        # columns NULL means the guard cannot rank this record against
        # the current row image — neither apply-on-a-guess nor a silent
        # drop is honest. Route the residue to the dead-letter table
        # when one is wired (common case: zero rows, no write).
        no_evidence = F.col("_order_ts").isNull() & F.col("_order_txn").isNull()
        if stale_guard and dead_letter_table is not None:
            no_ev = latest.filter(no_evidence)
            if not no_ev.isEmpty():
                from .cdc_transform import to_dead_letter

                dead_rows = no_ev.select(
                    F.to_json(F.struct(*no_ev.columns)).alias("raw"),
                    F.lit("no-ordering-evidence").alias("error_type"),
                )
                append_once(
                    dead_letter_table, to_dead_letter(dead_rows), dl_stamp
                )
                latest = latest.filter(~no_evidence)

        return merge_into(
            table,
            latest if stale_guard else latest.drop("_order_ts", "_order_txn"),
            on=keys,
            op_col="operation",
            assume_unique=True,  # D4 just guaranteed it
            extra_summary=extra_summary,
            match_condition=(
                # Corrupt-timestamp source (s._order_ts IS NULL): still
                # APPLIES unless the monotonic txn id proves it stale —
                # an unconditional NULL apply was fail-open for exactly
                # the records most likely to appear in replays (a
                # replayed older batch whose timestamps failed to parse
                # would clobber newer row images; round-10 advice),
                # while an un-guarded NULL gate silently dropped fresh
                # corrupt-ts updates (round-10 review). A NULL source
                # txn id is NO evidence of staleness — such records
                # apply (or were already routed to the dead-letter table
                # above); the old coalesce(s,0) >= t form silently
                # dropped them whenever the target carried any txn id
                # (round-11 advice).
                # EITHER side's ts unparseable: the txn id is the only
                # ranking evidence — apply unless it PROVES staleness
                # (a bare `t._order_ts IS NULL` disjunct let an older
                # corrupt-ts record clobber a newer corrupt-ts row image
                # whenever the target's ts was NULL; review round 12)
                "((s._order_ts IS NULL OR t._order_ts IS NULL) AND "
                "(s._order_txn IS NULL OR "
                "s._order_txn >= coalesce(t._order_txn, 0))) OR "
                "s._order_ts > t._order_ts OR "
                "(s._order_ts = t._order_ts AND "
                "coalesce(s._order_txn, 0) > coalesce(t._order_txn, 0))"
                if stale_guard
                else None
            ),
            condition_gates_delete=stale_guard,
        )
    finally:
        if cached:
            batch.unpersist()


def apply_routed(
    tables: dict[str, LakeTable],
    good: DataFrame,
    typed_fn=None,
    dead_letter_table: LakeTable | None = None,
) -> dict[str, int]:
    """S7 routed apply: split one transformed micro-batch by its
    ``destination_table`` annotation and MERGE each slice into its own
    table — exactly what the Firehose Iceberg destination does with
    per-record ``otfMetadata`` (firehose_to_iceberg.py:109-116;
    ``destination_table_configuration_list``).

    ``tables``: destination_table name -> LakeTable.
    ``dead_letter_table``: where slices for UNKNOWN destinations land
    (error_type ``unroutable-destination`` — the managed service's
    delivery-failure error prefix). Without one, unknown destinations
    are counted in the planner metrics (``cdc.unrouted_rows``), never
    silently invisible. Returns {table: version}.
    """
    from ..plans import metrics

    typed_fn = typed_fn or typed_rows
    # groupBy-count, not distinct: same single shuffle, and the per-
    # destination row counts make unrouted slices observable for free
    good = good.persist()  # read once per destination, not re-transformed
    try:
        dest_counts = {
            r["destination_table"]: r["n"]
            for r in good.groupBy("destination_table")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        versions: dict[str, int] = {}
        unrouted = 0
        for dest, n in sorted(dest_counts.items(), key=lambda kv: str(kv[0])):
            if dest not in tables:
                unrouted += n
                if dead_letter_table is not None:
                    from .cdc_transform import to_dead_letter

                    slice_df = good.filter(
                        F.col("destination_table").eqNullSafe(F.lit(dest))
                    )
                    dead = slice_df.select(
                        F.to_json(F.struct(*slice_df.columns)).alias("raw"),
                        F.lit("unroutable-destination").alias("error_type"),
                    )
                    dead_letter_table.append(to_dead_letter(dead))
                continue
            slice_df = good.filter(F.col("destination_table") == dest)
            versions[dest] = apply_batch(
                tables[dest],
                typed_fn(slice_df),
                dead_letter_table=dead_letter_table,
            )
        if unrouted:
            metrics.bump("cdc.unrouted_rows", unrouted)
        return versions
    finally:
        good.unpersist()
