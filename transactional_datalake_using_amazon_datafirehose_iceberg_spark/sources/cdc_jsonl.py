"""CDC JSONL source — batch and stream readers + golden corpus writer.

The reference transports CDC envelopes as JSON-lines on Kinesis
(dms_aurora_mysql_to_kinesis.py:91 ``message_format='json-unformatted'``;
gen_fake_cdc_data.py:75 one JSON object per line, partition key =
primary key :76). Kinesis is a transport, not semantics — this engine's
equivalent source is a directory of JSONL files read in batch or as a
file stream (``spark.readStream``); a Kafka source drops in unchanged.

The golden corpus reproduces the *behavior* of the reference's
hand-written test corpus (gen_fake_cdc_data.py:26-59, documented in
/root/repo/FIXTURES.md §A3): same keys, operations, amounts and
deliberate dirty entries — key 41 carries a leading-space table name,
key 47 an unparseable hour-29 metadata timestamp — with independently
generated incidental field values.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import DataFrame, SparkSession


_EVENTS = ["visit", "view", "cart", "list", "like", "purchase"]
_DEVICES = ["pc", "mobile", "tablet"]
_BASE_TXN = 12884904641


def _mk_row(rng: random.Random, trans_id: int, event: str | None = None, amount: int | None = None):
    event = event or rng.choice(_EVENTS)
    if amount is None:
        amount = rng.randint(0, 100) if event in ("cart", "purchase") else 1
    sku = (
        "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(2))
        + str(rng.randint(100, 999))
        + "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(4))
    )
    return {
        "trans_id": trans_id,
        "customer_id": "".join(rng.choice("0123456789") for _ in range(12)),
        "event": event,
        "sku": sku,
        "amount": amount,
        "device": rng.choice(_DEVICES),
        "trans_datetime": f"2023-01-16T06:{rng.randint(0,25):02d}:{rng.randint(0,59):02d}Z",
    }


def _envelope(data: dict, op: str, ts: str, txn_id: int, table_name: str = "retail_trans"):
    return {
        "data": data,
        "metadata": {
            "timestamp": ts,
            "record-type": "data",
            "operation": op,
            "partition-key-type": "primary-key",
            "schema-name": "testdb",
            "table-name": table_name,
            "transaction-id": txn_id,
        },
    }


def golden_corpora() -> tuple[list[dict], list[dict]]:
    """(insert-only corpus, DML corpus) per FIXTURES.md §A3."""
    rng = random.Random(47)
    insert_keys = [6, 19, 21, 23, 24, 27, 28, 30, 33, 35]
    rows = {k: _mk_row(rng, k) for k in insert_keys}
    insert_only = [
        _envelope(rows[k], "insert", f"2023-01-16T06:26:{10+i:02d}.{100000+i*7:06d}Z", _BASE_TXN + i * 700)
        for i, k in enumerate(insert_keys)
    ]

    dml: list[dict] = []
    txn = _BASE_TXN + 70_000
    # 5 full-after-image updates (new amounts per FIXTURES.md)
    for i, (k, amt) in enumerate([(19, 39), (21, 60), (24, 42), (30, 67), (35, 85)]):
        img = dict(rows[k])
        img["amount"] = amt
        dml.append(_envelope(img, "update", f"2023-01-16T08:05:{10+i:02d}.{200000+i*11:06d}Z", txn + i * 400))
    # 3 deletes (last row image carried, as DMS does)
    for i, k in enumerate([6, 33, 23]):
        dml.append(_envelope(dict(rows[k]), "delete", f"2023-01-16T08:11:{10+i:02d}.{300000+i*13:06d}Z", txn + 2000 + i * 350))
    # 5 inserts, two deliberately dirty (FIXTURES.md §A3 item 3)
    new_keys = [37, 38, 41, 43, 47]
    for i, k in enumerate(new_keys):
        row = _mk_row(rng, k)
        table_name = " retail_trans" if k == 41 else "retail_trans"  # leading space survives
        ts = "2023-01-16T29:10:49.737891Z" if k == 47 else f"2023-01-16T08:20:{10+i:02d}.{400000+i*17:06d}Z"
        dml.append(_envelope(row, "insert", ts, txn + 3000 + i * 12, table_name=table_name))
    return insert_only, dml


def write_routed_corpus(out_path: str,
                        tables: tuple[str, str] = ("retail_trans",
                                                   "retail_trans_eu")) -> str:
    """One mixed JSONL delivery carrying envelopes for TWO destination
    tables plus a table no destination is configured for — the
    multi-table routed-apply shape of the reference's Firehose Iceberg
    destination (destination_table_configuration_list,
    firehose_to_iceberg.py:109-116). Deterministic (seeded rng for
    incidental fields, explicit amounts; rng draws are order-dependent
    so row order is part of the fixture contract): per table with key
    offset o — 6 inserts
    (amount = 10*(k-o)), an update of o+2 to 999, a delete of o+3 —
    leaving 5 live rows summing 1159. The unknown-table envelopes must
    be ignored by routing (the managed service would dead-letter that
    delivery)."""
    rng = random.Random(7)
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    txn = _BASE_TXN + 2_000_000
    # key offsets derive from the table count — the old hardcoded
    # (0, 100) pair meant a caller passing THREE destinations got a
    # corpus silently missing the third (zip truncation, the silent-
    # drop class; review round 13). 100-key stride: the 10th table's
    # offset would reach the unroutable 900-block, so the bound is
    # derived from that block, not a free-standing constant (round-13
    # advice corrected the old "up to 16 tables" comment).
    offsets = range(0, 100 * len(tables), 100)
    if 100 * len(tables) > 900:
        raise ValueError(
            f"routed corpus supports at most 9 tables (offset 900 is the "
            f"unroutable block); got {len(tables)}"
        )
    with open(out_path, "w") as f:
        for t_i, (table, off) in enumerate(zip(tables, offsets)):
            for i in range(1, 7):
                row = _mk_row(rng, off + i, event="cart", amount=10 * i)
                f.write(json.dumps(_envelope(
                    row, "insert",
                    f"2023-01-18T06:0{t_i}:{10+i:02d}.000001Z",
                    txn + off * 10 + i, table_name=table,
                )) + "\n")
            upd = _mk_row(rng, off + 2, event="cart", amount=999)
            f.write(json.dumps(_envelope(
                upd, "update", f"2023-01-18T07:0{t_i}:01.000001Z",
                txn + off * 10 + 50, table_name=table,
            )) + "\n")
            dele = _mk_row(rng, off + 3, event="cart", amount=30)
            f.write(json.dumps(_envelope(
                dele, "delete", f"2023-01-18T07:0{t_i}:02.000001Z",
                txn + off * 10 + 60, table_name=table,
            )) + "\n")
        for i in range(2):  # unroutable destination
            row = _mk_row(rng, 900 + i, event="visit", amount=1)
            f.write(json.dumps(_envelope(
                row, "insert", f"2023-01-18T08:00:{10+i:02d}.000001Z",
                txn + 9000 + i, table_name="unknown_tbl",
            )) + "\n")
    return out_path


def control_records() -> list[dict]:
    """Non-DML records DMS can emit; the transform must drop them
    silently (T5, firehose_to_iceberg_transformer.py:29-30)."""
    return [
        {
            "data": None,
            "metadata": {
                "timestamp": "2023-01-16T06:00:00.000001Z",
                "record-type": "control",
                "operation": "create-table",
                "partition-key-type": "task-id",
                "schema-name": "testdb",
                "table-name": "retail_trans",
                "transaction-id": None,
            },
        }
    ]


def write_golden_corpus(out_dir: str) -> tuple[str, str]:
    """Materialize both corpora as JSONL files; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    insert_only, dml = golden_corpora()
    p1 = os.path.join(out_dir, "cdc_insert_only.jsonl")
    p2 = os.path.join(out_dir, "cdc_dml.jsonl")
    with open(p1, "w") as f:
        for e in insert_only:
            f.write(json.dumps(e) + "\n")
    with open(p2, "w") as f:
        for e in dml:
            f.write(json.dumps(e) + "\n")
    return p1, p2


def read_cdc_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read raw JSONL envelope lines (one string column ``value``).

    The raw line is kept so malformed records can be dead-lettered with
    their original payload (reference keeps the raw record for the S3
    error prefix, firehose_to_iceberg.py:118)."""
    return spark.read.text(path)


def read_cdc_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-stream equivalent of the Kinesis consume (S5); each discovered
    file ≈ one delivery buffer flush (S6)."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.text(path)


def read_cdc_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka transport variant of the CDC source — the production stand-in
    for the reference's Kinesis stream (cdk_stacks/kds.py:28-32; DMS
    also targets Kafka with the same JSON envelope). Emits the SAME
    one-string-column ``value`` contract as ``read_cdc_stream``, so the
    whole transform→apply pipeline is transport-agnostic: swap the
    source call, nothing downstream changes.

    Requires the spark-sql-kafka package on the classpath (absent in the
    offline sandbox — ``tests/test_cdc_pipeline.py`` contract-tests the
    frame→envelope parse path on recorded Kafka-shaped rows broker-free;
    the option-wiring here follows the stock Structured Streaming Kafka
    source API)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # fail loudly on retention-expired offsets: silently skipping
        # data would break the exactly-once replay contract
        .option("failOnDataLoss", "true")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return kafka_frames_to_envelopes(reader.load())


# the stock Kafka source row shape (Structured Streaming Kafka
# integration guide) — what read_cdc_kafka_stream's load() emits and
# what the broker-free contract test fabricates
KAFKA_FRAME_DDL = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_frames_to_envelopes(frames: DataFrame) -> DataFrame:
    """Project Kafka source rows (key/value binary + metadata) onto the
    one-string-column ``value`` envelope contract shared with the JSONL
    file transport. DMS publishes the envelope JSON as the record value
    with the primary key as the message key (the reference's Kinesis
    equivalent: PartitionKey=trans_id, gen_fake_cdc_data.py:76), so only
    the value is parsed; per-key ordering rides on the partition.

    Tombstones (NULL value — log compaction deletes) are FILTERED here:
    projected to a NULL string they would dead-letter downstream with
    raw=NULL, an undiagnosable row whose identifying key/offset were
    already projected away; DMS never publishes tombstones, so dropping
    them at the transport boundary is the faithful mapping."""
    return frames.filter("value IS NOT NULL").selectExpr(
        "CAST(value AS STRING) AS value"
    )
