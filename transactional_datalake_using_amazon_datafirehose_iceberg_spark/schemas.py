"""Declared StructTypes for every table and envelope the engine touches.

Schema discipline is fixed/declared (reference: the user creates the
Iceberg table before deploying Firehose, README.md:277-312; the Lambda
routes records without inspecting the payload schema,
src/main/python/firehose_to_iceberg_transformer.py:22,33). Schema
inference is a dev convenience only: parquet the engine reads without a
declared schema takes its schema from the file footer
(``parquet_schema``), in-process, like a catalog lookup — never from a
Spark schema-inference job.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

# --------------------------------------------------------------------------
# retail_trans — query-visible (Iceberg DDL) schema.
# Reference: README.md:292-300. We mirror the Iceberg DDL, which narrows
# trans_id BIGINT→int at the MySQL boundary (README.md:219 vs :293); the
# DDL is the query-visible contract (SURVEY.md §7.3 item 3).
# --------------------------------------------------------------------------
RETAIL_TRANS = T.StructType(
    [
        T.StructField("trans_id", T.IntegerType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("event", T.StringType(), True),
        T.StructField("sku", T.StringType(), True),
        T.StructField("amount", T.IntegerType(), True),
        T.StructField("device", T.StringType(), True),
        T.StructField("trans_datetime", T.TimestampType(), True),
    ]
)

# Partition column of the target table (README.md:301: PARTITIONED BY (event)).
RETAIL_TRANS_PARTITION = ["event"]
RETAIL_TRANS_KEYS = ["trans_id"]  # unique_keys, .example.cdk.context.json:22-24

# --------------------------------------------------------------------------
# CDC envelope — DMS JSON, one object per row-level DML.
# Reference shape: src/utils/gen_fake_cdc_data.py:28 (data + metadata);
# metadata fields: timestamp, record-type, operation, partition-key-type,
# schema-name, table-name, transaction-id.
# `data` is kept as raw JSON STRING at the envelope level because the
# reference's transformer passes it through opaquely without type coercion
# (firehose_to_iceberg_transformer.py:22,33) — unknown fields must survive.
# --------------------------------------------------------------------------
CDC_METADATA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("record-type", T.StringType(), True),
        T.StructField("operation", T.StringType(), True),
        T.StructField("partition-key-type", T.StringType(), True),
        T.StructField("schema-name", T.StringType(), True),
        T.StructField("table-name", T.StringType(), True),
        T.StructField("transaction-id", T.LongType(), True),
    ]
)

# Envelope with `data` as an untyped JSON string (pass-through fidelity).
CDC_ENVELOPE_RAW = T.StructType(
    [
        T.StructField("data", T.StringType(), True),
        T.StructField("metadata", CDC_METADATA, True),
    ]
)

# Envelope with `data` parsed to the retail_trans row image (ingest typing).
# trans_datetime arrives as an ISO-8601 'Z' string
# (firehose_to_iceberg_transformer.py:62) and is cast on apply.
CDC_DATA_RETAIL = T.StructType(
    [
        T.StructField("trans_id", T.IntegerType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("event", T.StringType(), True),
        T.StructField("sku", T.StringType(), True),
        T.StructField("amount", T.IntegerType(), True),
        T.StructField("device", T.StringType(), True),
        T.StructField("trans_datetime", T.StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Dead-letter record (reference: only-failed S3 backup under
# error/year=.../month=.../day=.../hour=.../<error-output-type>;
# cdk_stacks/firehose_to_iceberg.py:97,113,118 and README.md:82).
# --------------------------------------------------------------------------
DEAD_LETTER = T.StructType(
    [
        T.StructField("raw", T.StringType(), True),
        T.StructField("error_type", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("month", T.IntegerType(), True),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("hour", T.IntegerType(), True),
    ]
)

# --------------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/; FIXTURES.md §B).
# events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the parquet:
# Spark reads it as TIMESTAMP_NTZ and the loader casts it to TimestampType
# (event-time operators need LTZ). A TIMESTAMP(NANOS) file would read as
# LongType under spark.sql.legacy.parquet.nanosAsLong; the loader keeps
# that fallback (µs, floor) to match DuckDB.
# --------------------------------------------------------------------------
FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

EMBEDDING_DIM = 64


# --------------------------------------------------------------------------
# Footer schemas: what Spark's parquet inference would answer, read from
# the file footer in-process (metadata only — no Spark job).
# --------------------------------------------------------------------------
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_type(at: pa.DataType, ntz: bool) -> T.DataType | None:
    """Spark's parquet-inferred type for one arrow column type, nullable
    all the way down (file sources read every field as nullable), or
    None when Spark's answer depends on a session conf or is not
    provably this one: nanosecond timestamps (``nanosAsLong``), unsigned
    integers, binary and anything else not listed here."""
    t = pa.types
    if t.is_struct(at):
        fields = [(f.name, _spark_type(f.type, ntz)) for f in at]
        if any(dt is None for _, dt in fields):
            return None
        return T.StructType([T.StructField(n, dt, True) for n, dt in fields])
    if t.is_list(at) or t.is_large_list(at) or t.is_fixed_size_list(at):
        e = _spark_type(at.value_type, ntz)
        return None if e is None else T.ArrayType(e, True)
    if t.is_map(at):
        k, v = _spark_type(at.key_type, ntz), _spark_type(at.item_type, ntz)
        return None if k is None or v is None else T.MapType(k, v, True)
    if t.is_dictionary(at):
        return _spark_type(at.value_type, ntz)
    if t.is_timestamp(at) and at.unit == "ns":
        return None
    if (
        t.is_boolean(at) or t.is_signed_integer(at) or t.is_float32(at)
        or t.is_float64(at) or t.is_decimal128(at) or t.is_string(at)
        or t.is_large_string(at) or t.is_date32(at) or t.is_timestamp(at)
    ):
        return from_arrow_type(at, prefer_timestamp_ntz=ntz)
    return None


def parquet_schema(path: str, infer_ntz: bool = True) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    file's footer with pyarrow — or None whenever Spark's mapping
    depends on a session conf or is not provably the same, so the
    caller falls back to Spark's inference job:

    - INT96 columns (``int96AsTimestamp``) and nanosecond timestamps
      (``nanosAsLong``);
    - BINARY / FIXED_LEN_BYTE_ARRAY without an annotation
      (``binaryAsString``);
    - unsigned integers and any type outside ``_spark_type``'s list;
    - files carrying Spark's own row-metadata key (Spark restores its
      stored schema from it);
    - a path that is not a readable parquet file (a directory, say).

    ``infer_ntz`` mirrors ``spark.sql.parquet.inferTimestampNTZ.enabled``:
    a timestamp without ``isAdjustedToUTC`` maps to TIMESTAMP_NTZ when
    it is set, to TIMESTAMP when not."""
    try:
        with pq.ParquetFile(path) as f:
            md, arrow = f.metadata, f.schema_arrow
    except (OSError, pa.ArrowException):
        return None
    if _SPARK_ROW_METADATA in (md.metadata or {}):
        return None
    for i in range(md.num_columns):
        c = md.schema.column(i)
        if c.physical_type == "INT96" or (
            c.physical_type in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")
            and c.logical_type.type == "NONE"
        ):
            return None
    return _spark_type(pa.struct(list(arrow)), infer_ntz)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer schema declared up
    front, so no Spark job runs to infer it; Spark infers only when
    ``parquet_schema`` cannot vouch for the answer."""
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    schema = parquet_schema(path, infer_ntz=ntz.lower() == "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
