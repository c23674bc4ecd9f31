"""Fixture-table loader / view registry.

Loads the driver's TPC-H-ish parquet tables (/root/repo/TESTDATA.md) with
declared-schema discipline and registers temp views so both the
DataFrame and SQL surfaces see the same relations (reference analogue:
Glue catalog database + tables, cdk_stacks/firehose_to_iceberg.py:80-82).
Each table's schema comes from its parquet footer, read in-process
(``schemas.read_parquet``), so registering the views runs no Spark job.

One normalization: ``events.ts`` is TIMESTAMP(MICROS) without
isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ; it is cast to LTZ
TIMESTAMP here. A TIMESTAMP(NANOS) file instead arrives as a long under
``spark.sql.legacy.parquet.nanosAsLong`` and is converted to a µs
timestamp (floor division — DuckDB's ns→µs cast truncates the same way).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FIXTURE_TABLES, read_parquet

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ((applicationId, session identity), sf_dir, table) -> DataFrame.
# Loading a fixture table costs a file listing + an in-process parquet
# footer read; before the footer path it cost one schema-inference
# Spark job per table (10 per register_views), now none. DataFrames
# are lazy plans: caching one caches only the resolved SCHEMA, every
# action still re-scans data, so this is safe for immutable fixture
# paths.
# Keyed by applicationId AND the SparkSession's own identity: sibling
# sessions from spark.newSession() share one applicationId, and a
# DataFrame bound to session A registered via createOrReplaceTempView
# lands in A's catalog — session B would get TABLE_OR_VIEW_NOT_FOUND
# (review round 11; applicationId alone only separated restarted apps).
_TABLE_CACHE: dict[tuple[tuple[str, "SparkSession"], str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> tuple[str, "SparkSession"]:
    # the session OBJECT (identity-hashed), not id(spark): holding the
    # reference prevents a GC'd sibling's address being reused and
    # aliasing a stale entry; the miss-path eviction below bounds the
    # pinning to one live session's entries
    return (spark.sparkContext.applicationId, spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    sess = _session_key(spark)
    key = (sess, os.path.abspath(sf_dir), name)
    df = _TABLE_CACHE.get(key)
    if df is not None:
        return df
    # evict entries of other (stopped or sibling) sessions: a session-
    # churning process otherwise accumulates DataFrames pinning dead
    # sessions' plans forever (one live session at a time is this
    # cache's world)
    stale = [k for k in _TABLE_CACHE if k[0] != sess]
    for k in stale:
        del _TABLE_CACHE[k]
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # fallback for a TIMESTAMP(NANOS) file under nanosAsLong
            # (the fixtures store µs): ns since epoch -> µs timestamp.
            # MUST be integer division (`div`): `/` promotes int64 ns
            # to double, which loses
            # precision above 2^53 and shifts some values ±1 µs vs
            # DuckDB's exact epoch_ns//1000
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # the fixtures' TIMESTAMP(MICROS, isAdjustedToUTC=false)
            # reads as TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ).
            # Event-time operators (withWatermark) require LTZ TIMESTAMP;
            # with the session TZ pinned UTC the cast is value-preserving
            # and matches DuckDB's naive-UTC convention.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    # createOrReplaceTempView on a cached plan is a local catalog op —
    # always re-run it (cheap) so a view another caller dropped or
    # replaced comes back; only the schema load is cached.
    # `is not None`, not truthiness: an explicitly EMPTY list means
    # "register nothing", not "register everything"
    for name in (tables if tables is not None else FIXTURE_TABLES):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
