"""Footer schemas (``schemas.parquet_schema``): the schema Spark's
parquet inference answers, read in-process from the file footer, so
registering fixture tables and building read plans launch no Spark job.
Wherever Spark's answer depends on a session conf, the function returns
None and the caller lets Spark infer."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    lake_table,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    FIXTURE_TABLES,
    parquet_schema,
    read_parquet,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.catalog import (
    register_views,
)

from conftest import SF_DIR, count_jobs


def _write(tmp_path, name, table, **kw):
    p = os.path.join(str(tmp_path), f"{name}.parquet")
    pq.write_table(table, p, **kw)
    return p


def test_footer_schema_equals_spark_inference_on_every_fixture(spark):
    files = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))
    assert len(files) >= len(FIXTURE_TABLES)
    diff = [
        p for p in files
        if parquet_schema(p) != spark.read.parquet(p).schema
    ]
    assert diff == []


def test_footer_schema_reads_required_columns_as_nullable(spark, tmp_path):
    """File sources read every field as nullable, REQUIRED ones and
    non-null list elements included; the footer schema must too."""
    schema = pa.schema([
        pa.field("k", pa.int64(), nullable=False),
        pa.field("v", pa.list_(pa.field("e", pa.float32(), nullable=False))),
        pa.field("s", pa.struct([pa.field("x", pa.int32(), nullable=False)])),
    ])
    p = _write(tmp_path, "req", pa.table(
        {"k": [1], "v": [[1.0]], "s": [{"x": 1}]}, schema=schema,
    ))
    got = parquet_schema(p)
    assert got == spark.read.parquet(p).schema
    assert got["k"].nullable and got["v"].dataType.containsNull


def test_footer_schema_of_delete_eq_file_is_the_file_type(spark, tmp_path):
    """delete_eq writes Python values through pyarrow: an INT key column
    lands as int64, and the read path must use that, not the table's
    declared key type."""
    t = LakeTable.create(
        os.path.join(str(tmp_path), "t"),
        T.StructType([T.StructField("k", T.IntegerType())]),
        keys=["k"],
    )
    t.delete_eq([{"k": 2}])
    (d,) = t.manifest()["delete_files"]
    p = os.path.join(t.root, d["path"])
    got = parquet_schema(p)
    assert got == spark.read.parquet(p).schema
    assert got["k"].dataType == T.LongType()


def test_footer_schema_falls_back_when_spark_mapping_is_conf_dependent(
    spark, tmp_path, monkeypatch
):
    ts = [dt.datetime(2024, 1, 1)]
    unsure = {
        "int96 (pyarrow)": _write(
            tmp_path, "i96", pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
            use_deprecated_int96_timestamps=True,
        ),
        "timestamp[ns]": _write(
            tmp_path, "ns", pa.table({"t": pa.array(ts, pa.timestamp("ns"))}),
        ),
        "unannotated binary": _write(
            tmp_path, "bin", pa.table({"b": pa.array([b"x"], pa.binary())}),
        ),
        "unsigned": _write(
            tmp_path, "u", pa.table({"u": pa.array([1], pa.uint32())}),
        ),
    }
    out = os.path.join(str(tmp_path), "spark_i96")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame([(ts[0],)], "t timestamp").coalesce(1).write.parquet(out)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    (unsure["int96 (spark)"],) = glob.glob(os.path.join(out, "*.parquet"))
    t = LakeTable.create(
        os.path.join(str(tmp_path), "lake"),
        T.StructType([T.StructField("k", T.LongType())]),
    )
    # a one-row append is written in-process; a zero-row gate forces
    # the Spark writer, whose files carry its row-metadata key
    monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)
    t.append(spark.createDataFrame([(1,)], "k long"))
    unsure["spark-written LakeTable file"] = os.path.join(
        t.root, t.manifest()["files"][0]["path"]
    )
    unsure["directory"] = out
    assert {k: parquet_schema(p) for k, p in unsure.items()} == {
        k: None for k in unsure
    }
    # the fallback is Spark's own inference
    p = unsure["int96 (spark)"]
    assert read_parquet(spark, p).schema == spark.read.parquet(p).schema


def test_register_views_launches_no_spark_jobs(spark, tmp_path):
    """Fixture registration is a catalog lookup, not a scan: a fresh
    directory (no cached plans) registers all tables with zero jobs."""
    d = os.path.join(str(tmp_path), "sf")
    shutil.copytree(SF_DIR, d)
    # the counter does see an inference job, so 0 below is not vacuous
    assert count_jobs(spark, lambda: spark.read.parquet(
        os.path.join(d, "region.parquet")))[1] >= 1
    try:
        _, jobs = count_jobs(spark, lambda: register_views(spark, d))
        assert jobs == 0
        assert spark.table("region").count() == pq.read_metadata(
            os.path.join(d, "region.parquet")
        ).num_rows
    finally:
        register_views(spark, SF_DIR)
