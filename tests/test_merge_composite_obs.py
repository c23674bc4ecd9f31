"""Composite-key MERGE source-emptiness contract, on the driver path and
on the Spark path (forced by setting the in-process row gate
``lake_table._INPROCESS_MAX_ROWS`` to 0). Each path reads the source's
row count in its one source pass and exits on an empty source right
after it:

- an empty source burns no snapshot version (idle streaming trigger),
  against both an empty and a non-empty table;
- an empty source with extra_summary still gets its metadata-only commit;
- a rows-bearing source merges (update + insert);
- a delete-only unmatched source still commits.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    lake_table,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k1", T.LongType()),
        T.StructField("k2", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.fixture(params=["driver", "spark"])
def table(request, monkeypatch, tmp_path):
    if request.param == "spark":
        monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)
    return LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["k1", "k2"])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_empty_source_vs_empty_table_no_commit(spark, table):
    v0 = table.current_version()
    assert merge_into(table, _df(spark, []), assume_unique=True) == v0
    assert table.current_version() == v0


def test_empty_source_vs_nonempty_table_no_commit(spark, table):
    merge_into(table, _df(spark, [(1, "a", 1.0)]), assume_unique=True)
    v1 = table.current_version()
    assert merge_into(table, _df(spark, []), assume_unique=True) == v1
    assert table.current_version() == v1


def test_empty_source_extra_summary_still_commits(spark, table):
    v0 = table.current_version()
    v1 = merge_into(
        table, _df(spark, []), assume_unique=True,
        extra_summary={"watermark": "w1"},
    )
    assert v1 == v0 + 1
    assert table.current_version() == v1


def test_composite_key_merge_semantics_unchanged(spark, table):
    merge_into(
        table, _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), assume_unique=True
    )
    merge_into(
        table, _df(spark, [(1, "a", 9.0), (3, "c", 3.0)]), assume_unique=True
    )
    rows = {(r.k1, r.k2): r.v for r in table.read(spark).collect()}
    assert rows == {(1, "a"): 9.0, (2, "b"): 2.0, (3, "c"): 3.0}


def test_unmatched_delete_only_source_still_commits(spark, table):
    merge_into(table, _df(spark, [(1, "a", 1.0)]), assume_unique=True)
    v1 = table.current_version()
    src = spark.createDataFrame(
        [(9, "z", 0.0, "delete")],
        T.StructType([*SCHEMA.fields, T.StructField("operation", T.StringType())]),
    )
    v2 = merge_into(table, src, assume_unique=True, op_col="operation")
    assert v2 == v1 + 1  # non-empty source: commit happens
    assert table.read(spark).count() == 1
