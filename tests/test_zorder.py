"""Z-order rewrite: multi-column manifest pruning + content preservation
(Iceberg ``rewrite_data_files(sort_order => zorder(...))`` parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import LakeTable, lake_table
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
    Predicate,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    zorder_by,
)

SCHEMA = T.StructType(
    [
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _grid_table(spark, path, n_files=16):
    """100x100 grid of (a, b) in n_files a/b-oblivious files, one append
    of the ids congruent to k mod n_files each (625 rows for 16 files),
    so every file's min/max spans nearly the full range of BOTH
    columns."""
    t = LakeTable.create(str(path), SCHEMA)
    grid = spark.range(10_000).select(
        "id",
        (F.col("id") % 100).cast("int").alias("a"),
        (F.col("id") / 100).cast("int").alias("b"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    for k in range(n_files):
        t.append(grid.filter(F.col("id") % n_files == k).drop("id"))
    return t


def _target_n_files(monkeypatch, t, n):
    """Size rewrites of ``t`` to about ``n`` output files."""
    total = sum(f["bytes"] for f in t.manifest()["files"])
    monkeypatch.setattr(lake_table, "_TARGET_FILE_BYTES", total // n)


def _n_matching(t, col, lo, hi):
    return len(t.file_paths(predicates=[Predicate(col, ">=", lo), Predicate(col, "<=", hi)]))


def test_zorder_prunes_on_both_columns(spark, tmp_path, monkeypatch):
    t = _grid_table(spark, tmp_path / "t")
    n_before = len(t.file_paths())
    assert n_before >= 8
    # random layout: a narrow predicate on either column still hits ~all files
    assert _n_matching(t, "a", 10, 19) == n_before
    assert _n_matching(t, "b", 10, 19) == n_before

    _target_n_files(monkeypatch, t, 16)
    # sample every row for the range bounds: a partial sample is seeded
    # by the RDD id, so the file boundaries would shift with whatever
    # the session ran before
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "10000")
    try:
        zorder_by(spark, t, ["a", "b"], bits=5)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    n_after = len(t.file_paths())
    assert n_after >= 8  # AQE did not merge the range partitions
    # z-order: a 10%-selectivity range on EITHER column prunes most files
    assert _n_matching(t, "a", 10, 19) <= n_after // 2
    assert _n_matching(t, "b", 10, 19) <= n_after // 2


def test_zorder_preserves_content_and_count(spark, tmp_path, monkeypatch):
    t = _grid_table(spark, tmp_path / "t")
    before = t.read(spark)
    sums = before.agg(
        F.count("*").alias("n"), F.sum("a").alias("sa"), F.sum("b").alias("sb")
    ).collect()[0]
    _target_n_files(monkeypatch, t, 8)
    v = zorder_by(spark, t, ["a", "b"], bits=5)
    assert t.current_version() == v
    after = t.read(spark)
    assert after.exceptAll(before).count() == 0
    assert before.exceptAll(after).count() == 0
    got = after.agg(
        F.count("*").alias("n"), F.sum("a").alias("sa"), F.sum("b").alias("sb")
    ).collect()[0]
    assert tuple(got) == tuple(sums)
    assert t.manifest()["summary"]["operation"] == "zorder"
    assert t.manifest()["summary"]["zorder_by"] == "a,b"
    # time travel still sees the pre-rewrite snapshot
    assert t.read(spark, version=v - 1).count() == sums["n"]


def test_zorder_rejects_bad_columns(spark, tmp_path):
    t = _grid_table(spark, tmp_path / "t", n_files=2)
    with pytest.raises(ValueError):
        zorder_by(spark, t, ["nope"])
    with pytest.raises(ValueError):
        zorder_by(spark, t, ["payload"])  # non-numeric
    with pytest.raises(ValueError):
        zorder_by(spark, t, ["a", "b"], bits=32)  # 64 bits > long


def test_zorder_empty_table_noop(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA)
    assert zorder_by(spark, t, ["a"]) == 0
