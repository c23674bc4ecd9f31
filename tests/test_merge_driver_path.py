"""MERGE on the driver: a source that fits the in-process gate is
collected once to Arrow, its touched files are found by a pyarrow key
probe and rewritten with pyarrow. These tests pin it against the Spark
MERGE, forced by setting the in-process row gate
(``lake_table._INPROCESS_MAX_ROWS``) to 0."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import cdcgen
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
    apply_batch,
    typed_rows,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_transform import (
    transform,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    lake_table,
    metrics,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
    MergeSourceNotUnique,
    merge_into,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)

PATHS = ("driver", "spark")


def _on_path(monkeypatch, path):
    """Keep MERGE on the driver, or force it onto Spark."""
    if path == "spark":
        monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)


def _extras(spark, b):
    """Typed rows the generator never emits: a NULL-op insert of a new
    key, a NULL-op update of a seed key and a delete of a never-seen
    key, all newer than the batch."""
    ts = dt.datetime(2030, 1, 1) + dt.timedelta(seconds=b)
    return spark.createDataFrame(
        [
            (500_000 + b, "c", "visit", "SKU", 1, "pc", ts, None, ts, 9_000_000 + b),
            (1 + b, "c", "cart", "SKU", 7, "mobile", ts, None, ts, 9_000_100 + b),
            (900_000 + b, None, None, None, None, None, None, "delete", ts, 9_000_200 + b),
        ],
        "trans_id int, customer_id string, event string, sku string, amount int, "
        "device string, trans_datetime timestamp, operation string, "
        "_order_ts timestamp, _order_txn bigint",
    )


def _cdc_run(spark, root, n_batches=3):
    """A clustered retail table seeded with 3,000 rows, then
    ``n_batches`` 600-envelope cdcgen batches (malformed lines included)
    plus ``_extras`` applied through ``apply_batch``."""
    stream = cdcgen.CdcStream(11, 3_000, 600, malformed_share=0.02)
    seed = [
        r[:6] + (dt.datetime.strptime(r[6], "%Y-%m-%dT%H:%M:%SZ")
                 .replace(tzinfo=dt.timezone.utc),)
        for r in stream.seed_rows
    ]
    t = LakeTable.create(
        root, RETAIL_TRANS, keys=RETAIL_TRANS_KEYS, cluster_by=RETAIL_TRANS_PARTITION
    )
    t.append(spark.createDataFrame(seed, RETAIL_TRANS))
    for b in range(n_batches):
        lines, _ = stream.next_batch()
        good, _ = transform(spark.createDataFrame([(x,) for x in lines], "value string"), "db", "tbl")
        apply_batch(t, typed_rows(good).unionByName(_extras(spark, b)))
    assert stream.malformed > 0
    return t


# merge_into's step-2 counters: every MERGE past its empty-source exit
# bumps exactly one
_STEP2 = (
    "merge.full_candidates", "merge.no_candidates", "merge.probe_driver",
    "merge.probe_skip_small", "merge.probe_job",
)


def _step2_bumps():
    snap = metrics.snapshot()
    return sum(snap.get(k, 0) for k in _STEP2)


def _rows(spark, t, version=None):
    return sorted(map(tuple, t.read(spark, version=version).collect()))


def _changes(spark, t, v):
    return sorted(map(tuple, t.changelog(spark, v - 1, v).collect()))


def test_driver_path_matches_spark_path_on_cdc_stream(spark, tmp_path, monkeypatch):
    """The same cdcgen stream applied on either path gives, at every
    version, the same rows, ``matched_files``, changelog, file count
    and key blooms."""
    runs = {}
    for path in PATHS:
        with monkeypatch.context() as mp:
            _on_path(mp, path)
            metrics.reset()
            runs[path] = _cdc_run(spark, str(tmp_path / path))
            assert ("merge.inprocess" in metrics.snapshot()) == (path == "driver")
            assert _step2_bumps() == 3
    d, s = runs["driver"], runs["spark"]
    assert d.current_version() == s.current_version() == 4
    for v in range(2, 5):
        md, ms = d.manifest(v), s.manifest(v)
        assert _rows(spark, d, v) == _rows(spark, s, v)
        assert md["summary"]["matched_files"] == ms["summary"]["matched_files"] > 0
        assert _changes(spark, d, v) == _changes(spark, s, v)
        assert len(md["files"]) == len(ms["files"])
        assert sorted(json.dumps(f["bloom"]) for f in md["files"]) == sorted(
            json.dumps(f["bloom"]) for f in ms["files"]
        )
    got = {r[0]: r for r in _rows(spark, d)}
    assert 500_002 in got and got[3][2] == "cart" and 900_002 not in got


@pytest.mark.parametrize("path", PATHS)
def test_duplicate_source_keys_raise_on_both_paths(spark, tmp_path, monkeypatch, path):
    _on_path(monkeypatch, path)
    t = LakeTable.create(
        str(tmp_path / "t"), T.StructType([
            T.StructField("k", T.LongType()), T.StructField("v", T.StringType()),
        ]), keys=["k"],
    )
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    dup = spark.createDataFrame([(2, "x"), (2, "y"), (None, "n")], "k long, v string")
    with pytest.raises(MergeSourceNotUnique):
        merge_into(t, dup)
    assert t.current_version() == 1


_KV = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("_order_ts", T.TimestampType()),
    T.StructField("_order_txn", T.LongType()),
])


def _batch(spark, rows):
    # NOT NULL key and txn columns: a non-nullable source column must
    # not break the driver path's match-condition relation
    return spark.createDataFrame(
        rows,
        "k long not null, v string, operation string, _order_ts string, "
        "_order_txn long not null",
    ).withColumn("_order_ts", F.to_timestamp("_order_ts"))


# each history step returns how the next batch is shaped for the table,
# or None when the batch needs no change


def _position_delete(spark, t):
    t.delete_where(spark, "k = 3")


def _equality_delete(spark, t):
    t.delete_eq([{"k": 3}])


def _renamed(spark, t):
    t.rename_column("v", "val")
    return lambda b: b.withColumnRenamed("v", "val")


def _defaulted(spark, t):
    t.add_column("region", T.StringType(), default="emea")
    return lambda b: b.withColumn("region", F.lit("apac"))


def _nothing(spark, t):
    pass


@pytest.mark.parametrize(
    "properties, history, on_driver",
    [
        ({"write.delete.mode": "merge-on-read"}, _position_delete, True),
        ({}, _equality_delete, True),
        ({}, _renamed, True),
        ({}, _defaulted, True),
        ({"row-lineage": "true"}, _nothing, False),
        ({}, _nothing, True),  # the stale guard alone stays on the driver
    ],
    ids=[
        "position-delete", "equality-delete", "renamed", "defaulted",
        "row-lineage", "stale-guard",
    ],
)
def test_gated_cases_give_the_spark_result(
    spark, tmp_path, monkeypatch, properties, history, on_driver
):
    """A pending position or equality delete on a candidate file, a
    renamed column and a defaulted column are resolved by the pyarrow
    read and stay on the driver; a row-lineage table keeps the Spark
    MERGE; a stale-guarded table evaluates its match condition in Spark
    over the matched pairs and stays on the driver. Each gives the
    Spark path's rows."""
    out = {}
    for path in PATHS:
        with monkeypatch.context() as mp:
            _on_path(mp, path)
            t = LakeTable.create(str(tmp_path / path), _KV, keys=["k"], properties=properties)
            apply_batch(t, _batch(spark, [
                (k, f"v{k}", "insert", "2024-01-02 00:00:00", 200 + k) for k in range(1, 7)
            ]))
            shape = history(spark, t) or (lambda b: b)
            metrics.reset()
            apply_batch(t, shape(_batch(spark, [
                (1, "stale", "update", "2024-01-01 00:00:00", 100),   # stale update
                (2, None, "delete", "2024-01-01 00:00:00", 101),      # stale delete
                (3, "back", "insert", "2024-01-03 00:00:00", 300),    # deleted key
                (4, None, "delete", "2024-01-03 00:00:00", 301),      # fresh delete
                (5, "new", None, "2024-01-03 00:00:00", 302),         # NULL op
                (9, "ins", "insert", "2024-01-03 00:00:00", 303),     # new key
            ])))
            assert ("merge.inprocess" in metrics.snapshot()) == (on_driver and path == "driver")
            assert _step2_bumps() == 1
            out[path] = sorted(
                map(tuple, t.read(spark, with_row_ids=t.row_lineage).collect())
            )
    assert out["driver"] == out["spark"]
    state = {r[0]: r[1] for r in out["driver"]}
    assert state == {1: "v1", 2: "v2", 3: "back", 5: "new", 6: "v6", 9: "ins"}


def _two_file_table(spark, root):
    """A keyed table of two 100-row files whose key ranges overlap (even
    and odd keys below 200), so manifest pruning keeps both, and a
    3-row batch whose keys lie in the even file."""
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    t = LakeTable.create(root, schema, keys=["k"])
    for parity in (0, 1):
        t.append(spark.range(parity, 200, 2).select("id", F.lit("a")).toDF("k", "v"))
    src = spark.createDataFrame(
        [(10, "u", "update"), (20, None, "delete"), (1000, "i", "insert")],
        "k long, v string, op string",
    )
    return t, src


def test_exact_probe_rewrites_only_the_touched_file(spark, tmp_path):
    """The pyarrow probe finds the one file holding the batch's keys,
    only it is rewritten, and the MERGE runs one job (the source
    collect) — no probe job."""
    t, src = _two_file_table(spark, str(tmp_path / "t"))
    files = [f["path"] for f in t.manifest()["files"]]
    assert len(files) == 2
    metrics.reset()
    _, jobs = count_jobs(spark, lambda: merge_into(t, src, op_col="op"))
    assert jobs == 1
    snap = metrics.snapshot()
    assert snap.get("merge.inprocess") == 1 and "merge.probe_job" not in snap
    assert snap.get("merge.probe_driver") == _step2_bumps() == 1
    m = t.manifest()
    assert m["summary"]["matched_files"] == 1
    assert files[0] not in {f["path"] for f in m["files"]}
    assert files[1] in {f["path"] for f in m["files"]}
    rows = dict(map(tuple, t.read(spark).collect()))
    assert len(rows) == 200 and rows[10] == "u" and 20 not in rows and rows[1000] == "i"


def test_candidates_over_the_row_gate_keep_the_spark_probe(spark, tmp_path, monkeypatch):
    """A source within the row gate is not probed on the driver when
    its candidate files hold more rows than the gate: the Spark MERGE's
    probe-skip takes both candidates and Spark rewrites them, giving
    the rows of the exact driver probe."""
    t, src = _two_file_table(spark, str(tmp_path / "t"))
    monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 10)
    metrics.reset()
    merge_into(t, src, op_col="op")
    snap = metrics.snapshot()
    assert snap.get("merge.probe_skip_small") == _step2_bumps() == 1
    assert "merge.inprocess" not in snap
    assert t.manifest()["summary"]["matched_files"] == 2
    rows = dict(map(tuple, t.read(spark).collect()))
    monkeypatch.undo()
    exact, _ = _two_file_table(spark, str(tmp_path / "exact"))
    merge_into(exact, src, op_col="op")
    assert exact.manifest()["summary"]["matched_files"] == 1
    assert rows == dict(map(tuple, exact.read(spark).collect()))
