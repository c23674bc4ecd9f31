"""One file identity under every root spelling.

Spark spells a scanned data file differently from the manifest: it
percent-encodes the root (a space reads ``%20``, ``%`` reads ``%25``,
``#`` reads ``%23``) and resolves the ``..`` of a shallow clone's
borrowed files. Every per-file fact a Spark read or a row-level
operation needs (position deletes, equality-delete sequence numbers,
row lineage, initial defaults, the files a probe hits) must still find
its manifest entry. Each cell runs the same steps on a table under one
root spelling (the ``lake_root`` fixture) and on a plain-root table,
and the results must be equal. Each cell also checks that the pyarrow
read of the driver MERGE (``_read_arrow``) and the Spark read agree at
the head.
"""

from __future__ import annotations

import os

import pytest
from conftest import table_at
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    lake_table,
    merge,
    metrics,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    compact,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
    merge_into,
)

SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("v", T.StringType()),
])
ROWS = [(i, f"r{i}") for i in range(10)]
MOR = {"write.delete.mode": "merge-on-read"}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _changes(t, spark, since):
    """The changelog since ``since``, versions counted from it."""
    return sorted(
        (
            (*r[:-2], r["_change_type"], r["_change_version"] - since)
            for r in t.changelog(spark, since).collect()
        ),
        key=repr,
    )


def cow_delete_where(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"])
    t.delete_where(spark, "id = 5")
    return t, _rows(t.read(spark))


def mor_delete_where(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"], properties=MOR)
    t.delete_where(spark, "id = 5")
    t.delete_where(spark, "id > 7")
    return t, _rows(t.read(spark))


def delete_by_keys_mor(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"], properties=MOR)
    t.delete_by_keys_mor(spark, spark.createDataFrame([(2,), (7,)], "id int"))
    return t, _rows(t.read(spark))


def spark_merge_probe(spark, make, mp):
    """A MERGE forced onto Spark and through its probe job."""
    mp.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)
    mp.setattr(merge, "_PROBE_SKIP_BYTES", -1)
    t = make(spark, SCHEMA, ROWS, keys=["id"])
    metrics.reset()
    merge_into(t, spark.createDataFrame([(3, "new"), (11, "ins")], SCHEMA), on=["id"])
    assert metrics.snapshot().get("merge.probe_job") == 1
    return t, (t.manifest()["summary"]["matched_files"], _rows(t.read(spark)))


def row_lineage(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"], properties={"row-lineage": "true"})
    t.append(spark.createDataFrame([(10, "r10")], SCHEMA))
    return t, _rows(t.read(spark, with_row_ids=True).select("id", "_row_id"))


def eq_delete_then_reinsert(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"], properties=MOR)
    since = t.current_version()
    t.delete_eq([{"id": 3}])
    t.append(spark.createDataFrame([(3, "back")], SCHEMA))
    return t, (_rows(t.read(spark)), _changes(t, spark, since))


def changelog_after_default(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"])
    since = t.current_version()
    t.append(spark.createDataFrame([(10, "r10")], SCHEMA))
    t.add_column("tag", T.StringType(), default="x")
    t.append(spark.createDataFrame([(11, "r11", "y")], t.schema))
    rows, changes = _rows(t.read(spark)), _changes(t, spark, since)
    # an inserted row reads in the changelog as it reads today: a file
    # older than the column reads its default
    assert [c[:-2] for c in changes] == [r for r in rows if r[0] >= 10]
    return t, (rows, changes)


def compact_after_eq_delete(spark, make, mp):
    t = make(spark, SCHEMA, ROWS, keys=["id"], properties=MOR)
    t.append(spark.createDataFrame([(10, "r10")], SCHEMA))
    t.delete_eq([{"id": 4}])
    compact(spark, t)
    assert len(t.manifest()["files"]) == 1
    return t, _rows(t.read(spark))


CELLS = [
    cow_delete_where,
    mor_delete_where,
    delete_by_keys_mor,
    spark_merge_probe,
    row_lineage,
    eq_delete_then_reinsert,
    changelog_after_default,
    compact_after_eq_delete,
]

_PLAIN: dict[str, object] = {}


def _plain(cell, spark, tmp_path_factory):
    """The cell's result on a plain-root table, computed once per run."""
    if cell.__name__ not in _PLAIN:
        base = tmp_path_factory.mktemp("plain")

        def make(spark, schema, rows, **kw):
            return table_at(base, "plain", spark, schema, rows, **kw)

        with pytest.MonkeyPatch.context() as own:
            _PLAIN[cell.__name__] = cell(spark, make, own)[1]
    return _PLAIN[cell.__name__]


def _assert_readers_agree(spark, t):
    """``_read_arrow`` and ``read_files`` give the same head rows."""
    files = [f["path"] for f in t.manifest()["files"]]
    arrow = t._read_arrow(files, to_arrow_schema(t.schema))
    got = sorted((tuple(r.values()) for a in arrow for r in a.to_pylist()), key=repr)
    paths = [os.path.join(t.root, p) for p in files]
    assert got == _rows(t.read_files(spark, paths))


@pytest.mark.parametrize("cell", CELLS, ids=[c.__name__ for c in CELLS])
def test_file_identity_matrix(spark, tmp_path_factory, lake_root, cell, monkeypatch):
    spelling, make = lake_root
    t, got = cell(spark, make, monkeypatch)
    _assert_readers_agree(spark, t)
    monkeypatch.undo()
    assert got == _plain(cell, spark, tmp_path_factory)
