"""Property-based check of the transactional apply path.

Random sequences of keyed insert/update/delete micro-batches run through
collapse_latest_per_key + copy-on-write MERGE must converge to the same
state as a trivial dict reference model — for any op order, duplicate
keys within a batch, deletes of unknown keys, and replayed batches.
"""

from __future__ import annotations

import pytest

# slow assurance lane (round-17): hypothesis merge interleaving sweeps (~4 min);
# skipped in the default verify lane, run with SPARK_GRAFT_FULL_TESTS=1
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
    collapse_latest_per_key,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("cat", T.StringType(), True),
    ]
)

ops_strategy = st.lists(  # one batch = ordered ops: (op, key, value)
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=12,
)
batches_strategy = st.lists(ops_strategy, min_size=1, max_size=4)


@pytest.fixture(scope="module")
def prop_spark(spark):
    return spark


@given(batches=batches_strategy, replay_last=st.booleans())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_matches_reference_model(prop_spark, tmp_path_factory, batches, replay_last):
    spark = prop_spark
    table = LakeTable.create(
        str(tmp_path_factory.mktemp("prop") / "t"),
        SCHEMA,
        keys=["k"],
        cluster_by=["cat"],
        # lineage on: every random op interleaving must also keep
        # _row_id unique (asserted at the end)
        properties={"row-lineage": "true"},
    )
    model: dict[int, tuple] = {}

    def apply_spark(ops, seq_base):
        rows = [
            (k, v, "ab"[k % 2], op, seq_base + i)
            for i, (op, k, v) in enumerate(ops)
        ]
        df = spark.createDataFrame(
            rows, "k int, v int, cat string, operation string, _order_txn long"
        ).selectExpr("*", "CAST(NULL AS TIMESTAMP) AS _order_ts")
        latest = collapse_latest_per_key(df, ["k"])
        merge_into(
            table,
            latest.drop("_order_ts", "_order_txn"),
            on=["k"],
            op_col="operation",
            assume_unique=True,
        )

    def apply_model(ops):
        for op, k, v in ops:
            if op == "delete":
                model.pop(k, None)
            else:
                model[k] = (k, v, "ab"[k % 2])

    for i, ops in enumerate(batches):
        apply_spark(ops, seq_base=i * 1000)
        apply_model(ops)
    if replay_last:  # retry semantics: replaying a batch must be a no-op
        apply_spark(batches[-1], seq_base=(len(batches) - 1) * 1000)

    got = sorted((r["k"], r["v"], r["cat"]) for r in table.read(spark).collect())
    expected = sorted(model.values())
    assert got == expected

    # row lineage under arbitrary MERGE interleavings: every surviving
    # row has an id, and no two rows share one (block allocation +
    # physical materialization through COW rewrites never collide)
    ids = [r["_row_id"] for r in table.read(spark, with_row_ids=True).collect()]
    assert None not in ids
    assert len(ids) == len(set(ids)), ids

    # the CDC-OUT half must agree with the CDC-IN half: replaying the
    # full changelog (INSERT/UPDATE_AFTER set, DELETE remove) into an
    # empty dict reconstructs the same final state for ANY op
    # interleaving — model-checks the keyed single-join classification
    # and its duplicate-key fallback alike
    log_state: dict[int, tuple] = {}
    for r in sorted(
        table.changelog(spark, 0, table.current_version()).collect(),
        key=lambda r: r["_change_version"],
    ):
        if r["_change_type"] in ("INSERT", "UPDATE_AFTER"):
            log_state[r["k"]] = (r["k"], r["v"], r["cat"])
        elif r["_change_type"] == "DELETE":
            log_state.pop(r["k"], None)
    assert sorted(log_state.values()) == expected


@given(batches=batches_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_probe_skip_path_equivalent_to_probed_path(
    prop_spark, tmp_path_factory, batches
):
    """The driver path (one Arrow collect, a pyarrow probe and rewrite),
    the Spark probe-skip path (rewrite all pruned candidates outright)
    and the Spark probed path (semi-join to the truly-touched files)
    must converge to IDENTICAL table state for arbitrary op sequences —
    each is a physical choice, never a semantic one. The Spark paths
    are forced by setting the in-process row gate to 0."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        merge as merge_mod,
    )

    spark = prop_spark
    states = []
    # (in-process row gate, probe-skip bytes): driver / probe always /
    # probe never
    modes = (
        (lake_table._INPROCESS_MAX_ROWS, merge_mod._PROBE_SKIP_BYTES),
        (0, 0),
        (0, 1 << 60),
    )
    for i, (max_rows, skip_bytes) in enumerate(modes):
        orig = lake_table._INPROCESS_MAX_ROWS, merge_mod._PROBE_SKIP_BYTES
        lake_table._INPROCESS_MAX_ROWS, merge_mod._PROBE_SKIP_BYTES = max_rows, skip_bytes
        try:
            root = str(tmp_path_factory.mktemp(f"pskip{i}") / "t")
            t = LakeTable.create(root, SCHEMA, keys=["k"], cluster_by=["cat"])
            for batch in batches:
                # latest-per-key collapse like the CDC path (MERGE
                # requires unique source keys)
                latest = {}
                for op, k, v in batch:
                    latest[k] = (op, k, v)
                src = spark.createDataFrame(
                    [(k, v, "c" + str(k % 3), op) for op, k, v in latest.values()],
                    "k int, v int, cat string, operation string",
                )
                merge_into(t, src, on=["k"], op_col="operation", assume_unique=True)
            states.append(
                sorted(map(tuple, t.read(spark).collect()))
            )
        finally:
            lake_table._INPROCESS_MAX_ROWS, merge_mod._PROBE_SKIP_BYTES = orig
    assert states[0] == states[1] == states[2], batches


routed_ops_strategy = st.lists(
    st.tuples(
        st.sampled_from(["t_alpha", "t_beta", "t_ghost"]),  # ghost: unroutable
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=50),
    ),
    min_size=1,
    max_size=16,
)


@given(batches=st.lists(routed_ops_strategy, min_size=1, max_size=3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_routed_apply_matches_reference_model(prop_spark, tmp_path_factory, batches):
    """apply_routed (the Firehose destination's multi-table
    destination_table_configuration_list) vs a per-table dict model for
    arbitrary interleavings of ops across two configured tables and one
    unconfigured ('ghost') destination: each table converges to exactly
    its own slice's last-write-wins state, and the ghost ops influence
    nothing (they are ignored at the routing boundary)."""
    import json as _json

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
        apply_routed,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_transform import (
        transform,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
        RETAIL_TRANS,
        RETAIL_TRANS_KEYS,
    )

    spark = prop_spark
    base = tmp_path_factory.mktemp("routedprop")
    tables = {
        name: LakeTable.create(str(base / name), RETAIL_TRANS, keys=RETAIL_TRANS_KEYS)
        for name in ("t_alpha", "t_beta")
    }
    models: dict[str, dict[int, int]] = {"t_alpha": {}, "t_beta": {}}

    def envelope(table, op, k, v, seq):
        return _json.dumps({
            "data": {
                "trans_id": k, "customer_id": "c", "event": "cart",
                "sku": "SKU1", "amount": v, "device": "pc",
                "trans_datetime": "2023-01-16T06:00:00Z",
            },
            "metadata": {
                "timestamp": f"2023-01-16T06:{seq // 60 % 60:02d}:"
                             f"{seq % 60:02d}.{seq % 1000000:06d}Z",
                "record-type": "data", "operation": op,
                "partition-key-type": "primary-key",
                "schema-name": "testdb", "table-name": table,
                "transaction-id": 1000 + seq,
            },
        })

    for b_i, ops in enumerate(batches):
        lines = [
            (envelope(t, op, k, v, b_i * 100 + i),)
            for i, (t, op, k, v) in enumerate(ops)
        ]
        raw = spark.createDataFrame(lines, "value string")
        good, dead = transform(raw, "testdb", None)
        apply_routed(tables, good)
        assert dead.count() == 0
        # model: per table, ordered last-write-wins by key
        for t, op, k, v in ops:
            if t not in models:
                continue
            if op == "delete":
                models[t].pop(k, None)
            else:
                models[t][k] = v

    for name, t in tables.items():
        got = sorted(
            (r["trans_id"], r["amount"]) for r in t.read(spark).collect()
        )
        assert got == sorted(models[name].items()), (name, batches)
