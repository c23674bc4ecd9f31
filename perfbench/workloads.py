"""The benchmark's three workloads, each a closed loop with one client.

Every workload builds its inputs from the seed, times one operation at
a time through the engine's public functions, and checks the engine's
outputs against an independent reference. ``Run`` collects the timed
operations; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    Predicate,
    maintenance,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import LakeTable
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import QUERY_SPECS
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    DEAD_LETTER,
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.catalog import (
    register_views,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
    read_cdc_batch,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming import (
    CdcStreamPipeline,
)

import cdcgen
import fixture
import host
import oracle

SETUP_REPS = 3
# cdc_upsert / lake_mor_churn sizes
SEED_ROWS = 20_000
BATCH_SIZE = 2_000
ROUND_BATCHES = 5  # cdc_upsert: batch files per available-now query
WARMUP_BATCHES = 6
MOR_MIX = (0.2, 0.3, 0.5)
MOR_REWRITE_THRESHOLD = 2  # position-delete files before upkeep folds them
EXPIRE_EVERY = 2  # batches between expire_snapshots calls
# snapshot_query: the read-only headline specs of the old root bench.py
SF = 0.02
SPECS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q19_disjunctive_predicates",
    "window_topk_per_group",
    "events_sessionize_gap",
    "agg_rollup",
    "join_broadcast_dims",
    "asof_join_purchase_click",
    "higher_order_array_funcs",
    "dedup_minhash_lsh_pairs",
    "similarity_topk_cosine",
    "text_stats_quality",
)


class Run:
    """One workload run: its timed operations, checks and side metrics."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops: list[dict] = []  # {op, kind, t0, t1} in epoch ns
        self.checks = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s: list[float] = []  # CPU seconds of each set-up
        self.setup_wall_s: list[float] = []
        self.detail: dict = {}  # workload metrics reported beside the contract ones
        self.layer: dict = {}  # per-layer numbers only the workload can see
        self.changed_keys: dict[str, int] = {}  # op -> keys its batch changed
        self.cpu_s = 0.0  # CPU seconds of every process during timed work

    def setup(self, build):
        """Run ``build(dir)`` SETUP_REPS times in fresh directories, taking
        the CPU and wall time of each; keeps the last result and removes
        the earlier ones."""
        result = None
        for rep in range(SETUP_REPS):
            d = os.path.join(self.work, f"setup{rep}")
            c0, t0 = host.cpu_s(), time.perf_counter()
            result = build(d)
            self.setup_wall_s.append(time.perf_counter() - t0)
            self.setup_s.append(host.cpu_s() - c0)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), True)
        return result

    def begin(self, op: str) -> None:
        self.spark.sparkContext.setJobGroup(op, op)
        if self.tracer:
            self.tracer.set_op(op)

    def timed(self, op: str, kind: str, fn):
        self.begin(op)
        c0 = host.cpu_s()
        t0 = time.time_ns()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.ops.append({"op": op, "kind": kind, "t0": t0, "t1": time.time_ns(), "error": True})
            raise
        finally:
            self.end()
        self.ops.append({"op": op, "kind": kind, "t0": t0, "t1": time.time_ns()})
        self.cpu_s += host.cpu_s() - c0
        return result

    def untimed(self, op: str, kind: str, fn):
        self.begin(op)
        try:
            return fn()
        finally:
            self.end()

    def end(self) -> None:
        """Stop charging Spark jobs and spans to the last operation."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if self.tracer:
            self.tracer.set_op(None)

    def record(self, op: str, kind: str, t0_ns: int, ms: float) -> None:
        """An operation timed by the engine itself (streaming progress)."""
        self.ops.append({"op": op, "kind": kind, "t0": t0_ns, "t1": t0_ns + int(ms * 1e6)})

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def time_left(self, start: float) -> float:
        return self.seconds - (time.perf_counter() - start)

    def op_seconds(self, kind: str | None = None) -> list[float]:
        return [
            (o["t1"] - o["t0"]) / 1e9
            for o in self.ops
            if not o.get("error") and (kind is None or o["kind"] == kind)
        ]


def percentile_tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it. Below 21 samples that percentile is under the
    median, so the median is reported, with percentile 50."""
    s = sorted(xs)
    if len(s) < 21:
        return statistics.median(s), 50.0
    i = len(s) - 11
    return s[i], round(100.0 * (i + 1) / len(s), 1)


def latency_summary(prefix: str, xs: list[float]) -> dict:
    tail, pct = percentile_tail(xs)
    return {
        f"{prefix}_p50_s": statistics.median(xs),
        f"{prefix}_tail_s": tail,
        f"{prefix}_tail_percentile": pct,
        f"{prefix}_samples": len(xs),
    }


class FileLedger:
    """Bytes of every file that ever appeared under a directory, sampled
    by ``scan``: what a table's commits wrote, even if expiry removes it."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, int] = {}
        self.scan()
        self.base = self.written()

    def scan(self) -> None:
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.seen:
                    try:
                        self.seen[p] = os.path.getsize(p)
                    except OSError:
                        pass

    def written(self) -> int:
        return sum(self.seen.values())


def du(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(root) for f in files
    )


# -- CDC helpers -----------------------------------------------------------
_SEED_SCHEMA = pa.schema([
    ("trans_id", pa.int32()),
    ("customer_id", pa.string()),
    ("event", pa.string()),
    ("sku", pa.string()),
    ("amount", pa.int32()),
    ("device", pa.string()),
    ("trans_datetime", pa.timestamp("us", tz="UTC")),
])


def _seed_table(spark, d: str, stream: cdcgen.CdcStream, properties=None):
    """The keyed retail table loaded with the stream's seed rows, plus
    its dead-letter table."""
    os.makedirs(d, exist_ok=True)
    cols = list(zip(*stream.seed_rows))
    cols[6] = [dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=dt.timezone.utc)
               for s in cols[6]]
    path = os.path.join(d, "seed.parquet")
    pq.write_table(pa.Table.from_arrays(
        [pa.array(c, t.type) for c, t in zip(cols, _SEED_SCHEMA)], schema=_SEED_SCHEMA
    ), path)
    table = LakeTable.create(
        os.path.join(d, "retail"), RETAIL_TRANS, keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION, properties=properties,
    )
    table.append(spark.read.parquet(path))
    dead = LakeTable.create(os.path.join(d, "dead"), DEAD_LETTER)
    return table, dead


def _changed(stream: cdcgen.CdcStream, before: dict) -> int:
    c = stream.changes(before)
    return c["INSERT"] + c["DELETE"] + c["UPDATE_AFTER"]


def _table_rows(table: LakeTable, spark):
    df = table.read(spark).select(
        "trans_id", "customer_id", "event", "sku", "amount", "device",
        F.date_format("trans_datetime", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    )
    return [tuple(r) for r in df.collect()]


def _check_final(run: Run, table: LakeTable, dead: LakeTable, stream: cdcgen.CdcStream) -> None:
    problems = cdcgen.compare_rows(stream.state, _table_rows(table, run.spark))
    run.check(not problems, f"final table differs from the reference: {problems}")
    n_dead = dead.row_count()
    run.check(
        n_dead == stream.malformed,
        f"dead-letter rows {n_dead} != malformed envelopes {stream.malformed}",
    )
    run.layer["table"] = table
    run.layer["dead_letter_rows"] = n_dead


# -- cdc_upsert ------------------------------------------------------------
def cdc_upsert(run: Run) -> None:
    spark = run.spark

    def build(d):
        stream = cdcgen.CdcStream(run.seed, SEED_ROWS, BATCH_SIZE)
        table, dead = _seed_table(spark, d, stream)
        return d, stream, table, dead

    d, stream, table, dead = run.setup(build)
    pipe = CdcStreamPipeline(table, "db", "tbl", dead_letter_table=dead)
    in_dir, ckpt = os.path.join(d, "in"), os.path.join(d, "ckpt")
    os.makedirs(in_dir)
    mtime0 = int(time.time()) - 100_000
    fed = {"files": 0, "bytes": 0}

    def drain(n: int, timed: bool = True) -> list[dict]:
        """Feed n batch files, then apply them with one available-now
        query: one file per micro-batch, back to back."""
        for _ in range(n):
            k = fed["files"]
            lines, before = stream.next_batch()
            run.changed_keys[f"batch{k}"] = _changed(stream, before)
            path = os.path.join(in_dir, f"batch-{k:05d}.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            # the file source takes files oldest first: pin the order
            os.utime(path, (mtime0 + k, mtime0 + k))
            fed["bytes"] += os.path.getsize(path)
            fed["files"] += 1
        c0 = host.cpu_s()
        q = pipe.start(spark, in_dir, ckpt, max_files_per_trigger=1, available_now=True)
        q.awaitTermination(170)
        if timed:
            run.cpu_s += host.cpu_s() - c0
        if q.isActive:
            q.stop()
            raise RuntimeError("streaming query did not drain its backlog")
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    # batch latency keeps falling over the first ~6 batches of a fresh
    # JVM (measured: ~7 s, then ~3 s, down to ~1.5 s), so those are not
    # timed
    drain(WARMUP_BATCHES, timed=False)
    ledger = FileLedger(table.root)
    bytes_in0 = fed["bytes"]
    progress: list[dict] = []
    start = time.perf_counter()
    # whole rounds of a fixed size, so each batch carries the same share
    # of a query's start and stop in cpu_s_per_op
    round_s: list[float] = []
    while not round_s or run.time_left(start) > round_s[-1] / 2:
        n = ROUND_BATCHES
        t0 = time.perf_counter()
        try:
            got = drain(n)
        except Exception:
            run.failed += n
            raise
        round_s.append(time.perf_counter() - t0)
        progress += got
        run.check(len(got) == n, f"{n} batch files fed, {len(got)} batches ran")
        ledger.scan()
        # the writer expires old snapshots in the gap between rounds, so
        # no expiry runs concurrently with a streaming commit
        run.untimed(f"expire{len(round_s)}", "expire",
                    lambda: maintenance.expire_snapshots(table, keep_last=2))
    for p in progress:
        t0 = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        run.record(f"batch{p['batchId']}", "batch", int(t0.timestamp() * 1e9),
                   p["durationMs"]["triggerExecution"])
        run.check(p["numInputRows"] == BATCH_SIZE,
                  f"batch {p['batchId']} read {p['numInputRows']} envelopes")
    batch_s = run.op_seconds("batch")
    run.detail.update(latency_summary("batch_latency", batch_s))
    run.detail["apply_throughput_rps"] = len(batch_s) * BATCH_SIZE / sum(batch_s)
    run.detail["write_amp"] = (ledger.written() - ledger.base) / (fed["bytes"] - bytes_in0)
    run.detail["stored_bytes_per_live_row"] = du(table.root) / len(stream.state)
    run.layer["bytes_written"] = ledger.written() - ledger.base
    run.layer["progress"] = [
        {"op": f"batch{p['batchId']}", "durationMs": p["durationMs"]} for p in progress
    ]
    run.layer["envelopes_in"] = len(progress) * BATCH_SIZE
    _check_final(run, table, dead, stream)


# -- snapshot_query --------------------------------------------------------
def _release_blocks(spark, before: set) -> None:
    """Unpersist RDDs a spec left cached, so later specs see the same heap."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in {int(k) for k in m.keySet().toArray()} - before:
        if m.containsKey(rid):
            m.get(rid).unpersist(True)


def _persistent_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of a DataFrame's own query execution; the
    noop write planned a separate one, so this plans the query again."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def snapshot_query(run: Run) -> None:
    spark = run.spark
    specs = [QUERY_SPECS[n] for n in SPECS]

    def build(d):
        counts = fixture.write(d, run.seed, SF)
        register_views(spark, d)
        return d, counts

    fx, counts = run.setup(build)
    run.detail["fixture_rows"] = counts
    # untimed warm-up pass, which is also the correctness pass
    first_rows = {}
    duck = oracle.connect(fx)
    try:
        for spec in specs:
            pids = _persistent_ids(spark)
            df = spec.run_spark(spark, fx)
            rows = [tuple(r) for r in df.collect()]
            if spec.no_oracle:
                first_rows[spec.name] = oracle.normalize(df.columns, rows)
            else:
                diff = oracle.compare(duck, spec.oracle_text(), df.columns, rows)
                run.check(diff is None, f"{spec.name}: {diff}")
            _release_blocks(spark, pids)
    finally:
        duck.close()

    phases: dict[str, list] = {"analysis": [], "optimization": [], "planning": []}
    passes: list[float] = []
    start = time.perf_counter()
    p = 0
    # whole passes, as many as come nearest to the run length, so every
    # spec weighs the same in the metrics
    while not passes or run.time_left(start) > passes[-1] / 2:
        pass_s = 0.0
        for spec in specs:
            pids = _persistent_ids(spark)
            holder = {}

            def op():
                holder["df"] = df = spec.run_spark(spark, fx)
                df.write.format("noop").mode("overwrite").save()

            run.timed(f"{spec.name}#{p}", "query", op)
            pass_s += (run.ops[-1]["t1"] - run.ops[-1]["t0"]) / 1e9
            if run.tracer:
                for k, v in _catalyst_phases_ms(holder["df"]).items():
                    phases[k].append(v)
            _release_blocks(spark, pids)
        passes.append(pass_s)
        p += 1

    for spec in specs:
        if spec.no_oracle:
            df = spec.run_spark(spark, fx)
            again = oracle.normalize(df.columns, [tuple(r) for r in df.collect()])
            run.check(again == first_rows[spec.name], f"{spec.name}: result changed between runs")
    q_s = run.op_seconds("query")
    run.detail.update(latency_summary("query_latency", q_s))
    run.detail["suite_wall_s"] = statistics.median(passes)
    run.detail["suite_passes"] = len(passes)
    run.layer["catalyst_ms"] = phases
    if run.tracer:
        # the old bench.py series timed .count(), which lets column
        # pruning drop most of a query's work; kept for comparison only
        legacy = {}
        for spec in specs:
            pids = _persistent_ids(spark)
            run.begin(f"legacy:{spec.name}")
            t0 = time.perf_counter()
            spec.run_spark(spark, fx).count()
            legacy[spec.name] = (time.perf_counter() - t0) * 1000
            run.end()
            _release_blocks(spark, pids)
        run.layer["legacy_count_ms"] = legacy


# -- lake_mor_churn --------------------------------------------------------
def lake_mor_churn(run: Run) -> None:
    spark = run.spark
    props = {
        "write.delete.mode": "merge-on-read",
        "optimize_rewrite_delete_file_threshold": str(MOR_REWRITE_THRESHOLD),
    }

    def build(d):
        stream = cdcgen.CdcStream(run.seed, SEED_ROWS, BATCH_SIZE, mix=MOR_MIX)
        table, dead = _seed_table(spark, d, stream, properties=props)
        return d, stream, table, dead

    d, stream, table, dead = run.setup(build)
    pipe = CdcStreamPipeline(table, "db", "tbl", dead_letter_table=dead)
    in_dir = os.path.join(d, "in")
    os.makedirs(in_dir)
    bytes_in = [0]
    files_ratio: list[float] = []

    def observed(df, name: str) -> tuple[int, int]:
        """Write df in full to the noop sink; (rows, sum of amount)."""
        obs = Observation(name)
        df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")).write.format(
            "noop"
        ).mode("overwrite").save()
        return obs.get["n"], obs.get["s"] or 0

    def cycle(b: int, call) -> None:
        prev_totals = stream.totals()
        v_prev = table.current_version()
        lines, before = stream.next_batch()
        run.changed_keys[f"b{b}"] = _changed(stream, before)
        path = os.path.join(in_dir, f"batch-{b:05d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        bytes_in[0] += os.path.getsize(path)
        call(f"b{b}", "batch", lambda: pipe.process_batch(read_cdc_batch(spark, path), b))
        ledger.scan()
        v_cur = table.current_version()

        got = call(f"b{b}.scan", "read", lambda: observed(table.read(spark), f"scan{b}"))
        run.check(got == stream.totals(), f"batch {b} scan: {got} != {stream.totals()}")

        hi = stream._next_key - 1
        lo = hi - SEED_ROWS // 10
        preds = [Predicate("trans_id", ">=", lo), Predicate("trans_id", "<=", hi)]
        got = call(f"b{b}.range", "read", lambda: observed(
            table.read(spark, predicates=preds).filter(F.col("trans_id").between(lo, hi)),
            f"range{b}",
        ))
        want = stream.totals(lo, hi)
        run.check(got == want, f"batch {b} key range: {got} != {want}")
        files_ratio.append(
            len(table.file_paths(predicates=preds)) / max(len(table.file_paths()), 1)
        )

        got = call(f"b{b}.agg", "read", lambda: {
            r["event"]: (r["n"], r["s"])
            for r in table.read(spark).groupBy("event")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")).collect()
        })
        run.check(got == stream.by_event(), f"batch {b} group-by differs")

        got = call(f"b{b}.prev", "read", lambda: observed(
            table.read(spark, version=v_prev), f"prev{b}"
        ))
        run.check(got == prev_totals, f"batch {b} previous version: {got} != {prev_totals}")

        got = call(f"b{b}.changelog", "read", lambda: {
            r["_change_type"]: r["n"]
            for r in table.changelog(spark, v_prev, v_cur).groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        })
        want = {k: v for k, v in stream.changes(before).items() if v}
        run.check(got == want, f"batch {b} changelog: {got} != {want}")

        if b % EXPIRE_EVERY == EXPIRE_EVERY - 1:
            call(f"b{b}.expire", "expire",
                 lambda: maintenance.expire_snapshots(table, keep_last=2))

    ledger = FileLedger(table.root)
    cycle(0, run.untimed)
    ledger = FileLedger(table.root)
    bytes_in[0] = 0
    start = time.perf_counter()
    b = 1
    while run.time_left(start) > 0:
        cycle(b, run.timed)
        b += 1
    ledger.scan()
    batch_s = run.op_seconds("batch")
    run.detail.update(latency_summary("batch_latency", batch_s))
    run.detail.update(latency_summary("query_latency", run.op_seconds("read")))
    run.detail["apply_throughput_rps"] = len(batch_s) * BATCH_SIZE / sum(batch_s)
    run.detail["write_amp"] = (ledger.written() - ledger.base) / bytes_in[0]
    run.detail["stored_bytes_per_live_row"] = du(table.root) / len(stream.state)
    run.layer["bytes_written"] = ledger.written() - ledger.base
    run.layer["files_scanned_ratio"] = statistics.mean(files_ratio)
    run.layer["envelopes_in"] = (b - 1) * BATCH_SIZE
    _check_final(run, table, dead, stream)


WORKLOADS = {
    "cdc_upsert": cdc_upsert,
    "snapshot_query": snapshot_query,
    "lake_mor_churn": lake_mor_churn,
}
