"""SparkSession factory.

Pins the configs that the oracle-differential tests and the 100 TB
design posture depend on:

- ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  the reference's envelopes carry ISO-8601 ``Z`` timestamps
  (reference: src/main/python/firehose_to_iceberg_transformer.py:62).
- AQE on (runtime join-strategy switch, skew split, partition
  coalescing) — stands in for the reference's managed-engine tuning
  (reference: cdk_stacks/dms_aurora_mysql_to_kinesis.py:137-140 keyed
  parallel apply).
- ``spark.sql.shuffle.partitions`` sized to cores for local mode; on a
  real cluster AQE coalescing makes the static value a ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transactional-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores). Runtime configs can be overridden via ``extra_conf``;
    NOTE Spark applies only runtime-modifiable configs when a session
    already exists in the process — a pre-existing session keeps its
    master and driver memory (a warning is emitted so a silently-ignored
    ``SPARK_DRIVER_MEMORY`` bump is visible).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # derive from the RESOLVED master, not the env: an explicit
        # master='local[2]' on a 64-core host must not over-shard every
        # shuffle 32x (AQE coalescing masks most paths, but clustered
        # writes suspend it); non-numeric env values fall back to all
        # cores instead of a bare ValueError (review round 11)
        m = master[master.find("[") + 1 : master.rfind("]")] if "[" in master else ""
        if m.isdigit():
            shuffle_partitions = max(int(m), 4)
        else:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/skew-split INSIDE .persist()ed plans (off by
        # default): a cached CDC micro-batch otherwise materializes with
        # the full static shuffle-partition fan-out, and every MERGE job
        # that re-reads the cache schedules those empty tasks again —
        # at 100 TB the same conf lets a cached hot dimension keep its
        # runtime-coalesced layout instead of the static ceiling
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # on by default, it captures the Python call site of every
        # F.*/DataFrame call for error messages: ~11 extra py4j round
        # trips per call (a CDC micro-batch builds ~181 of them) and a
        # failed `import IPython`. Errors lose only their DataFrame
        # call-site section.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 8 MB: dimension tables broadcast, filtered FACT tables never do.
        # (An earlier 64 MB setting made Q3 broadcast half of lineitem —
        # fast-looking locally, exactly the plan that cannot exist at
        # 100 TB; 8 MB is both faster here and the honest scale shape.)
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # a TIMESTAMP(NANOS) parquet column reads as long and the fixture
        # loader converts it (the fixtures' events.ts is µs today and
        # reads as TIMESTAMP_NTZ; this is the fallback for NANOS files)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # deterministic timestamp semantics for the DuckDB oracle
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    )
    memory = os.environ.get("SPARK_DRIVER_MEMORY")
    if memory:
        builder = builder.config("spark.driver.memory", memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # a creation-time config (driver memory) silently does NOT apply
    # to an already-running session. Warn only when the session
    # getOrCreate actually RETURNED carries a different value than was
    # requested — the old any-active-session check fired on every call
    # after the first even when that session was created by get_spark
    # with these exact settings, and the thread-local getActiveSession
    # missed a default-but-inactive session entirely (round-11 advice).
    # read the CONTEXT conf, not session.conf: getOrCreate copies the
    # builder's options onto an existing session's runtime conf, so the
    # session conf always "matches" even when the JVM was created with
    # different static settings — only the SparkContext conf holds the
    # values that actually applied at creation
    got = spark.sparkContext.getConf().get("spark.driver.memory", None)
    if memory and got != memory:
        import warnings

        warnings.warn(
            "get_spark: a SparkSession already exists in this process "
            "and its creation-time setting differs from the requested "
            f"one — spark.driver.memory={memory!r} (active session has "
            f"{got!r}). Stop the existing session first if it must "
            "take effect",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    # NOTE: the expected truncated-lineage WARNs from
    # connected_components' checkpoint-generation unpersists are
    # silenced with a scoped demote/restore around that call
    # (operators/dedup.py:_quiet_truncated_lineage_warns), not here —
    # a session-wide demotion would hide the logger's other legitimate
    # WARNs from every caller (r8 advice).
    return spark
