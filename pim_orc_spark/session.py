"""SparkSession factory with the engine's parity + scale configuration.

The reference (orc-parser/reader.cc:104-153) plans stripe-aligned,
shared-nothing partitions whose count derives from data size, then runs a
vectorized scan per partition. In Spark that planning is the file source's
job; the knobs below reproduce the same execution shape:

- ``spark.sql.files.maxPartitionBytes``: one input partition ~= one ORC
  stripe / parquet row group (reader.cc:110-111 "no thread ever spans two
  stripes").
- ``spark.sql.orc.enableVectorizedReader``: columnar batch iteration
  (reader.cc:43-58 reads stride-sized ColumnVectorBatches).
- ``spark.sql.orc.filterPushdown``: SARG row-group skipping — linked but
  unused in the reference (orc-parser/Makefile:37); on by default here.
- ``spark.sql.orc.compression.codec=snappy``: reference write parity
  (snappy/snappy.cc:1403-1420 decompresses Snappy blocks).

Scale stance (100 TB / 1000 executors): AQE on for runtime coalescing and
skew-join splitting; shuffle partition count is a *starting* number AQE
re-plans; Arrow transfers for every Python-side batch operator.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (not static) confs we re-assert on any session handed to us by a
# driver; safe to set after the session exists.
PARITY_RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics vs. the DuckDB oracle: fixture
    # parquet stores isAdjustedToUTC=false timestamps; pin session tz and
    # NTZ inference so values collect identically everywhere.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Fixture `events.ts` is INT64 TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as raw nanos and convert in the catalog (floor to
    # micros — the same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reference-parity ORC behavior (SURVEY.md §2.1 S5/S6, §4.1).
    "spark.sql.orc.enableVectorizedReader": "true",
    "spark.sql.orc.filterPushdown": "true",
    "spark.sql.orc.compression.codec": "snappy",
    "spark.sql.orc.aggregatePushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ORC on the DSv2 scan path (default V1 list minus orc): aggregate
    # pushdown only plans there, turning COUNT into a pure footer read —
    # the reference answers counts from stripe metadata the same way
    # (reader.cc:104-112). Parquet stays V1: bucketed-table scans (the
    # Exchange-free fact-fact join layout) are a V1 feature, and parquet
    # is the fixture path every oracle-audited plan shape was verified on.
    "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,parquet,text",
    # Adaptive execution: coalesce small shuffles, split skewed joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas_udf / applyInPandas / mapInArrow paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Whole-stage codegen is skipped for any operator whose output has
    # more fields than this (default 100). The MinHash engine's fused
    # signature aggregate outputs 1 + MINHASH_K + nb fields: on its
    # narrow branch that is up to 1 + 128 + CARRY_MASK_MAX_WORDS (64)
    # = 193, so at the default both its partial and final
    # HashAggregates ran interpreted (measured 2× slower on 2.92M gram
    # rows). 256 covers the widest narrow-branch plan.
    "spark.sql.codegen.maxFields": "256",
    # Local fixtures are small; stop broadcast-join misfires from tiny
    # stats is NOT a concern — keep default 10MB threshold.
}


def default_parallelism(spark: SparkSession) -> int:
    """Cluster default parallelism, transport-tolerant (r15 verdict
    #1): a classic session reads ``sparkContext.defaultParallelism``;
    a Spark Connect session exposes no SparkContext handle, so fall
    back to the session's shuffle-partition conf — sized to the
    cluster by the same deployment that sizes parallelism, and the
    number AQE re-plans from anyway. Operators size *starting*
    partition counts from this; exact equality between transports is
    not required (AQE owns the final number), only a sane positive
    cluster-shaped value."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def application_id(spark: SparkSession) -> str:
    """Application id, transport-tolerant: classic reads the
    SparkContext; under Spark Connect the server's ``spark.app.id``
    runtime conf is the same value fetched over RPC. Used only as a
    cache-scoping key (artifacts.py) — any stable-per-application
    string works."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        try:
            return spark.conf.get("spark.app.id")
        except Exception:
            # last resort: unique per session OBJECT, so two Connect
            # sessions in one process never share a cache-scoping key
            # (a constant here would defeat artifacts.py's eviction)
            return f"connect-app-{id(spark):x}"


def ensure_parity_confs(spark: SparkSession) -> SparkSession:
    """Assert runtime confs on an externally-created session (the driver
    owns its own SparkSession; every ``queries()`` callable routes through
    here so results are deterministic regardless of who built the session).
    Every conf is a runtime conf and a failure to set one raises: a
    silently-missing timezone, Arrow or AQE conf would change results or
    plans without a trace.
    """
    for k, v in PARITY_RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 24g.

    Local mode: the driver heap IS the executor memory — all task
    slots, shuffle/state stores and Arrow batch allocations share it.
    8g on a 32-thread, large-memory box caused measurable GC pressure
    (Arrow-heavy ANN queries degraded later shuffle queries ~1.5×), so
    big hosts get 24g. A fixed 24g on a smaller host is a heap the OS
    cannot back: the JVM grows into it and is OOM-killed instead of
    collecting or spilling (15 GiB, no swap). Half leaves room for the
    JVM's off-heap memory, Python workers and the OS. On a real
    cluster this knob is irrelevant — executor memory is sized
    per-node and the driver only coordinates.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(phys_mb // 2, 24 << 10)}m"


def get_spark(app_name: str = "pim_orc_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions start at 2×cores locally — on a real cluster this would be
    set to ~2-3× total executor cores and AQE coalesces down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Whole-stage-codegen class cache sized to the RESIDENT WORKLOAD,
        # not the 100-entry default (static conf, so set here). Measured
        # (r17): one pass of the 19-slot bench generates ~200+ distinct
        # codegen classes (dedup_minhash_lsh alone 76, containment 42,
        # each TPC-H slot 10-15), so at 100 entries every bench pass
        # EVICTED and RECOMPILED the working set — CodegenMetrics showed
        # +4200 ms of janino+JIT churn per warm dedup invocation inside
        # the suite vs +0 with the slots isolated (the "in-bench
        # elevation" of r16). A resident cluster serving a recurring
        # query mix is exactly this shape at any scale; the cache holds
        # class METADATA (~tens of KB/entry), so 2000 entries cost a few
        # tens of MB of metaspace against a steady-state win.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    ensure_parity_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
