"""Plan-shape helpers: small wrappers whose only job is to make Catalyst
produce the physical plan we want. Each one documents the optimizer
behavior it exists to steer — these are load-bearing at 100 TB, where a
single mis-shaped plan (an inferred filter that re-derives an expensive
expression, a one-partition stage on a 32-core box) turns a linear
operator into a quadratic one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pim_orc_spark.fsutil import versioned_memo


def require_query_execution(df: DataFrame):
    """The executed-plan metrics helpers below are the package's ONE
    documented py4j exception: Spark exposes no public API for
    post-execution per-operator metrics, so they walk
    ``df._jdf.queryExecution()`` (an object handle on this DataFrame,
    never a JVM class lookup). Spark Connect DataFrames carry no such
    handle — fail with the capability named instead of an
    AttributeError, so the operator surface (which IS Connect-clean;
    lint meta-test in tests/test_entry_contract.py) degrades loudly
    only here."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        raise RuntimeError(
            "executed-plan metrics need a classic (JVM-local) "
            "SparkSession: Spark Connect DataFrames expose no "
            "queryExecution handle. Use DataFrame.explain()/observe() "
            "under Connect."
        )
    return jdf


def explode_nonempty(col: Column | str) -> Column:
    """``explode`` for arrays the caller guarantees are non-empty.

    Uses ``explode_outer``, which is row-for-row identical to ``explode``
    on non-empty arrays, to keep Catalyst's ``InferFiltersFromGenerate``
    rule from firing. That rule synthesizes ``size(arr) > 0 AND arr IS
    NOT NULL`` from an inner explode; predicate pushdown then substitutes
    the *entire* array expression into the filter at the scan. When the
    array is expensive to derive (e.g. char n-grams: tokenize + join +
    per-position substring), the inferred filter re-computes it once per
    row with every sub-expression inlined — measured 30× slower than the
    generate itself on the documents fixture.

    Only use when the array provably has ≥1 element (our n-gram arrays
    always do: ``sequence(1, greatest(len-2, 1))`` yields ≥1 position).
    For possibly-empty arrays, plain ``explode`` keeps its drop-row
    semantics and the inferred filter is the price of correctness.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.explode_outer(c)


# path → (table_version, parquet footer row count). Footer metadata only
# (never data pages), memoized like catalog._SCHEMA_CACHE.
_ROWS_CACHE: dict[str, tuple[int, int]] = {}


def _input_rows(df: DataFrame) -> int | None:
    """Total row count of ``df``'s parquet input files from their
    footers — plan metadata plus one cached footer read per file, no
    Spark job. None when the plan has no file inputs or a footer is
    unreadable (non-parquet source)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += versioned_memo(
                _ROWS_CACHE, path, lambda: pq.ParquetFile(path).metadata.num_rows
            )
        except Exception:
            return None
    return total


def spread(
    spark: SparkSession,
    df: DataFrame,
    factor: int = 1,
    rows_per_part: int | None = None,
) -> DataFrame:
    """Repartition a CPU-bound input up to cluster parallelism if the
    file source under-partitioned it.

    File sources split by *bytes* (``spark.sql.files.maxPartitionBytes``),
    which is the right unit for scan-bound work. Kernels whose cost per
    byte is orders of magnitude above a scan (n-gram shingling, MinHash,
    per-token stats) inherit that split, so a small-but-expensive table
    lands in one task and serializes a 32-core box. At real scale the
    input has thousands of splits and this is a no-op — the repartition
    only happens when the file count is below parallelism, so no shuffle
    is added to an already-parallel plan.

    ``rows_per_part`` (r17) bounds the fan-out from the other side for
    VECTORIZED Python kernels: each partition of a ``mapInPandas``/
    ``mapInArrow`` stage costs one Python-worker round trip (~10-20 ms
    of task launch + Arrow serialization) regardless of row count, so
    fanning a tiny input to full parallelism pays 32 round trips to
    batch-score a few dozen rows each (measured on the 2000-row
    embeddings fixture: 32 parts min 1.65 s vs 4 parts 0.60 s for the
    same kernel and identical output). The target becomes
    ``min(parallelism × factor, ceil(rows / rows_per_part))`` — keyed
    on input size (parquet footer row counts, cached), NOT on the local
    core count: past ``rows_per_part × parallelism`` rows the cap never
    binds, so real-scale plans keep full fan-out. Callers pick the
    value by MEASURED kernel weight: the vector and codec kernels both
    won at 512 (similarity.VEC_ROWS_PER_PART / multimodal
    .MM_ROWS_PER_PART record the sweeps); per-row-heavy JVM kernels
    (n-gram shingling, token stats) deliberately do not set it — their
    per-partition compute dwarfs the round trip at any size worth
    spreading.

    The parallelism probe is ``df.inputFiles()`` — pure plan metadata.
    (``df.rdd.getNumPartitions()`` would be exact but converts the
    analyzed plan to an RDD on every call: planning overhead per query
    construction and incompatible with DSv2-only plan features.) A
    single file larger than maxPartitionBytes under-counts its splits
    and takes a redundant repartition; for the CPU-bound kernels this
    wraps, that shuffle is noise next to the kernel itself.
    """
    from pim_orc_spark.session import default_parallelism

    target = default_parallelism(spark) * factor
    if rows_per_part:
        rows = _input_rows(df)
        if rows is not None:
            target = max(1, min(target, -(-rows // rows_per_part)))
    try:
        n_inputs = len(df.inputFiles())
    except Exception:
        n_inputs = 0
    if n_inputs == 0:
        # Non-file plan (or a scan listing no files): probe the RDD
        # partition count instead of assuming narrow — an already-wide
        # in-memory plan must not take a silent extra shuffle. The RDD
        # conversion cost is acceptable here because this branch never
        # fires for the file scans all current call sites pass.
        try:
            n_inputs = df.rdd.getNumPartitions()
        except Exception:
            return df
    if n_inputs < target:
        return df.repartition(target)
    return df


def executed_scan_metrics(df: DataFrame) -> list[dict]:
    """Post-execution scan metrics, one dict per file-scan node in the
    EXECUTED physical plan (run an action first — metrics are zero
    until the plan executes).

    This is how a test proves a runtime-pruned scan actually skipped
    I/O rather than trusting the plan string: a dynamically-partition-
    pruned scan reports the files/partitions it READ (``numFiles``,
    ``numPartitions``) alongside the statically-planned total
    (``staticFilesNum``) — read < static is the skip, measured by the
    engine itself. Walks through AQE wrappers (AdaptiveSparkPlanExec,
    materialized QueryStage nodes) to reach the final executed tree;
    py4j-side traversal is bounded by plan size, never data."""
    out: list[dict] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec") or cls.endswith("QueryStage"):
            walk(node.plan())
            return
        if "Scan" in node.nodeName():
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append(metrics)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(require_query_execution(df).queryExecution().executedPlan())
    return out
