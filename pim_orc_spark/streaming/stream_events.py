"""Structured Streaming operators over `events`.

The reference is batch-only (its one program runs and exits,
orc-parser/reader.cc:69-170); its *internal* decompression request
engine is a micro-batching producer/consumer loop
(snappy/pim-snappy/pim_snappy.c:21-23,330 — dispatch when enough
requests wait or a 5 ms timer fires), which is exactly the shape of
Spark's micro-batch streaming engine. These operators are the
query-level streaming surface the north star asks for.

Harness design: each operator reads the events parquet as a FILE STREAM
(`readStream`), processes it with `Trigger.AvailableNow`, and runs to
completion into an in-memory sink, returning the final table. On a
finite input this makes the streaming result comparable row-for-row
with a batch/DuckDB oracle — the streaming analogue of the differential
test the reference implies with its CPU-vs-PIM builds (README.md:5-7).

Scale stance (100 TB / continuous):
- the memory sink is the TEST harness only; production writes
  `writeStream.format("delta"|"parquet"|"kafka")` with checkpointing —
  the transformation DataFrames are identical.
- windowed aggregations in complete mode here (so the finite run flushes
  every window); a continuous deployment uses append mode +
  `withWatermark` so state is bounded — the trade documented per
  operator.
- streaming dropDuplicates holds one state row per key; continuous
  deployments bound it with dropDuplicatesWithinWatermark.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pim_orc_spark.catalog import normalize_event_ts, parquet_schema
from pim_orc_spark.functions.numeric import (
    cents,
    cents_sql,
    exact_sum,
    exact_sum_sql,
)
from pim_orc_spark.session import default_parallelism, ensure_parity_confs

WINDOW = "10 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. Schema comes from
    the batch catalog's footer-schema cache (streams must declare
    schemas up front; re-inferring it per query start re-paid a footer
    read + plan analysis, ~0.14 s/start at r16); the nanos→micros ts
    normalization matches the batch catalog exactly."""
    ensure_parity_confs(spark)
    schema = parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
    # File streams take a directory; select just the events file from the
    # fixture dir. A production deployment points at a growing directory
    # (or Kafka) — everything downstream is unchanged.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


# Streaming state-store partitions: AQE cannot coalesce streaming
# shuffles, so every one of spark.sql.shuffle.partitions materializes a
# state store per micro-batch. At the session's default (2× cores, or
# the driver's 64-200) that set-up dominates a finite fixture run
# (round 1: only 1 of 6 streaming queries fit the driver's correctness
# sweep budget). One task wave is the floor: at most 8, and no more than
# the cores, so a 4-core host runs 4 stores, not two waves of 4. The
# count is baked into the query's checkpoint at start, so a production
# deployment sizes it once for peak state volume.
STATE_PARTITIONS_MAX = 8


def state_partitions(spark: SparkSession) -> int:
    """The shuffle-partition count every streaming run starts with."""
    return min(STATE_PARTITIONS_MAX, default_parallelism(spark))


# Serializes the shuffle-partition set/restore of stream_confs: two
# concurrent runs would otherwise clobber each other's restore value.
# Reentrant, so a caller that restarts a query from its own checkpoint
# can hold it across both runs. NOTE the remaining shared-session
# hazard: the conf is session-global, so a BATCH query planned
# concurrently in another thread while a streaming run is in flight
# silently plans with the state partition count. The bench/tests/driver
# all execute serially; a concurrent deployment should plan streaming
# queries on a dedicated `spark.newSession()` clone instead (per-query
# conf isolation, shared executors).
_CONF_LOCK = threading.RLock()


@contextmanager
def stream_confs(spark: SparkSession) -> Iterator[None]:
    """Hold the streaming conf lock with ``spark.sql.shuffle.partitions``
    at ``state_partitions(spark)``; restore the old value on exit."""
    with _CONF_LOCK:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(state_partitions(spark))
        )
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def run_stream(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run ``stream_df`` to completion with Trigger.AvailableNow — it
    processes everything currently in the source, then stops: the
    streaming equivalent of the reference's one-shot main() — and
    return the terminated query.

    ``sink`` is a memory-table name, ``"noop"`` or a foreachBatch
    function. Without a ``checkpoint`` the run gets a fresh directory,
    removed when the run ends, failed or not; a caller's checkpoint is
    left in place, so a crashed run can be restarted from it."""
    writer = stream_df.writeStream.outputMode(output_mode).trigger(
        availableNow=True
    )
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif sink == "noop":
        writer = writer.format("noop")
    else:
        writer = writer.format("memory").queryName(sink)
    own_checkpoint = checkpoint is None
    if own_checkpoint:
        checkpoint = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        with stream_confs(stream_df.sparkSession):
            q = writer.option("checkpointLocation", checkpoint).start()
            q.awaitTermination()
    finally:
        if own_checkpoint:
            shutil.rmtree(checkpoint, ignore_errors=True)
    return q


# memory-sink table names are session-global: a process-wide counter
# makes each run's name unique without probing the catalog
_MEMORY_TABLES = itertools.count()


def run_to_completion(
    stream_df: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the resulting (batch) table. The frame is analyzed against
    the sink itself, so the sink's temp view is dropped before
    returning: a session that runs an operator N times holds no N
    tables."""
    spark = stream_df.sparkSession
    qname = f"{name}_{next(_MEMORY_TABLES)}"
    run_stream(stream_df, qname, output_mode)
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out


def windowed_counts_append(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts for APPEND mode — the
    continuous-deployment form of ``stream_windowed_counts`` (SURVEY
    §8.5 open thread). ``withWatermark`` bounds state: a window's state
    row is EVICTED (and the finalized row emitted) once the watermark —
    max event time seen minus ``delay`` — passes the window end. Append
    mode therefore emits each window exactly once, late data beyond
    ``delay`` is dropped, and state held at any instant is only the
    windows inside the watermark horizon — the property that makes the
    operator runnable forever at 100 TB/day where complete mode's
    ever-growing result table cannot.

    Returns the transformed streaming DataFrame; the caller picks
    trigger/sink (tests drive it file-by-file with maxFilesPerTrigger
    to force multi-batch watermark advancement)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def stream_grouped_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous grouped aggregation: per event_type count + exact sum,
    complete mode. The plan is the same partial/final HashAggregate as
    batch with a state store between micro-batches; state is one row per
    group (bounded by the event_type alphabet), so it holds at any
    scale."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "sum_value"),
    )
    return run_to_completion(agg, "stream_grouped_totals", "complete")


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts (10-minute windows aligned to
    the epoch, exactly DuckDB's time_bucket). Complete mode so the
    finite run emits every window; a continuous deployment adds
    ``withWatermark("ts", <delay>)`` + append mode to bound state and
    emit windows as they finalize."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", WINDOW), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_completion(agg, "stream_windowed_counts", "complete")


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first occurrence per (user_id, event_type),
    append mode — the streaming form of the dedup_exact operator. State
    is one row per distinct key; unbounded key spaces use
    dropDuplicatesWithinWatermark to evict state older than the
    watermark (trading exactness outside the horizon, documented)."""
    ev = read_events_stream(spark, sf_dir)
    first_seen = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_completion(first_seen, "stream_dedup_keys", "append")


def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark actually RUNNING — the
    state-bounded streaming dedup ``stream_dedup_keys``' docstring
    only points at. The source is unioned with itself, so every event
    arrives exactly twice (the at-least-once delivery a Kafka ingest
    really produces); watermarked event_id dedup must collapse the
    stream back to exactly the source.

    Unlike plain dropDuplicates (one state row per key FOREVER), the
    within-watermark form EVICTS a key's state once the watermark
    passes its event time + delay — the property that makes streaming
    dedup runnable forever at 100 TB/day, trading exactness only for
    duplicate pairs farther apart in PROCESSING time than the delay.
    The duplicates here are fanned out INSIDE each source row
    (explode to two copies), so a duplicate pair always lands in the
    same micro-batch REGARDLESS of how the source batches its files —
    a union of two readStream legs would instead depend on
    availableNow scheduling both legs' files into one batch, and a
    multi-file source (or maxFilesPerTrigger) would let the advancing
    watermark evict state between the legs and re-admit old events
    (review fix). With same-batch duplicates the collapse is exact
    and the batch oracle is the source aggregate: no event lost,
    none doubled.

    The post-dedup per-type aggregate runs as a BATCH query over the
    sink table: Spark disallows a second stateful aggregation after
    streaming dedup in append mode without its own watermark, and the
    batch re-aggregation is the same pattern the exactly-once
    foreachBatch sink (stream_foreach_batch_sink) attests."""
    dup = (
        read_events_stream(spark, sf_dir)
        .withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("copy")
    )
    deduped = (
        dup.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    out = run_to_completion(deduped, "stream_dedup_wwm", "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
        exact_sum("value", "sum_value"),
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows: 10-minute windows every 5 minutes,
    so each event lands in exactly two windows. Same complete-mode
    flush rationale as the tumbling variant; state is 2× tumbling."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", WINDOW, "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_completion(agg, "stream_sliding_counts", "complete")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap, the
    streaming-native form of q18_sessionization. ``session_window``
    merges an event into the current session iff it arrives strictly
    less than 30 minutes after the previous one (break at gap ≥ 30 min);
    session_end = last event + gap. State is one open session per user;
    complete mode flushes all sessions on the finite run (continuous
    deployments use watermark + append so closed sessions emit as the
    watermark passes their end)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    return run_to_completion(agg, "stream_session_windows", "complete")


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator via ``applyInPandasWithState``: per-user
    running (event count, exact total in cents) held in explicit
    GroupState, one snapshot row emitted per group per micro-batch.

    This is the extension point for stateful logic Spark's built-ins
    can't express (per-key models, CUSUM/anomaly scores, decaying
    counters): Arrow-batched pandas in, explicit state tuple, append
    output. Money is accumulated as integer cents so state is exact
    and order-independent. The final snapshot per user equals the batch
    aggregate — the oracle below — so the operator is fully
    differential-tested despite being imperative code.

    Scale: state is one 3-int tuple per user in the state store;
    snapshots are O(active users) per batch. Continuous deployments add
    a state TTL (GroupStateTimeout) to retire idle keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state):
        if state.exists:
            n, cents, seq = state.get
        else:
            n, cents, seq = 0, 0, 0
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        seq += 1
        state.update((n, cents, seq))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
                "batch_seq": [seq],
            }
        )

    snap = ev.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, total_cents long, batch_seq long",
        "n long, cents long, seq long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_completion(snap, "stream_stateful_user_stats", "append")
    # one snapshot per (user, batch) — keep each user's last
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("batch_seq").desc())
    return (
        tbl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_cents") / 100.0).alias("total_value"),
        )
    )


def stream_enriched_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to a
    static dimension (customer ⋈ nation, pre-joined and broadcast), then
    aggregated per nation — the canonical streaming-ETL shape (enrich
    each event with slowly-changing reference data, then aggregate) that
    none of the other stream ops exercise.

    The static side is a batch DataFrame; Spark re-plans it at every
    micro-batch, so a dimension table that changes between batches is
    picked up automatically (the standard slowly-changing-dim pattern).
    ``F.broadcast`` keeps the join shuffle-free on the stream side:
    events flow map-side through BroadcastHashJoin into the windowless
    grouped aggregation, whose state is one row per nation — bounded by
    the dimension's cardinality, so the operator runs forever at any
    event volume. The reference has no streaming surface (its one-shot
    main(), orc-parser/reader.cc:69-170); this extends the micro-batch
    engine its request loop resembles (pim_snappy.c:21-23,330).
    """
    from pim_orc_spark.catalog import load_table

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
    )
    return run_to_completion(agg, "stream_enriched_totals", "complete")


ATTRIBUTION_HORIZON = "30 minutes"  # purchase counts if ≤ 30 min after click
# One shared late-data allowance for BOTH sides of the stream-stream
# joins AND the oracles' watermark-expiry cutoff — the three uses
# must agree or the outer join's eviction-driven emission no longer
# matches the batch truth, so the literal exists exactly once.
JOIN_WATERMARK_DELAY = "1 hour"


def _clicks_join_purchases(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Clicks joined to the same user's purchases made within
    ``ATTRIBUTION_HORIZON`` after them, both sides watermarked by
    ``JOIN_WATERMARK_DELAY``: the stream-stream join the three funnel
    operators below share; ``how`` is inner, left_outer or full_outer."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", JOIN_WATERMARK_DELAY)
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", JOIN_WATERMARK_DELAY)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
        how,
    )


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join — the one streaming shape with state on
    BOTH sides: every click within ``ATTRIBUTION_HORIZON`` of a same-user
    purchase, the canonical funnel-attribution query. Joined in append
    mode on user_id plus an event-time range condition.

    Scale shape: both sides carry ``withWatermark`` and the join
    condition bounds purchase time to [click_ts, click_ts + horizon], so
    Spark derives state-eviction watermarks for each side — a click is
    dropped from state once no future purchase could match it, and vice
    versa; state held at any instant is one horizon's worth of events
    per side, which runs forever at any volume. On the finite fixture
    the whole file is one micro-batch, so the append-mode output equals
    the batch range join (the oracle). The result rows are exact
    microsecond gaps — integers in both engines.
    """
    joined = _clicks_join_purchases(spark, sf_dir, "inner").select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("usecs_to_purchase"),
    )
    return run_to_completion(joined, "stream_click_attribution", "append")


def stream_click_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join — the state-EVICTION-driven
    output shape the inner join (``stream_click_attribution``) never
    exercises: clicks with NO same-user purchase inside the
    attribution horizon. An outer stream-stream join cannot emit the
    null-extended row when the click arrives (a matching purchase may
    still come); Spark emits it only when the click's state EXPIRES —
    when the global watermark (min of both sides' per-stream
    watermarks) passes click_ts + horizon, proving no future purchase
    can match. The row is then emitted exactly once and the state
    slot freed.

    Consequence the oracle must model: clicks too close to the end of
    the (finite) input never expire — their verdict is genuinely
    unknown at stream end — so the batch oracle applies the SAME
    cutoff (click_ts + horizon + delay < min(max click ts, max
    purchase ts), the watermark at the final no-data batch; the
    strict `<` matches Spark's state-removal predicate `ts <
    eviction watermark`). Scale: state per side is one
    horizon+delay's worth of events, independent of corpus size —
    the property that lets the join run forever."""
    joined = _clicks_join_purchases(spark, sf_dir, "left_outer")
    abandoned = joined.filter(F.col("purchase_id").isNull()).select(
        "user_id",
        "click_id",
        F.unix_micros(F.col("click_ts")).alias("click_us"),
    )
    return run_to_completion(
        abandoned, "stream_click_abandonment", "append"
    )


def stream_full_outer_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM FULL OUTER join — completing the streaming join
    taxonomy (inner: ``stream_click_attribution``; left outer:
    ``stream_click_abandonment``): a two-feed reconciliation that
    emits matched click↔purchase pairs as they meet, PLUS the
    null-extended leftovers of BOTH sides as their state expires.

    Eviction asymmetry the oracle must model (Spark derives each
    side's state watermark from the join condition): a CLICK can be
    matched by future purchases until the watermark W passes
    click_ts + horizon (purchases satisfy purchase_ts ≤ click_ts +
    horizon), so its null-extended row emits when click_ts + horizon
    < W — the abandonment cutoff. A PURCHASE can be matched by future
    clicks only while W ≤ purchase_ts (clicks satisfy click_ts ≤
    purchase_ts), so its null-extended row emits when purchase_ts <
    W — a CHEAPER retention (no horizon term), which is why the
    purchase side's state is the smaller of the two. Rows near stream
    end never expire (verdict genuinely unknown), so the batch oracle
    applies the same cutoffs at the final watermark
    W = min(max click ts, max purchase ts) − delay, strict `<`
    matching Spark's `ts < eviction watermark` removal predicate.

    Scale: state per side is bounded by its retention window
    (horizon+delay for clicks, delay for purchases), independent of
    corpus size — the full-outer form costs no more state than the
    left-outer form, only the extra emission path."""
    joined = _clicks_join_purchases(spark, sf_dir, "full_outer")
    recon = joined.select(
        F.coalesce("user_id", "p_user_id").alias("uid"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    return run_to_completion(
        recon, "stream_full_outer_reconcile", "append"
    )


def stream_tws_user_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via ``transformWithStateInPandas``
    — Spark 4's successor API to applyInPandasWithState, with
    composable TYPED state handles instead of one opaque tuple. This
    operator exercises the new surface (StatefulProcessor lifecycle +
    ValueState) on per-user running extremes: min/max value in exact
    integer cents plus the event count, one snapshot per user per
    micro-batch.

    State is a single typed row per user (the same O(active users)
    bound as the GroupState twin ``stream_stateful_user_stats``); a
    continuous deployment would add TTL via the handle's state TTL
    config. Money stays integer cents so state is exact and
    order-independent; the final snapshot equals the batch aggregate.

    ENVIRONMENT GATE: the transformWithState Python worker speaks
    protobuf to the JVM state server, and this container ships no
    ``protobuf`` package (pip installs are off-limits), so the query
    CANNOT run here — it raises a clear NotImplementedError instead of
    dying mid-stream with an opaque worker init failure. It is
    therefore not registered in QUERIES (same policy as the absent
    Avro package, SURVEY §8.5); deployments with protobuf get the full
    operator, and the GroupState twin covers the custom-stateful
    contract in this container's test suite."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(its Python worker speaks protobuf to the state server), "
            "which this environment does not provide; use "
            "stream_stateful_user_stats (applyInPandasWithState) here"
        ) from exc
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    class ExtremesProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("mn", LongType()),
                    StructField("mx", LongType()),
                    StructField("seq", LongType()),
                ]
            )
            self._state = handle.getValueState("extremes", schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, mn, mx, seq = self._state.get()
            else:
                n, mn, mx, seq = 0, None, None, 0
            for pdf in rows:
                cents = (pdf["value"] * 100).round().astype("int64")
                n += len(cents)
                bmn, bmx = int(cents.min()), int(cents.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            seq += 1
            self._state.update((n, mn, mx, seq))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "min_cents": [mn],
                    "max_cents": [mx],
                    "batch_seq": [seq],
                }
            )

        def close(self) -> None:
            pass

    snap = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ExtremesProcessor(),
        outputStructType=(
            "user_id long, n_events long, min_cents long, "
            "max_cents long, batch_seq long"
        ),
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_completion(snap, "stream_tws_user_extremes", "update")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("batch_seq").desc())
    return (
        tbl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("min_cents") / 100.0).alias("min_value"),
            (F.col("max_cents") / 100.0).alias("max_value"),
        )
    )


ADMIT_BLOCK_BELOW = 75  # static "already ingested" set: custkey < this


def stream_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup admit: a stream-static LEFT ANTI join
    — the streaming analogue of the batch ``dedup_incremental``
    operator, and the one stream-static join shape (anti) no other
    stream op exercises. Events whose user already exists in a static
    index (here: customers with custkey < ADMIT_BLOCK_BELOW standing in
    for the already-ingested fingerprint set) are dropped before any
    state is spent on them; admitted volume is then aggregated per
    event type.

    Scale shape: the static side re-plans every micro-batch (picks up
    index growth) and broadcasts, so admission is map-side and
    stateless — the only streaming state is the windowless aggregate's
    one row per event type. At 100 TB the static side becomes a
    fingerprint index or Bloom pre-filter; the plan is unchanged."""
    from pim_orc_spark.catalog import load_table

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    seen = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < ADMIT_BLOCK_BELOW)
        .select(F.col("c_custkey").alias("user_id"))
    )
    admitted = ev.join(F.broadcast(seen), "user_id", "left_anti")
    agg = admitted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_admitted"),
        exact_sum("value", "sum_value"),
    )
    return run_to_completion(agg, "stream_incremental_admit", "complete")


FB_SPLIT_FILES = 4  # pre-split source → one micro-batch per file


def _split_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events re-written as FB_SPLIT_FILES parquet files (fsutil
    atomic_build — shared cache protocol) so a maxFilesPerTrigger=1
    stream processes them as that many micro-batches — the
    multi-batch regime a single-file fixture can't otherwise
    produce."""
    from pim_orc_spark.fsutil import atomic_build

    from pim_orc_spark.fsutil import versioned_cache_dir

    path = versioned_cache_dir(
        "/tmp/pim_orc_spark/stream", sf_dir, "events_split"
    )

    def build(tmp: str) -> None:
        ensure_parity_confs(spark)
        (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .repartition(FB_SPLIT_FILES)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return atomic_build(path, build)


def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch IDEMPOTENT FILE SINK — the S7 sink family's
    production shape: each micro-batch lands in its own
    ``batch_id=N`` subdirectory with mode("overwrite"), so a replayed
    batch (restart between sink commit and checkpoint commit — the
    exactly-once gap every foreachBatch deployment must close)
    overwrites its own directory instead of duplicating rows. The
    source is the pre-split events copy streamed with
    maxFilesPerTrigger=1, so the run genuinely exercises multiple
    batches (asserted in pytest from the sink directory layout).

    The exported result re-reads the whole sink directory and
    aggregates — equality with the batch oracle proves no batch was
    lost or doubled across the batch boundaries. Scale: the sink
    write is the batch DataFrame's own distributed write (map-only
    here); checkpointing bounds replay to the last uncommitted batch."""
    src = _split_events_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    # KEYED sink dir, cleared per invocation (not mkdtemp): repeated
    # runs reuse one bounded location instead of accumulating a copy
    # of the events table per call (round-5 review). The checkpoint is
    # run_stream's fresh one — reusing one would make AvailableNow a
    # no-op on the second call.
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    sink_dir = os.path.join(
        "/tmp/pim_orc_spark/stream", sf_tag, "fb_sink"
    )
    shutil.rmtree(sink_dir, ignore_errors=True)
    os.makedirs(sink_dir, exist_ok=True)

    ev = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    ).select("event_id", "event_type", "value")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent: replaying batch N rewrites ONLY batch N's dir
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}")
        )

    run_stream(ev, write_batch)

    sunk = spark.read.option("basePath", sink_dir).parquet(sink_dir)
    # MATERIALIZE before returning (eager localCheckpoint): the keyed
    # sink dir is rmtree'd by the NEXT invocation, so a lazily-returned
    # frame over it could later read a partially rebuilt sink; the
    # checkpoint pins this run's aggregate (a few rows) independent of
    # the directory's future state.
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "sum_value"),
    ).localCheckpoint(eager=True)


def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE INTROSPECTION via Spark 4's State Data Source:
    ``spark.read.format("statestore").load(checkpoint)`` scans a
    Structured Streaming checkpoint's state store as a BATCH
    DataFrame — the ops surface for auditing/debugging a stateful
    pipeline without replaying it. At 100 TB/day the question "what
    is in the state store right now" is answered by a parallel batch
    scan of the checkpoint (one task per state-store partition — the
    read parallelizes exactly like the stream's own shuffle), never
    by instrumenting the live query or collecting to the driver.

    The entry runs the grouped-totals aggregation to a checkpoint,
    stops, and reads the final snapshot back: the ``key`` struct is
    the group column, the ``value`` struct is Spark's aggregation
    buffer (``count``, ``sum``). After an AvailableNow run has
    consumed the whole fixture, that state IS the batch aggregate —
    the oracle the driver checks, closing the loop from checkpoint
    bytes to SQL truth. Money flows as integer cents (the ``cents``
    contract) so the buffer is exact. The companion
    ``state-metadata`` format (operator / partition / batch
    inventory) is asserted in pytest.

    Reference analogue: none — the reference is a one-shot batch
    reader (reader.cc) with no persistent state; this is part of the
    §2.7 streaming surface the Spark engine adds."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("sum_cents"),
    )
    # KEYED checkpoint dir cleared per invocation (round-5 keyed-dir
    # policy): a REUSED checkpoint would make the second AvailableNow
    # run a no-op (nothing new to consume) and its state reader would
    # silently re-serve the previous run's snapshot.
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    ckpt_dir = os.path.join(
        "/tmp/pim_orc_spark/stream", sf_tag, "state_reader_ckpt"
    )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    run_stream(agg, "noop", "complete", ckpt_dir)

    state = spark.read.format("statestore").load(ckpt_dir)
    # MATERIALIZE eagerly: the keyed checkpoint is rmtree'd by the
    # NEXT invocation; the eager localCheckpoint pins this run's
    # 5-row snapshot independent of the directory's future state.
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("sum_cents"),
    ).localCheckpoint(eager=True)


def _cdc_merge_batch(
    batch_df: DataFrame, batch_id: int, state_root: str
) -> None:
    """One CDC merge step: generation N = newest-wins merge of
    generation N−1 (if any) with batch N's per-user latest delta,
    written to its own ``gen=N`` directory. Replay-idempotent: a
    rerun of batch N reads the still-intact gen N−1 and the same
    delta, producing the same bytes (crash-recovery pytest drives
    this through the exactly-once gap). Newest-wins is a
    lexicographic ``max(struct(ts, event_id, …))`` — event_id is
    globally unique, so the tiebreak is total and value never
    decides."""
    delta = batch_df.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
            "s"
        )
    )
    prev_dir = os.path.join(state_root, f"gen={batch_id - 1}")
    if os.path.isdir(prev_dir):
        prev = batch_df.sparkSession.read.parquet(prev_dir).select(
            "user_id",
            F.struct("ts", "event_id", "event_type", "value").alias("s"),
        )
        merged = prev.unionByName(delta)
    else:
        merged = delta
    state = merged.groupBy("user_id").agg(F.max("s").alias("s"))
    state.select("user_id", "s.*").write.mode("overwrite").parquet(
        os.path.join(state_root, f"gen={batch_id}")
    )


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY LOOP — foreachBatch MERGE maintaining a keyed
    dimension table across micro-batches: the production pattern that
    keeps a serving table in sync with a change stream (Delta/Iceberg
    ``MERGE INTO`` inside foreachBatch; here the sink is plain parquet
    with explicit GENERATION directories, the same file-level contract
    those formats implement underneath).

    Each micro-batch reduces to its per-user LATEST observation (one
    ``max(struct(ts, event_id, …))`` aggregate — newest-wins by event
    time, event_id tiebreak, exactly q44's CDC resolution), then
    merges into the state table: generation N = merge(generation N−1,
    batch N), written to its own ``gen=N`` directory. Idempotence
    across the exactly-once gap: a REPLAYED batch N rewrites gen N
    from the still-intact gen N−1 and the same delta — same bytes, no
    doubling (the generation chain is the poor man's transaction log).

    The source streams with maxFilesPerTrigger=1 over the pre-split
    events copy, so multiple generations genuinely happen. Final
    state == the batch window-latest truth over ALL events — the
    oracle a CDC apply loop must satisfy.

    100 TB shape: the per-batch delta aggregate is map-side partial;
    the merge is one key shuffle of state ∪ delta (state is one row
    per live entity — dimension-sized, not fact-sized); table formats
    replace the full-state rewrite with file-level merge-on-read, but
    the dataflow (delta agg + keyed merge) is identical."""
    src = _split_events_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    state_root = os.path.join(
        "/tmp/pim_orc_spark/stream", sf_tag, "cdc_state"
    )
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)

    ev = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    ).select("user_id", "ts", "event_id", "event_type", "value")

    generations: list[int] = []

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _cdc_merge_batch(batch_df, batch_id, state_root)
        generations.append(batch_id)

    run_stream(ev, apply_batch)

    final_gen = os.path.join(state_root, f"gen={max(generations)}")
    state = spark.read.parquet(final_gen)
    # eager materialization: the keyed state root is rmtree'd by the
    # next invocation (same contract as stream_foreach_batch_sink)
    return state.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        cents("value").alias("val_cents"),
    ).localCheckpoint(eager=True)


QUERIES = {
    "stream_grouped_totals": stream_grouped_totals,
    "stream_foreach_batch_sink": stream_foreach_batch_sink,
    "stream_incremental_admit": stream_incremental_admit,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_session_windows": stream_session_windows,
    "stream_dedup_keys": stream_dedup_keys,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_cdc_apply": stream_cdc_apply,
    "stream_stateful_user_stats": stream_stateful_user_stats,
    # stream_tws_user_extremes is NOT registered: its worker needs the
    # protobuf package this container lacks (see its docstring gate)
    "stream_enriched_totals": stream_enriched_totals,
    "stream_click_attribution": stream_click_attribution,
    "stream_click_abandonment": stream_click_abandonment,
    "stream_full_outer_reconcile": stream_full_outer_reconcile,
    "stream_state_reader": stream_state_reader,
}

ORACLES = {
    # NOT EXISTS (not NOT IN): the anti-join's NULL semantics
    "stream_incremental_admit": f"""
        SELECT event_type, COUNT(*) AS n_admitted,
               {exact_sum_sql("value", "sum_value")}
        FROM events e
        WHERE NOT EXISTS (
          SELECT 1 FROM customer c
          WHERE c.c_custkey < {ADMIT_BLOCK_BELOW}
            AND c.c_custkey = e.user_id
        )
        GROUP BY event_type
    """,
    "stream_grouped_totals": f"""
        SELECT event_type, COUNT(*) AS n_events,
               {exact_sum_sql("value", "sum_value")}
        FROM events GROUP BY event_type
    """,
    # the checkpoint's final state snapshot == the batch aggregate:
    # the state reader exposes the agg BUFFER (count, integer-cents
    # sum), both exact
    "stream_state_reader": f"""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM({cents_sql("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type
    """,
    # the sink round-trip must reproduce the batch aggregate exactly —
    # no batch lost, none doubled
    "stream_foreach_batch_sink": f"""
        SELECT event_type, COUNT(*) AS n_events,
               {exact_sum_sql("value", "sum_value")}
        FROM events GROUP BY event_type
    """,
    "stream_windowed_counts": f"""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               event_type, COUNT(*) AS n_events,
               {exact_sum_sql("value", "sum_value")}
        FROM events GROUP BY 1, 2
    """,
    "stream_dedup_keys": (
        "SELECT DISTINCT user_id, event_type FROM events"
    ),
    # the self-unioned stream deduped on event_id == the source: the
    # duplicates are same-event-time redeliveries, always inside the
    # watermark horizon, so the collapse is exact
    "stream_dedup_within_watermark": f"""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
               {exact_sum_sql("value", "sum_value")}
        FROM events GROUP BY event_type
    """,
    # the CDC apply loop's final state == the batch window-latest
    # truth per user (ts DESC, event_id DESC — the same newest-wins
    # resolution the per-batch struct max applies incrementally)
    "stream_cdc_apply": """
        SELECT user_id, event_type,
               epoch_us(ts) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS val_cents
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    # each event belongs to the two 5-min-aligned windows covering it:
    # the one starting at its 5-min bucket and the one 5 min earlier
    "stream_sliding_counts": """
        WITH hits AS (
          SELECT event_type,
                 unnest([time_bucket(INTERVAL '5 minutes', ts),
                         time_bucket(INTERVAL '5 minutes', ts)
                           - INTERVAL '5 minutes']) AS window_start
          FROM events
        )
        SELECT window_start, event_type, COUNT(*) AS n_events
        FROM hits GROUP BY 1, 2
    """,
    # Gaps-and-islands with session_window's exact semantics: break when
    # the µs gap is >= 30 min; end = last event + 30 min. Tie order
    # within equal ts is irrelevant (gap 0 always merges).
    "stream_session_windows": f"""
        WITH ordered AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           >= 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ), idx AS (
          SELECT user_id, ts, value,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sidx
          FROM ordered
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS n_events,
               {exact_sum_sql("value", "session_value")}
        FROM idx GROUP BY user_id, sidx
    """,
    # final GroupState snapshot per user == the batch aggregate; cents
    # accumulation matches decimal(18,2) exactly for 2-dp inputs
    "stream_stateful_user_stats": f"""
        SELECT user_id, COUNT(*) AS n_events,
               {exact_sum_sql("value", "total_value")}
        FROM events GROUP BY user_id
    """,
    "stream_enriched_totals": f"""
        SELECT n_name, COUNT(*) AS n_events,
               {exact_sum_sql("value", "sum_value")}
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name
    """,
    # watermark-expiry cutoff: only clicks whose whole match window
    # passed the final watermark (min of both sides' max ts - delay)
    # are emitted by the streaming outer join; the oracle applies the
    # identical cutoff (see stream_click_abandonment docstring)
    "stream_click_abandonment": f"""
        WITH wm AS (
          SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
          ) - INTERVAL {JOIN_WATERMARK_DELAY} AS w
        )
        SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase'
              AND p.user_id = c.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_HORIZON}
          )
          AND c.ts + INTERVAL {ATTRIBUTION_HORIZON} < wm.w
    """,
    "stream_click_attribution": f"""
        SELECT a.user_id, a.event_id AS click_id,
               b.event_id AS purchase_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS usecs_to_purchase
        FROM events a JOIN events b ON a.user_id = b.user_id
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
          AND b.ts >= a.ts
          AND b.ts <= a.ts + INTERVAL {ATTRIBUTION_HORIZON}
    """,
    # full outer = matched pairs ∪ expired-unmatched of EACH side,
    # each side at ITS OWN eviction cutoff (see the op docstring)
    "stream_full_outer_reconcile": f"""
        WITH wm AS (
          SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
          ) - INTERVAL {JOIN_WATERMARK_DELAY} AS w
        )
        SELECT c.user_id AS uid, c.event_id AS click_id,
               p.event_id AS purchase_id,
               epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        FROM events c JOIN events p ON c.user_id = p.user_id
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_HORIZON}
        UNION ALL
        SELECT c.user_id AS uid, c.event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               epoch_us(c.ts) AS click_us, CAST(NULL AS BIGINT) AS purchase_us
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_HORIZON}
          )
          AND c.ts + INTERVAL {ATTRIBUTION_HORIZON} < wm.w
        UNION ALL
        SELECT p.user_id AS uid, CAST(NULL AS BIGINT) AS click_id,
               p.event_id AS purchase_id,
               CAST(NULL AS BIGINT) AS click_us, epoch_us(p.ts) AS purchase_us
        FROM events p, wm
        WHERE p.event_type = 'purchase'
          AND NOT EXISTS (
            SELECT 1 FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_HORIZON}
          )
          AND p.ts < wm.w
    """,
}
