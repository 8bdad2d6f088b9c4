"""Streaming operators: run-to-completion results vs batch DuckDB
oracles (the streaming analogue of the reference's CPU-vs-PIM
differential check, README.md:5-7)."""

from __future__ import annotations

import pytest

from pim_orc_spark.oracle import compare
from pim_orc_spark.streaming import stream_events


@pytest.mark.parametrize("name", sorted(stream_events.QUERIES))
def test_stream_matches_batch_oracle(spark, sf_dir, name):
    df = stream_events.QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, stream_events.ORACLES[name], sf_dir)
    assert ok, f"{name}: {msg}"


def test_repeat_invocation_isolated(spark, sf_dir, round_trips):
    """Memory-sink table names must not collide across invocations in
    one session (the driver sweeps queries() repeatedly), and a run
    leaves no memory-sink table behind: N calls hold no N tables of
    driver memory, and no name probe grows with the earlier calls, so
    every warm build costs the same gateway round trips."""

    def tables():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_grouped_totals")
        }

    before = tables()
    counts, calls = [], []
    for _ in range(5):
        n, df = round_trips(
            stream_events.stream_grouped_totals, spark, sf_dir
        )
        calls.append(n)
        counts.append(df.count())
    assert counts == [5] * 5
    assert len(tables()) <= len(before), sorted(tables() - before)
    assert len(set(calls[1:])) == 1, calls


def test_run_stream_failure_restores_conf_and_own_checkpoint(
    spark, tmp_path
):
    """A foreachBatch function that raises through run_stream: the
    session's shuffle-partition count is restored, the checkpoint the
    helper created is removed, and a caller's checkpoint stays (the
    crash-recovery tests restart from it)."""
    import glob
    import os
    import tempfile

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    seen = []

    def fail(batch_df, batch_id):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("simulated sink failure")

    def own_checkpoints():
        return set(
            glob.glob(os.path.join(tempfile.gettempdir(), "stream_ckpt_*"))
        )

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert parts != str(stream_events.state_partitions(spark))
    before = own_checkpoints()
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(Exception, match="simulated sink failure"):
        stream_events.run_stream(stream, fail)
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert own_checkpoints() == before

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="simulated sink failure"):
        stream_events.run_stream(stream, fail, checkpoint=ckpt)
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert seen == [str(stream_events.state_partitions(spark))] * 2


def test_state_reader_metadata_inventory(spark, sf_dir):
    """The state reader's companion ``state-metadata`` format: after a
    stream_state_reader run, the checkpoint's metadata inventory names
    the aggregation operator, the pinned state partition count, and
    the committed batch range — the facts an operator on call reads
    FIRST (which stores exist, how many partitions to scan) before
    pointing the statestore reader at a multi-TB checkpoint."""
    import os

    stream_events.stream_state_reader(spark, sf_dir)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    ckpt = os.path.join(
        "/tmp/pim_orc_spark/stream", sf_tag, "state_reader_ckpt"
    )
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1, f"expected one stateful operator, got {md}"
    row = md[0]
    assert row.operatorName == "stateStoreSave"
    assert row.numPartitions == stream_events.state_partitions(spark)
    assert row.minBatchId == 0 and row.maxBatchId >= row.minBatchId


def test_dedup_within_watermark_bounds_state_and_reemits(spark, tmp_path):
    """dropDuplicatesWithinWatermark is the state bound the
    stream_dedup_keys docstring prescribes for unbounded key spaces:
    duplicates inside the watermark horizon are dropped, a key's state
    is EVICTED once the watermark passes, and a later re-occurrence is
    re-emitted (the documented exactness trade outside the horizon).
    This drives all three behaviors across micro-batches."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(minutes, uid):
        return (t0 + dt.timedelta(minutes=minutes), uid)

    batches = [
        [ev(0, "u1"), ev(1, "u1"), ev(0, "u2")],  # in-batch dup of u1
        [ev(5, "u1")],  # dup within the 10-min horizon → dropped
        [ev(600, "u3")],  # watermark jumps past u1/u2 expiry
        # eviction runs at END of batch: this batch still sees u1's
        # expired-but-present state and dedups against it...
        [ev(605, "u1")],
        # ...and only now, with the state evicted, does u1 re-emit
        [ev(610, "u1")],
    ]
    src = tmp_path / "dedup_src"
    src.mkdir()
    schema = "ts timestamp, user_id string"
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id"]
    )

    progress = stream_events.run_stream(
        deduped, "wm_dedup_test"
    ).recentProgress

    rows = sorted(
        (r["user_id"], r["ts"]) for r in spark.table("wm_dedup_test").collect()
    )
    assert rows == [
        ("u1", t0),
        ("u1", t0 + dt.timedelta(minutes=610)),
        ("u2", t0),
        ("u3", t0 + dt.timedelta(minutes=600)),
    ], rows
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 2, [p.get("stateOperators") for p in progress]


def test_watermark_append_evicts_state_and_emits_complete_windows(
    spark, tmp_path
):
    """The continuous-deployment path (SURVEY §8.5): withWatermark +
    append mode over a multi-batch run must (a) actually EVICT window
    state as the watermark passes, (b) emit exactly the closed windows,
    and (c) emit them COMPLETE — counts spanning micro-batch boundaries
    must equal the batch ground truth, proving state persisted until
    finalization, not a batch at a time."""
    import datetime as dt
    import time as _time

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(minutes):
        return [
            (t0 + dt.timedelta(minutes=m), "click", float(m)) for m in minutes
        ]

    # Three files = three micro-batches (maxFilesPerTrigger=1, ordered
    # by mtime). Window W0=[00:00,00:10) spans batches 1 and 2 — its
    # count is only right if state carries across batches. Batch 3 sits
    # 10 h ahead: the watermark (max_ts - 10 min) passes every earlier
    # window end, so W0..W2 must finalize; batch 3's own window stays
    # open and must NOT be emitted.
    batches = [
        rows([0, 3]),  # W0 partial
        rows([7, 12, 25]),  # W0 rest, W1=[10,20), W2=[20,30)
        rows([600]),  # advances the watermark far past W0..W2
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "ts timestamp, event_type string, value double"
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    agg = stream_events.windowed_counts_append(stream, delay="10 minutes")

    progress = stream_events.run_stream(
        agg, "wm_append_test"
    ).recentProgress

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.table("wm_append_test").collect()
    }
    # (b)+(c): exactly the closed windows, with cross-batch-complete counts
    expect = {
        (t0, "click"): 3,  # 0, 3 | 7 — spans batches 1 and 2
        (t0 + dt.timedelta(minutes=10), "click"): 1,  # 12
        (t0 + dt.timedelta(minutes=20), "click"): 1,  # 25
    }
    assert got == expect, got
    # (a): the state store reported evicted rows for the closed windows
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert removed >= len(expect), [
        p.get("stateOperators") for p in progress
    ]


def test_tws_operator_gates_cleanly_without_protobuf(spark, sf_dir):
    """transformWithStateInPandas needs the protobuf package this
    container lacks; the operator must fail FAST with a clear message
    (not mid-stream with an opaque worker-init error), and must stay
    unregistered so the driver sweep never trips on it."""
    import pytest

    from pim_orc_spark.streaming import stream_events

    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf available here; the gate only fires without it")
    except ImportError:
        pass
    assert "stream_tws_user_extremes" not in stream_events.QUERIES
    with pytest.raises(NotImplementedError, match="protobuf"):
        stream_events.stream_tws_user_extremes(spark, sf_dir)


def test_foreach_batch_sink_is_multi_batch_and_idempotent(spark, sf_dir):
    """The foreachBatch sink run must (a) actually process MULTIPLE
    micro-batches (one per pre-split source file — a single-batch run
    would not exercise the batch-boundary consistency the oracle
    certifies), and (b) lay the sink out one directory per batch id —
    the idempotent-replay layout where a re-run batch overwrites only
    itself."""
    import os

    from pim_orc_spark.streaming.stream_events import (
        FB_SPLIT_FILES,
        stream_foreach_batch_sink,
    )

    stream_foreach_batch_sink(spark, sf_dir).collect()
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    sink = os.path.join("/tmp/pim_orc_spark/stream", sf_tag, "fb_sink")
    batches = [d for d in os.listdir(sink) if d.startswith("batch_id=")]
    assert len(batches) == FB_SPLIT_FILES, batches


def test_foreach_batch_sink_recovers_from_mid_run_crash(spark, sf_dir, tmp_path):
    """Exactly-once across a CRASH: a foreachBatch run whose sink
    function raises after committing batch 1 (the worst spot — sink
    committed, checkpoint not) must, when RESTARTED with the same
    checkpoint, replay only the uncommitted batch and finish with a
    sink equal to the batch truth — one directory per batch, no batch
    lost, the replayed batch not doubled. This is the recovery
    contract the per-batch overwrite layout exists to provide."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from pim_orc_spark.functions.numeric import exact_sum
    from pim_orc_spark.streaming.stream_events import (
        FB_SPLIT_FILES,
        _split_events_dir,
        normalize_event_ts,
        parquet_schema,
        run_stream,
        stream_confs,
    )

    src = _split_events_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(sink)

    def stream():
        return (
            normalize_event_ts(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            ).select("event_id", "event_type", "value")
        )

    def make_writer(crash_after):
        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(sink, f"batch_id={batch_id}")
            )
            if crash_after is not None and batch_id >= crash_after:
                # crash AFTER the sink commit, BEFORE the checkpoint
                # commit — the exactly-once gap
                raise RuntimeError("simulated sink crash")

        return write_batch

    with stream_confs(spark):
        with pytest.raises(Exception, match="simulated sink crash"):
            run_stream(stream(), make_writer(crash_after=1), checkpoint=ckpt)
        crashed_batches = {
            d for d in os.listdir(sink) if d.startswith("batch_id=")
        }
        assert crashed_batches == {"batch_id=0", "batch_id=1"}

        # RESTART with the same checkpoint: batch 1 (uncommitted in
        # the checkpoint) replays — overwriting its own directory —
        # then the remaining batches run to completion
        run_stream(stream(), make_writer(crash_after=None), checkpoint=ckpt)

    batches = {d for d in os.listdir(sink) if d.startswith("batch_id=")}
    assert batches == {
        f"batch_id={i}" for i in range(FB_SPLIT_FILES)
    }, batches

    got = {
        tuple(r)
        for r in spark.read.option("basePath", sink)
        .parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", "s"),
        )
        .collect()
    }
    con = duckdb.connect()
    exp = {
        tuple(r)
        for r in con.execute(
            f"""
            SELECT event_type, COUNT(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM '{sf_dir}/events.parquet' GROUP BY event_type
            """
        ).fetchall()
    }
    assert got == exp


def test_cdc_apply_recovers_from_mid_run_crash(spark, sf_dir, tmp_path):
    """CDC-apply exactly-once across a CRASH in the worst spot (gen
    committed, checkpoint not): restarting with the same checkpoint
    replays the uncommitted batch, which rewrites its OWN generation
    from the still-intact previous one — same bytes, no doubling —
    and the final generation equals the window-latest batch truth."""
    import os

    import duckdb

    from pim_orc_spark.streaming.stream_events import (
        _cdc_merge_batch,
        _split_events_dir,
        normalize_event_ts,
        parquet_schema,
        run_stream,
        stream_confs,
    )

    src = _split_events_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    state_root = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(state_root)

    def stream():
        return normalize_event_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        ).select("user_id", "ts", "event_id", "event_type", "value")

    def make_apply(crash_after):
        def apply_batch(batch_df, batch_id):
            _cdc_merge_batch(batch_df, batch_id, state_root)
            if crash_after is not None and batch_id >= crash_after:
                raise RuntimeError("simulated cdc crash")

        return apply_batch

    with stream_confs(spark):
        with pytest.raises(Exception, match="simulated cdc crash"):
            run_stream(stream(), make_apply(crash_after=1), checkpoint=ckpt)
        assert {
            d for d in os.listdir(state_root) if d.startswith("gen=")
        } == {"gen=0", "gen=1"}

        run_stream(stream(), make_apply(crash_after=None), checkpoint=ckpt)

    gens = sorted(
        int(d.split("=")[1])
        for d in os.listdir(state_root)
        if d.startswith("gen=")
    )
    assert gens == list(range(gens[-1] + 1)), gens
    final = spark.read.parquet(
        os.path.join(state_root, f"gen={gens[-1]}")
    )
    got = {
        (r.user_id, r.event_type, r.event_id) for r in final.collect()
    }
    exp = {
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT user_id, event_type, event_id FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM '{sf_dir}/events.parquet'
            ) WHERE rn = 1
            """
        ).fetchall()
    }
    assert got == exp


def test_state_reader_change_feed_tracks_batch_deltas(spark, tmp_path):
    """``readChangeFeed`` on the statestore source (requires RocksDB
    changelog checkpointing): the per-batch PUT trail of the state
    store — the audit answer to "when did this key's state change",
    read as a batch DataFrame instead of replaying the stream. Three
    single-file micro-batches of 50 rows over 5 keys must leave one
    'update' per (key, batch) carrying the RUNNING count (10/20/30),
    and the feed's last update per key must equal the final snapshot
    the plain statestore read returns."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "cf_src"
    src.mkdir()
    ckpt = str(tmp_path / "cf_ckpt")
    schema = "k int, v long"
    for b in range(3):
        spark.createDataFrame(
            [(i % 5, b * 100 + i) for i in range(50)], schema
        ).coalesce(1).write.parquet(str(src / f"b{b}.parquet"))

    PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    CHANGELOG_KEY = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    ROCKS = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old_provider = spark.conf.get(PROVIDER_KEY, None)
    spark.conf.set(PROVIDER_KEY, ROCKS)
    spark.conf.set(CHANGELOG_KEY, "true")
    try:
        agg = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        stream_events.run_stream(agg, "noop", "complete", ckpt)
    finally:
        if old_provider is None:
            spark.conf.unset(PROVIDER_KEY)
        else:
            spark.conf.set(PROVIDER_KEY, old_provider)
        spark.conf.unset(CHANGELOG_KEY)

    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    rows = feed.select(
        "batch_id", "change_type", "key.k", "value.count"
    ).collect()
    assert {r.change_type for r in rows} == {"update"}
    got = {(r.batch_id, r.k, r["count"]) for r in rows}
    exp = {(b, k, (b + 1) * 10) for b in range(3) for k in range(5)}
    assert got == exp, f"change feed mismatch: {sorted(got ^ exp)}"

    snap = spark.read.format("statestore").load(ckpt)
    final = {
        (r.k, r["count"])
        for r in snap.select("key.k", "value.count").collect()
    }
    last_updates = {(k, n) for (b, k, n) in got if b == 2}
    assert final == last_updates == {(k, 30) for k in range(5)}


def test_state_reader_exposes_both_join_sides(spark, tmp_path):
    """The statestore source's ``joinSide`` option: a stream-stream
    join buffers BOTH inputs in state until the watermark proves no
    future match can arrive — the memory bill a 100 TB join pays —
    and the state reader audits exactly what is buffered per side
    without replaying the stream. Two left rows and one right row
    inside the horizon must be visible, verbatim, in their sides'
    stores after the run."""
    import os

    from pyspark.sql import functions as F

    l_src, r_src = tmp_path / "jl", tmp_path / "jr"
    ckpt = str(tmp_path / "jckpt")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:01:00")],
        "k int, ts string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts").coalesce(
        1
    ).write.parquet(str(l_src))
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:30")], "k int, ts string"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts").coalesce(
        1
    ).write.parquet(str(r_src))

    ls = (
        spark.readStream.schema("k int, ts timestamp")
        .parquet(str(l_src))
        .withWatermark("ts", "10 minutes")
    )
    rs = (
        spark.readStream.schema("k int, ts timestamp")
        .parquet(str(r_src))
        .withWatermark("ts", "10 minutes")
    )
    j = ls.alias("l").join(
        rs.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & F.col("r.ts").between(
            F.col("l.ts"),
            F.col("l.ts") + F.expr("INTERVAL 5 MINUTES"),
        ),
    )
    stream_events.run_stream(j, "noop", "append", ckpt)

    def side_rows(side):
        st = (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(ckpt)
        )
        return {
            (r.k, str(r.ts))
            for r in st.select("value.k", "value.ts").collect()
        }

    assert side_rows("left") == {
        (1, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:01:00"),
    }
    assert side_rows("right") == {(1, "2024-01-01 00:00:30")}


def test_rocksdb_state_store_matches_default_and_restarts(spark, tmp_path):
    """STATE-SCALE PATH: at 100 TB the streaming state outgrows
    executor heaps, and Spark's RocksDB state store provider is the
    native answer (off-heap, disk-backed, incremental snapshots). The
    SAME grouped aggregation must (a) produce results identical to the
    default HDFS-backed provider and the closed-form answer, (b)
    actually run on RocksDB (asserted from the query's state-operator
    customMetrics), and (c) RESTART from the RocksDB checkpoint
    mid-stream — the second run reloads the first 500 rows' state from
    RocksDB snapshots and folds in only the new file."""
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "rocks_src"
    src.mkdir()
    schema = "k int, v long"
    spark.createDataFrame(
        [(i % 7, i) for i in range(500)], schema
    ).coalesce(1).write.parquet(str(src / "b0.parquet"))

    PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    ROCKS = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )

    def run(provider, ckpt, name):
        old = spark.conf.get(PROVIDER_KEY, None)
        if provider:
            spark.conf.set(PROVIDER_KEY, provider)
        try:
            agg = (
                spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(str(src))
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            )
            progress = stream_events.run_stream(
                agg, name, "complete", ckpt
            ).lastProgress
        finally:
            if provider:
                if old is None:
                    spark.conf.unset(PROVIDER_KEY)
                else:
                    spark.conf.set(PROVIDER_KEY, old)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        return sorted((r["k"], r["n"], r["s"]) for r in rows), progress

    # phase 1: RocksDB over the first file
    rocks_ckpt = str(tmp_path / "rocks_ckpt")
    got1, prog1 = run(ROCKS, rocks_ckpt, "rocks_phase1")
    exp1 = sorted(
        (k, len(range(k, 500, 7)), sum(range(k, 500, 7))) for k in range(7)
    )
    assert got1 == exp1
    metrics = (prog1 or {}).get("stateOperators", [{}])[0].get(
        "customMetrics", {}
    )
    assert any(m.startswith("rocksdb") for m in metrics), metrics

    # phase 2: add data, RESTART from the RocksDB checkpoint
    _time.sleep(1.1)  # distinct mtime → new file seen as new
    spark.createDataFrame(
        [(i % 7, i) for i in range(500, 1000)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))
    got2, _ = run(ROCKS, rocks_ckpt, "rocks_phase2")
    expected = sorted(
        (k, len(range(k, 1000, 7)), sum(range(k, 1000, 7)))
        for k in range(7)
    )
    assert got2 == expected

    # default provider over the full input must agree
    got_default, _ = run(
        None, str(tmp_path / "default_ckpt"), "rocks_default"
    )
    assert got_default == expected
