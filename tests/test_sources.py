"""ORC storage layer: oracle parity, write-path knobs, footer metadata,
and the reference's own checked-in fixture (SURVEY.md §2.1, §5).
"""

from __future__ import annotations

import os

import pytest

from pim_orc_spark.fsutil import versioned_cache_dir
from pim_orc_spark.oracle import compare
from pim_orc_spark.sources import orc_io

# The reference repo's smoke fixture: TPC-DS store_sales, 1 row,
# 1 stripe, SNAPPY, stride 10,000 (reference README.md:16-22).
REF_FIXTURE = "/root/reference/testfiles/store_sales-scale0-parts1.snappy.orc"


@pytest.mark.parametrize("name", sorted(orc_io.QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = orc_io.QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, orc_io.ORACLES[name], sf_dir)
    assert ok, f"{name}: {msg}"


def test_write_path_knobs(spark, sf_dir):
    """The materialized ORC copy carries the reference's storage
    parameters in its own footer: SNAPPY codec (snappy.cc:1403-1420),
    32 KB compression blocks (orc-parser/Makefile:17), 10k row-index
    stride (README.md:20)."""
    orc_io.orc_table(spark, sf_dir, "lineitem")  # ensure materialized
    # resolve the SAME version-stamped path orc_table writes — the old
    # unversioned join silently read a stale pre-round-9 cache dir
    path = versioned_cache_dir(orc_io._ORC_CACHE_ROOT, sf_dir, "lineitem")
    meta = orc_io.orc_metadata(spark, path)
    assert meta, "no ORC files written"
    total_rows = sum(m["num_rows"] for m in meta)
    import duckdb

    expected = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    assert total_rows == expected
    for m in meta:
        assert m["compression"] == "SNAPPY"
        assert m["compression_block_size"] == 32768
        assert m["row_index_stride"] == 10000
        # stripe row counts must partition the file's rows
        assert sum(m["stripe_rows"]) == m["num_rows"]


@pytest.mark.parametrize(
    "table",
    ["region", "nation", "events", "documents", "embeddings"],
)
def test_orc_roundtrip_all_types(spark, sf_dir, table):
    """ORC↔Parquet round-trip across the fixture type system (M1):
    strings, timestamps (µs-normalized events.ts), doubles, and
    array<float> embeddings must survive the ORC write/read path
    value-identically."""
    from pim_orc_spark.catalog import load_table

    src = load_table(spark, sf_dir, table)
    rt = orc_io.orc_table(spark, sf_dir, table)
    assert rt.schema == src.schema
    key = src.columns[0]
    a = [tuple(r) for r in src.orderBy(key).collect()]
    b = [tuple(r) for r in rt.orderBy(key).collect()]
    assert a == b


def test_reference_fixture_parity(spark):
    """Run the reference's exact query — SUM of the first column, nulls
    skipped (reader.cc:50-63,156-161) — on its checked-in ORC fixture,
    and check the fixture's declared layout matches the survey."""
    if not os.path.exists(REF_FIXTURE):
        pytest.skip("reference fixture not present")
    from pyspark.sql import functions as F

    df = orc_io.read_orc(spark, REF_FIXTURE)
    first = df.columns[0]
    row = df.agg(
        F.sum(first).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    # scale-0 fixture: exactly one row; SUM semantics skip NULLs just as
    # the reference's notNull[] check does (reader.cc:61).
    assert row["n"] == 1
    import duckdb  # noqa: F401  (DuckDB cannot read ORC; assert vs metadata)

    meta = orc_io.orc_metadata(spark, REF_FIXTURE)[0]
    assert meta["num_rows"] == 1
    assert meta["num_stripes"] == 1
    assert meta["compression"] == "SNAPPY"
    assert meta["row_index_stride"] == 10000
    # cross-check the aggregate against the raw value via a projection
    vals = df.select(first).collect()
    expected = sum(v[0] for v in vals if v[0] is not None)
    assert row["s"] == expected


# ------------------------------------------------------- maintenance


def test_maintenance_queries_match_oracle(spark, sf_dir):
    from pim_orc_spark.sources import maintenance

    for name in sorted(maintenance.QUERIES):
        df = maintenance.QUERIES[name](spark, sf_dir)
        ok, msg = compare(df, maintenance.ORACLES[name], sf_dir)
        assert ok, f"{name}: {msg}"


def test_compaction_collapses_file_count(spark, sf_dir):
    """Compaction must actually shrink the file count from the
    fragmented layout toward the size target (at fixture scale the
    whole table fits one target file), while the oracle equality above
    proves zero rows were lost."""
    from pim_orc_spark.sources import maintenance

    frag = maintenance.fragmented_table(spark, sf_dir)
    comp = maintenance.compacted_table(spark, sf_dir)

    def n_parquet(path):
        return sum(1 for e in os.scandir(path) if e.name.endswith(".parquet"))

    n_frag, n_comp = n_parquet(frag), n_parquet(comp)
    assert n_frag == maintenance.FRAGMENT_FILES
    assert n_comp < n_frag / 4, (n_frag, n_comp)


def test_clustered_rowgroups_have_narrow_envelopes(spark, sf_dir):
    """The clustered rewrite's parquet footers must carry the property
    data skipping needs: each row group's (min, max) l_shipdate
    envelope spans a small fraction of the table's full date range —
    read from the FOOTERS with pyarrow, not inferred from scan
    internals. The unsorted source fails this by construction (every
    row group spans ~the whole range)."""
    import pyarrow.parquet as pq

    from pim_orc_spark.sources import maintenance

    path = maintenance.clustered_table(spark, sf_dir)
    spans, total_lo, total_hi = [], None, None
    n_groups = 0
    for e in sorted(os.scandir(path), key=lambda e: e.name):
        if not e.name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(e.path).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }["l_shipdate"]
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            assert st is not None and st.has_min_max
            lo, hi = st.min, st.max
            spans.append((lo, hi))
            total_lo = lo if total_lo is None else min(total_lo, lo)
            total_hi = hi if total_hi is None else max(total_hi, hi)
            n_groups += 1
    assert n_groups >= maintenance.CLUSTER_BUCKETS
    full = (total_hi - total_lo).total_seconds()
    for lo, hi in spans:
        frac = (hi - lo).total_seconds() / full
        assert frac <= 1.5 / maintenance.CLUSTER_BUCKETS, (
            f"row group spans {frac:.2%} of the key range — "
            "not a skippable layout"
        )


def test_atomic_build_protocol(tmp_path):
    """fsutil.atomic_build: builds once, the marker short-circuits
    rebuilds, a failed build leaves NO temp debris and NO destination,
    and a stale (marker-less) destination is replaced — never trusted."""
    from pim_orc_spark.fsutil import MARKER, atomic_build

    target = str(tmp_path / "cache")
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write("v1")

    assert atomic_build(target, build) == target
    assert os.path.exists(os.path.join(target, MARKER))
    atomic_build(target, build)  # marker present → no rebuild
    assert len(calls) == 1

    # failed build: no debris, no destination
    target2 = str(tmp_path / "cache2")

    def bad_build(tmp):
        os.makedirs(tmp)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        atomic_build(target2, bad_build)
    assert not os.path.exists(target2)
    assert not any(
        e.name.startswith("cache2.tmp") for e in os.scandir(tmp_path)
    )

    # stale marker-less destination is replaced by a fresh build
    target3 = str(tmp_path / "cache3")
    os.makedirs(target3)
    with open(os.path.join(target3, "halfwritten"), "w") as fh:
        fh.write("junk")

    def build3(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write("v3")

    atomic_build(target3, build3)
    assert os.path.exists(os.path.join(target3, MARKER))
    assert not os.path.exists(os.path.join(target3, "halfwritten"))


def test_cache_materializations_go_through_atomic_build(spark, sf_dir):
    """The ORC copy, the text-format copy and the partitioned layout
    install through atomic_build: each cache directory carries its
    marker, so a half-written directory left by a killed build is
    rebuilt instead of trusted behind a bare _SUCCESS file."""
    from pim_orc_spark.fsutil import MARKER

    orc_io.orc_table(spark, sf_dir, "region")
    orc_io.text_format_table(spark, sf_dir, "region", "csv")
    orc_io.partitioned_table(spark, sf_dir, "region", "r_regionkey")
    for name in ("region", "region_csv", "region_by_r_regionkey"):
        path = versioned_cache_dir(orc_io._ORC_CACHE_ROOT, sf_dir, name)
        assert os.path.exists(os.path.join(path, MARKER)), name


def test_atomic_build_concurrent_builders(tmp_path):
    """Race the protocol for real: N processes build the same cache
    concurrently, each writing its own payload. Exactly one build must
    win, the installed directory must be COMPLETE (marker + internally
    consistent payload from a single builder — never a mix), and no
    temp debris may survive. This is the TOCTOU scenario the round-5
    fix addresses: under the old rmtree-before-build protocol a slow
    loser could delete the winner's completed directory."""
    import multiprocessing as mp
    import time

    target = str(tmp_path / "cache")

    def builder(i, errs):
        import os as _os

        from pim_orc_spark.fsutil import atomic_build

        def build(tmp):
            _os.makedirs(tmp)
            # two files that must agree — a mixed directory would not
            with open(_os.path.join(tmp, "a"), "w") as fh:
                fh.write(str(i))
            time.sleep(0.01)  # widen the race window
            with open(_os.path.join(tmp, "b"), "w") as fh:
                fh.write(str(i))

        try:
            atomic_build(target, build)
        except Exception as e:  # pragma: no cover
            errs.put(f"builder {i}: {e}")

    ctx = mp.get_context("fork")
    errs = ctx.Queue()
    procs = [ctx.Process(target=builder, args=(i, errs)) for i in range(8)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
    for p in procs:
        # a hard-crashed (segfault/OOM-kill) or hung builder would put
        # nothing on errs — exit codes and liveness close that hole
        assert not p.is_alive(), "builder hung past join timeout"
        assert p.exitcode == 0, f"builder died with {p.exitcode}"
    assert errs.empty(), errs.get()

    from pim_orc_spark.fsutil import MARKER

    assert os.path.exists(os.path.join(target, MARKER))
    with open(os.path.join(target, "a")) as fh:
        a = fh.read()
    with open(os.path.join(target, "b")) as fh:
        b = fh.read()
    assert a == b, f"mixed-builder directory: a={a} b={b}"
    debris = [
        e.name
        for e in os.scandir(tmp_path)
        if e.name.startswith("cache.") and not e.name == "cache"
    ]
    assert not debris, debris


def test_atomic_build_concurrent_threads(tmp_path):
    """Round-6 ADVICE fix pinned: two THREADS of one process building
    the same cache must not share a tmp dir (pid alone collides; the
    uuid suffix separates them). Both must observe a complete build
    and leave no temp debris."""
    import threading

    from pim_orc_spark.fsutil import MARKER, atomic_build

    target = str(tmp_path / "cache")
    barrier = threading.Barrier(4)
    errors = []

    def build(tmp):
        import os
        import time

        os.makedirs(tmp, exist_ok=True)
        time.sleep(0.05)  # widen the interleave window
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write("payload")

    def worker():
        try:
            barrier.wait()
            atomic_build(target, build)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    import os

    assert not errors
    assert os.path.exists(os.path.join(target, MARKER))
    assert os.path.exists(os.path.join(target, "data"))
    debris = [d for d in os.listdir(tmp_path) if ".tmp." in d or ".dead." in d]
    assert not debris, debris


def test_zordered_rowgroups_bound_both_dimensions(spark, sf_dir):
    """The Morton-curve rewrite's row groups must be bounded in BOTH
    key dimensions (the property 2-d box skipping needs): mean
    normalized bounding-box area well under the 1-d-sorted layout's
    1.0, and EACH dimension constrained on average — read from the
    parquet footers, not inferred from scan internals. (Measured at
    sf0.01: mean area 0.20, vs 1.00 for the shipdate-clustered copy.)"""
    import pyarrow.parquet as pq

    from pim_orc_spark.sources import maintenance

    path = maintenance.zordered_table(spark, sf_dir)
    groups = []
    for e in sorted(os.scandir(path), key=lambda e: e.name):
        if not e.name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(e.path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            sp = md.row_group(g).column(idx["l_partkey"]).statistics
            ss = md.row_group(g).column(idx["l_suppkey"]).statistics
            assert sp is not None and sp.has_min_max
            assert ss is not None and ss.has_min_max
            groups.append((sp.min, sp.max, ss.min, ss.max))
    assert len(groups) >= maintenance.CLUSTER_BUCKETS
    fp = max(g[1] for g in groups) - min(g[0] for g in groups) + 1
    fs = max(g[3] for g in groups) - min(g[2] for g in groups) + 1
    pfrac = [(b - a + 1) / fp for a, b, _, _ in groups]
    sfrac = [(d - c + 1) / fs for _, _, c, d in groups]
    areas = [p * s for p, s in zip(pfrac, sfrac)]
    assert sum(areas) / len(areas) <= 0.35, areas
    assert max(areas) <= 0.6, areas
    # each dimension individually constrained on average — the claim a
    # 1-d sort cannot make about its non-sort key
    assert sum(pfrac) / len(pfrac) <= 0.75, pfrac
    assert sum(sfrac) / len(sfrac) <= 0.80, sfrac


def test_dpp_scan_prunes_partitions_at_runtime(spark, sf_dir):
    """The DPP query's fact scan must (a) carry a dynamicpruning
    subquery in its PartitionFilters (the mechanism engaged) and
    (b) REPORT having read strictly fewer files than the static plan
    listed (the skip actually happened) — the engine's own executed
    scan metrics, not plan-string inference. One quarter of ~84 month
    directories ⇒ ≤ 3 partitions read."""
    from pim_orc_spark.plans import executed_scan_metrics
    from pim_orc_spark.sources import maintenance

    df = maintenance.maintenance_dpp_sum(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    scans = executed_scan_metrics(df)
    fact = [m for m in scans if "staticFilesNum" in m]
    assert fact, f"no partitioned fact scan found in {scans}"
    m = fact[0]
    assert m["numPartitions"] <= 3, m
    assert m["numFiles"] < m["staticFilesNum"], m


def test_versioned_cache_dir_invalidates_on_source_change(tmp_path):
    """A regenerated source directory (new mtimes) must produce a NEW
    cache path — the driver rebuilds /root/testdata between rounds,
    and a marker-complete cache keyed only by sf tag would silently
    serve the previous generation's bytes against fresh oracles."""
    import time

    from pim_orc_spark.fsutil import versioned_cache_dir

    src = tmp_path / "sf0.5"
    src.mkdir()
    f = src / "lineitem.parquet"
    f.write_text("gen1")
    root = str(tmp_path / "cache")
    p1 = versioned_cache_dir(root, str(src), "tbl")
    assert versioned_cache_dir(root, str(src), "tbl") == p1  # stable
    assert "sf0.5" in p1
    now = time.time()
    os.utime(f, (now + 120, now + 120))  # in-place regeneration
    p2 = versioned_cache_dir(root, str(src), "tbl")
    assert p2 != p1


def test_part_file_rewrite_refreshes_batch_and_stream_schemas(spark, tmp_path):
    """Both schema caches key a table by fsutil.table_version, which
    stats a directory table's part files: rewriting
    events.parquet/part-0.parquet in place with a new column (the
    directory's own mtime pinned back) must reach the batch catalog
    and the stream source alike, never a stale cached schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pim_orc_spark.catalog import load_table
    from pim_orc_spark.streaming.stream_events import read_events_stream

    table = tmp_path / "events.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"user_id": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "events").columns == ["user_id"]
    assert read_events_stream(spark, str(tmp_path)).columns == ["user_id"]

    dstat = os.stat(table)
    pq.write_table(pa.table({"user_id": [1, 2], "extra": ["a", "b"]}), part)
    os.utime(part, ns=(dstat.st_atime_ns, dstat.st_mtime_ns + 10**10))
    os.utime(table, ns=(dstat.st_atime_ns, dstat.st_mtime_ns))
    want = ["user_id", "extra"]
    assert load_table(spark, str(tmp_path), "events").columns == want
    assert read_events_stream(spark, str(tmp_path)).columns == want


def test_footer_memos_hold_one_generation_per_file(spark, tmp_path):
    """The footer caches (catalog's schemas, plans' row counts) share
    fsutil.versioned_memo: an in-place rewrite of a parquet file is
    served fresh, and each cache then holds the file's current
    generation only, never the superseded one beside it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pim_orc_spark import catalog, plans
    from pim_orc_spark.fsutil import table_version

    part = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    path = str(part)
    assert plans._input_rows(spark.read.parquet(path)) == 2
    assert catalog.parquet_schema(spark, path).fieldNames() == ["a"]

    st = os.stat(part)
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**10))
    assert plans._input_rows(spark.read.parquet(path)) == 3
    assert catalog.parquet_schema(spark, path).fieldNames() == ["a", "b"]

    keys = [k for k in plans._ROWS_CACHE if k.endswith(path)]
    assert len(keys) == 1, keys
    assert plans._ROWS_CACHE[keys[0]] == (table_version(path), 3)
    version, schema = catalog._SCHEMA_CACHE[path]
    assert version == table_version(path) and schema.fieldNames() == ["a", "b"]


def test_vacuum_removes_only_stale_generations(tmp_path):
    """VACUUM keeps the live generation of every current source,
    removes stale version-stamped generations, and never touches
    directories that don't match the <tag>.v<stamp> shape."""
    import os as _os

    from pim_orc_spark.fsutil import vacuum_cache_root, versioned_cache_dir

    src = tmp_path / "sf9"
    src.mkdir()
    (src / "t.parquet").write_text("data")
    root = str(tmp_path / "cache")

    live = versioned_cache_dir(root, str(src), "tbl")
    _os.makedirs(live)
    open(_os.path.join(live, "part-0"), "w").write("x" * 100)
    stale = _os.path.join(root, "sf9.v12345", "tbl")
    _os.makedirs(stale)
    open(_os.path.join(stale, "part-0"), "w").write("y" * 50)
    foreign = _os.path.join(root, "not-a-generation")
    _os.makedirs(foreign)

    report = vacuum_cache_root(root, [str(src)])
    assert report["removed"] == ["sf9.v12345"]
    assert _os.path.exists(live)
    assert not _os.path.exists(_os.path.dirname(stale))
    assert _os.path.exists(foreign)
    assert report["reclaimed_bytes"] >= 50
    live_gen = _os.path.basename(_os.path.dirname(live))
    assert report["kept"] == [live_gen]


def test_python_datasource_matches_oracle_and_plans_partitions(
    spark, sf_dir
):
    """The pure-Python DataSource V2 connector: the per-bucket facts
    must match the oracle's closed-form regeneration, and the scan
    must genuinely parallelize — the source's partitions() plan
    becomes PYDS_PARTS input splits, not one monolithic iterator (the
    property that makes a custom feed scale across executors)."""
    from pim_orc_spark.sources import pyds

    df = pyds.source_python_datasource(spark, sf_dir)
    ok, msg = compare(df, pyds.ORACLES["source_python_datasource"], sf_dir)
    assert ok, msg

    pyds.register(spark)
    raw = (
        spark.read.format("synthetic_docs")
        .option("n", str(pyds.PYDS_N))
        .option("parts", str(pyds.PYDS_PARTS))
        .load()
    )
    assert raw.rdd.getNumPartitions() == pyds.PYDS_PARTS
    # options flow through: a different split count re-plans the scan
    small = (
        spark.read.format("synthetic_docs")
        .option("n", "10")
        .option("parts", "3")
        .load()
    )
    assert small.rdd.getNumPartitions() == 3
    assert small.count() == 10


def test_python_stream_source_availablenow_matches_oracle(spark, sf_dir):
    """The DataSourceStreamReader half of the connector: an
    AvailableNow run must drain the whole bounded feed, its per-batch
    scan must parallelize across the partitions() plan (PYDS_PARTS
    splits, not one monolithic iterator), and the per-bucket facts
    must match the closed-form oracle."""
    from pim_orc_spark.sources import pyds

    df = pyds.source_stream_availablenow(spark, sf_dir)
    ok, msg = compare(
        df, pyds.ORACLES["source_stream_availablenow"], sf_dir
    )
    assert ok, msg

    # partition planning: probe the planned batch width from inside
    # foreachBatch (the batch DataFrame sits directly on the stream
    # reader's InputPartitions)
    pyds.register(spark)
    widths = {}
    q = (
        spark.readStream.format("synthetic_docs")
        .option("n", str(pyds.PYDS_N))
        .option("parts", str(pyds.PYDS_PARTS))
        .load()
        .writeStream.foreachBatch(
            lambda bdf, bid: widths.__setitem__(
                bid, bdf.rdd.getNumPartitions()
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert widths, "no microbatch ran"
    assert set(widths.values()) == {pyds.PYDS_PARTS}, widths


def test_python_stream_simple_reader_paces_and_replays_exactly_once(
    spark, tmp_path
):
    """The paced SimpleDataSourceStreamReader: each admitted batch is
    batch_rows wide (offset checkpointing is exercised across MANY
    microbatches, not one), and a crash between a batch's output and
    its commit replays EXACTLY the checkpointed [start, end) range via
    readBetweenOffsets on restart — the union of all batch outputs is
    the feed, bit-exact, no dupes, no gaps."""
    import os as _os

    from pim_orc_spark.sources import pyds

    pyds.register(spark)
    n, batch_rows = 5000, 1250
    ckpt = str(tmp_path / "ckpt")
    out_root = str(tmp_path / "out")
    _os.makedirs(out_root)

    def stream():
        return (
            spark.readStream.format("synthetic_docs")
            .option("api", "simple")
            .option("n", str(n))
            .option("batch_rows", str(batch_rows))
            .load()
        )

    def make_apply(crash_on):
        def apply(batch_df, batch_id):
            # write FIRST, then crash: the worst spot — output exists,
            # commit log doesn't, so restart MUST replay this batch
            # (idempotent overwrite by batch_id = the documented sink
            # contract, same as the cdc_apply generation pattern)
            batch_df.write.mode("overwrite").parquet(
                _os.path.join(out_root, f"batch={batch_id}")
            )
            if crash_on is not None and batch_id == crash_on:
                raise RuntimeError("simulated stream-source crash")

        return apply

    def run(crash_on):
        q = (
            stream()
            .writeStream.foreachBatch(make_apply(crash_on))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import pytest as _pytest

    # Spark's PythonMicroBatchStream does not support AvailableNow and
    # falls back to SINGLE-BATCH execution per run — so each run admits
    # exactly one paced batch and batch ids continue across runs on the
    # same checkpoint. Run 1 commits batch 0; run 2 writes batch 1's
    # output then crashes before its commit; the restart must replay
    # batch 1 from the offset log via readBetweenOffsets.
    run(crash_on=None)
    with _pytest.raises(Exception, match="simulated stream-source crash"):
        run(crash_on=1)
    # drive further runs until the feed is drained (one batch per run;
    # loop bound = one run per remaining batch plus replay slack)
    for _ in range(n // batch_rows + 2):
        run(crash_on=None)
        done = {
            d for d in _os.listdir(out_root) if d.startswith("batch=")
        }
        if len(done) >= n // batch_rows:
            break

    batch_dirs = sorted(
        (d for d in _os.listdir(out_root) if d.startswith("batch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    assert len(batch_dirs) >= 2, (
        f"pacing produced a single batch: {batch_dirs}"
    )
    # the crashed batch was replayed with the SAME offsets: its rows
    # are exactly the second admitted range
    replayed = {
        r.doc_id
        for r in spark.read.parquet(
            _os.path.join(out_root, "batch=1")
        ).collect()
    }
    assert replayed == set(range(batch_rows, 2 * batch_rows))
    # union across batches = the closed-form feed, no dupes, no gaps
    rows = spark.read.parquet(
        _os.path.join(out_root, "batch=*")
    ).collect()
    assert len(rows) == n
    assert {(r.doc_id, r.bucket, r.h) for r in rows} == {
        (i, i % pyds.PYDS_BUCKETS, (i * pyds.PYDS_MULT) % pyds.PYDS_MOD)
        for i in range(n)
    }


def test_python_sink_two_phase_commit_roundtrip(spark, sf_dir, tmp_path):
    """The batch DataSourceWriter: rows land via task staging + driver
    rename + manifest-last. After a successful job the staging dir is
    empty, the manifest names exactly the published parts, and the
    round-trip relation matches the closed-form oracle."""
    import json as _json
    import os as _os

    from pim_orc_spark.sources import pyds

    df = pyds.sink_python_datasource(spark, sf_dir)
    ok, msg = compare(
        df, pyds.ORACLES["sink_python_datasource"], sf_dir
    )
    assert ok, msg

    # protocol state inspection on a dedicated target dir
    pyds.register(spark)
    out = str(tmp_path / "sink")
    (
        spark.read.format("synthetic_docs")
        .option("n", "100")
        .option("parts", "4")
        .load()
        .write.format("synthetic_docs")
        .option("path", out)
        .mode("append")
        .save()
    )
    with open(_os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    parts = sorted(
        f for f in _os.listdir(out) if f.startswith("part-")
    )
    assert manifest["files"] == parts
    assert manifest["rows"] == 100
    assert len(parts) == 4  # one staged file per input split
    staged = _os.path.join(out, "_staged")
    assert not _os.listdir(staged), "staging must be drained on commit"
    n = sum(
        1
        for f in parts
        for _ in open(_os.path.join(out, f))
    )
    assert n == 100


def test_python_sink_path_reuse_append_and_overwrite(spark, tmp_path):
    """Save-mode semantics on a REUSED path (ADVICE r12): append merges
    the prior manifest's files/rows (manifest readers keep every
    committed row); overwrite clears the prior job's parts + manifest
    so no stale file mixes into the target."""
    import json as _json
    import os as _os

    from pim_orc_spark.sources import pyds

    pyds.register(spark)
    out = str(tmp_path / "sink_reuse")

    def save(n: int, mode: str) -> None:
        (
            spark.read.format("synthetic_docs")
            .option("n", str(n))
            .option("parts", "2")
            .load()
            .write.format("synthetic_docs")
            .option("path", out)
            .mode(mode)
            .save()
        )

    def manifest():
        with open(_os.path.join(out, "_MANIFEST.json")) as fh:
            return _json.load(fh)

    save(60, "append")
    save(40, "append")
    m = manifest()
    parts = sorted(f for f in _os.listdir(out) if f.startswith("part-"))
    assert m["rows"] == 100
    assert m["files"] == parts and len(parts) == 4
    rows = sum(
        1 for f in parts for _ in open(_os.path.join(out, f))
    )
    assert rows == 100  # both jobs' rows readable via the manifest

    # stale UNMANIFESTED debris (a crashed/foreign job's part) must
    # also be cleared by overwrite — not only the manifest's files
    with open(_os.path.join(out, "part-stale.jsonl"), "w") as fh:
        fh.write('{"doc_id": 999}\n')

    save(25, "overwrite")
    m = manifest()
    parts = sorted(f for f in _os.listdir(out) if f.startswith("part-"))
    assert m["rows"] == 25
    assert m["files"] == parts and len(parts) == 2
    rows = sum(
        1 for f in parts for _ in open(_os.path.join(out, f))
    )
    assert rows == 25  # appended parts AND the stray are gone, not mixed


def test_python_sink_entry_reuses_one_directory(spark, sf_dir):
    """The exported sink entry must not leak a directory per call
    (ADVICE r12): repeated invocations reuse ONE keyed location and
    no mkdtemp-style pyds_sink_* siblings accumulate."""
    import glob as _glob
    import json as _json
    import os as _os

    from pim_orc_spark.sources import pyds

    before = set(_glob.glob("/tmp/pyds_sink_*"))
    pyds.sink_python_datasource(spark, sf_dir).collect()
    pyds.sink_python_datasource(spark, sf_dir).collect()
    assert set(_glob.glob("/tmp/pyds_sink_*")) == before
    with open(
        _os.path.join("/tmp/pim_orc_spark/pyds_sink", "_MANIFEST.json")
    ) as fh:
        m = _json.load(fh)
    assert m["rows"] == pyds.PYDS_N  # exactly one committed job


def test_python_sink_abort_leaves_no_published_files(spark, tmp_path):
    """All-or-nothing: a task failing MID-WRITE (after staging rows)
    fails the job, abort() removes the staged debris, and the target
    directory holds no parts and no manifest."""
    import os as _os

    import pytest as _pytest

    from pim_orc_spark.sources import pyds

    pyds.register(spark)
    out = str(tmp_path / "sink_abort")
    with _pytest.raises(Exception, match="simulated write failure"):
        (
            spark.read.format("synthetic_docs")
            .option("n", "100")
            .option("parts", "4")
            .load()
            .write.format("synthetic_docs")
            .option("path", out)
            .option("fail_on", "87")  # poison row in the last split
            .mode("append")
            .save()
        )
    assert not _os.path.exists(_os.path.join(out, "_MANIFEST.json"))
    assert not [
        f for f in _os.listdir(out) if f.startswith("part-")
    ]
    # NOTE: the FAILED task's own staged file may remain in _staged —
    # its commit message never reached the driver, so abort() cannot
    # know it (the standard file-commit-protocol leak, reaped by the
    # next overwrite or a janitor). The invariant is the PUBLISHED
    # namespace: abort() must have removed every staged file it was
    # told about, which the successful tasks' messages cover —
    # asserted implicitly by the manifest/parts absence above.


def test_python_stream_sink_commits_batches_idempotently(
    spark, tmp_path
):
    """End-to-end PYTHON pipeline: the paced simple stream reader feeds
    the streaming sink. Each microbatch publishes into its own
    batch=<id> dir with a manifest; re-committing a batch id (replay
    after a crash between sink commit and checkpoint commit) REPLACES
    the directory, so the union over batch dirs equals the feed
    exactly once."""
    import json as _json
    import os as _os

    from pim_orc_spark.sources import pyds

    pyds.register(spark)
    n, batch_rows = 4000, 1000
    out = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("synthetic_docs")
            .option("api", "simple")
            .option("n", str(n))
            .option("batch_rows", str(batch_rows))
            .load()
            .writeStream.format("synthetic_docs")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for _ in range(n // batch_rows + 1):
        run_once()
        batches = [
            d for d in _os.listdir(out) if d.startswith("batch=")
        ]
        if len(batches) >= n // batch_rows:
            break
    batches = sorted(
        (d for d in _os.listdir(out) if d.startswith("batch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    assert len(batches) >= 2, batches
    seen = []
    for b in batches:
        bdir = _os.path.join(out, b)
        with open(_os.path.join(bdir, "_MANIFEST.json")) as fh:
            manifest = _json.load(fh)
        rows = []
        for f in manifest["files"]:
            with open(_os.path.join(bdir, f)) as fh:
                rows.extend(_json.loads(line) for line in fh)
        assert len(rows) == manifest["rows"]
        seen.extend(rows)
    assert len(seen) == n
    assert {r["doc_id"] for r in seen} == set(range(n))
    # replay simulation: driver-side re-commit of an already-published
    # batch id must replace, not append
    w = pyds.JsonDirStreamWriter({"path": out}, overwrite=False)
    staged = _os.path.join(out, "_staged")
    _os.makedirs(staged, exist_ok=True)
    fake = _os.path.join(staged, "part-replayed.jsonl")
    with open(fake, "w") as fh:
        fh.write(_json.dumps({"doc_id": 0, "bucket": 0, "h": 0}) + "\n")
    w.commit([pyds._StagedFile(path=fake, rows=1)], batchId=0)
    b0 = _os.path.join(out, "batch=0")
    with open(_os.path.join(b0, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    assert manifest["files"] == ["part-replayed.jsonl"]
    assert [
        f for f in _os.listdir(b0) if f.startswith("part-")
    ] == ["part-replayed.jsonl"]


def test_orc_footer_reader_cross_validates_against_jvm(spark, sf_dir, tmp_path):
    """The pure-Python ORC footer parser (sources/orc_footer.py) is
    validated against the independent implementation whose output it
    replaced: for the SAME files — the snappy-framed engine cache, the
    reference's own checked-in fixture when it is present, and fresh
    NONE-, ZLIB- and multi-stripe SNAPPY-compressed writes (the last
    with the reference's writer options) — every planning fact (stripe count,
    per-stripe rows, total rows, codec, block size, stride) must equal
    what the JVM ORC reader returns (the pycms/pysnappy discipline).
    The snappy cases also prove functions/pysnappy.py decodes REAL ORC
    footer streams, not only synthetic payloads."""
    import glob

    from pim_orc_spark.sources.orc_footer import read_orc_footer_facts

    orc_io.orc_table(spark, sf_dir, "lineitem")  # ensure materialized
    files = sorted(
        glob.glob(
            os.path.join(
                versioned_cache_dir(
                    orc_io._ORC_CACHE_ROOT, sf_dir, "lineitem"
                ),
                "*.orc",
            )
        )
    )[:2]
    if os.path.exists(REF_FIXTURE):
        files.append(REF_FIXTURE)
    writes = {
        "none": {"compression": "none"},
        "zlib": {"compression": "zlib"},
        # a small stripe size, checked every 1000 rows, splits 25k rows
        # of an incompressible column into several stripes
        "snappy": {
            **orc_io.REFERENCE_ORC_OPTIONS,
            "orc.stripe.size": "65536",
            "orc.rows.between.memory.checks": "1000",
        },
    }
    for codec, options in writes.items():
        out = str(tmp_path / f"orc_{codec}")
        (
            spark.range(0, 25000)
            .selectExpr("id", "xxhash64(id) AS v")
            .coalesce(1)
            .write.mode("overwrite")
            .options(**options)
            .orc(out)
        )
        files.extend(glob.glob(os.path.join(out, "*.orc")))
    assert len(files) >= 4
    (snappy,) = glob.glob(str(tmp_path / "orc_snappy" / "*.orc"))
    assert read_orc_footer_facts(snappy)["num_stripes"] > 1
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for f in files:
        got = read_orc_footer_facts(f)
        reader = jvm.org.apache.orc.OrcFile.createReader(
            jvm.org.apache.hadoop.fs.Path(f),
            jvm.org.apache.orc.OrcFile.readerOptions(conf),
        )
        stripes = reader.getStripes()
        assert got["num_stripes"] == stripes.size(), f
        assert got["stripe_rows"] == [
            stripes.get(i).getNumberOfRows()
            for i in range(stripes.size())
        ], f
        assert got["num_rows"] == reader.getNumberOfRows(), f
        assert got["compression"] == reader.getCompressionKind().toString(), f
        assert (
            got["compression_block_size"] == reader.getCompressionSize()
            or got["compression"] == "NONE"  # block size is moot uncompressed
        ), f
        assert got["row_index_stride"] == reader.getRowIndexStride(), f


def test_orc_footer_reader_rejects_malformed_tails():
    """The footer parser fails loudly on non-ORC bytes — wrong
    postscript magic and unimplemented codecs raise with the cause
    named, never a silently-wrong stripe inventory."""
    import struct

    from pim_orc_spark.sources.orc_footer import (
        COMPRESSION_KINDS,
        _decode_stream,
        read_orc_footer_facts,
    )

    # a postscript with wrong magic: field 8000 (wire type 2) = "XXX"
    def ps(magic: bytes, extra: bytes = b"") -> bytes:
        key = (8000 << 3) | 2
        out = extra
        # field 1 footerLength = 0 varint
        out += bytes([(1 << 3) | 0, 0])
        kb = []
        k = key
        while True:
            b = k & 0x7F
            k >>= 7
            kb.append(b | (0x80 if k else 0))
            if not k:
                break
        out += bytes(kb) + bytes([len(magic)]) + magic
        return out

    import tempfile

    bad = ps(b"XXX")
    with tempfile.NamedTemporaryFile(suffix=".orc", delete=False) as fh:
        fh.write(b"\x00" * 16 + bad + bytes([len(bad)]))
        path = fh.name
    with pytest.raises(ValueError, match="magic"):
        read_orc_footer_facts(path)

    # unimplemented codec in the stream framing
    assert COMPRESSION_KINDS[5] == "ZSTD"
    with pytest.raises(NotImplementedError, match="ZSTD"):
        _decode_stream(b"\x02\x00\x00X", "ZSTD")
    # stored-original chunk passes through untouched
    assert _decode_stream(b"\x09\x00\x00ABCD", "SNAPPY") == b"ABCD"
    assert struct is not None


def test_orc_metadata_path_scheme_guards():
    """file: URIs keep working (the py4j predecessor accepted Hadoop
    paths); remote schemes fail loudly instead of a confusing ENOENT;
    a truncated length-delimited protobuf field raises rather than
    returning a silently short stripe inventory."""
    from pim_orc_spark.sources.orc_footer import _fields
    from pim_orc_spark.sources.orc_io import orc_metadata

    with pytest.raises(ValueError, match="local paths only"):
        orc_metadata(None, "hdfs://nn/table")
    with pytest.raises(ValueError, match="declares"):
        list(_fields(bytes([(1 << 3) | 2, 200]) + b"xy"))

    # file: authority forms (ADVICE r14): file:// + empty or localhost
    # authority resolves to the local path; a remote host is rejected
    # with the same loud error as remote schemes, never an ENOENT
    import tempfile

    from pim_orc_spark.sources.orc_footer import (
        _decode_stream,
        _read_varint,
        read_orc_footer_facts,
    )

    with tempfile.TemporaryDirectory() as d:
        # empty dir → empty inventory, but the path RESOLVED (no raise)
        assert orc_metadata(None, f"file://{d}") == []
        assert orc_metadata(None, f"file://localhost{d}") == []
        # URI hosts are case-insensitive (RFC 3986 §3.2.2, ADVICE r15)
        assert orc_metadata(None, f"file://LOCALHOST{d}") == []
        assert orc_metadata(None, f"file://LocalHost{d}") == []
        assert orc_metadata(None, f"file:{d}") == []
    with pytest.raises(ValueError, match="authority"):
        orc_metadata(None, "file://otherhost/data/t.orc")

    # truncated tails raise named ValueErrors, not IndexError/KeyError
    # (ADVICE r14): torn varint, torn chunk header, short chunk body,
    # and a postscript with magic but no footerLength
    with pytest.raises(ValueError, match="varint"):
        _read_varint(b"\xff\xff", 0)
    with pytest.raises(ValueError, match="chunk header"):
        _decode_stream(b"\x02\x00", "SNAPPY")
    with pytest.raises(ValueError, match="remaining"):
        _decode_stream(b"\x08\x00\x00AB", "SNAPPY")
    # key varint for field 8000 wire 2 ((8000<<3)|2 = 64002) = 82 F4 03
    ps_no_len = bytes([0x82, 0xF4, 0x03, 3]) + b"ORC"  # magic, no len
    with tempfile.NamedTemporaryFile(suffix=".orc", delete=False) as fh:
        fh.write(b"\x00" * 8 + ps_no_len + bytes([len(ps_no_len)]))
        p = fh.name
    with pytest.raises(ValueError, match="footerLength"):
        read_orc_footer_facts(p)


def test_orc_column_stats_cross_validate_against_jvm(spark, sf_dir, tmp_path):
    """File- and stripe-level column statistics from the pure-Python
    parser (orc_footer.read_orc_column_stats) must equal the JVM ORC
    reader's getStatistics()/getStripeStatistics() on the same files —
    int (zigzag sint64), double (fixed64), string (bytes) stats, value
    counts and hasNull, on both the snappy-framed engine cache and a
    fresh ZLIB write. The same per-field discipline as the footer-facts
    cross-validation above."""
    import glob

    from pim_orc_spark.sources.orc_footer import read_orc_column_stats

    orc_io.orc_table(spark, sf_dir, "lineitem")
    files = sorted(
        glob.glob(
            os.path.join(
                versioned_cache_dir(
                    orc_io._ORC_CACHE_ROOT, sf_dir, "lineitem"
                ),
                "*.orc",
            )
        )
    )[:2]
    out = str(tmp_path / "orc_zlib_stats")
    (
        spark.range(0, 30000)
        .selectExpr(
            "id",
            "CAST(id AS DOUBLE) / 7.0 AS d",
            "concat('s', lpad(CAST(id % 97 AS STRING), 4, '0')) AS s",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "zlib")
        .orc(out)
    )
    files.extend(glob.glob(os.path.join(out, "*.orc")))
    assert len(files) >= 2  # >=1 snappy cache file + the zlib write
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    checked = 0
    for f in files:
        got = read_orc_column_stats(f)
        reader = jvm.org.apache.orc.OrcFile.createReader(
            jvm.org.apache.hadoop.fs.Path(f),
            jvm.org.apache.orc.OrcFile.readerOptions(conf),
        )
        jstats = reader.getStatistics()
        names = ["<root>"] + got["columns"]

        def check(mine, jcs, fpath):
            nonlocal checked
            assert mine["n_values"] == jcs.getNumberOfValues(), fpath
            assert mine["has_null"] == jcs.hasNull(), fpath
            if mine["kind"] in ("int", "double", "string"):
                assert mine["min"] == jcs.getMinimum(), (fpath, mine)
                assert mine["max"] == jcs.getMaximum(), (fpath, mine)
                checked += 1
            if mine["kind"] == "int" and jcs.isSumDefined():
                # writers omit a zero sum (protobuf default); the JVM
                # reader reports 0 for absent — normalize
                assert (mine["sum"] or 0) == jcs.getSum(), fpath

        for i, name in enumerate(names):
            if name in got["file_stats"]:
                check(got["file_stats"][name], jstats[i], f)
        jss = reader.getStripeStatistics()
        assert len(got["stripe_stats"]) == jss.size(), f
        for si in range(jss.size()):
            jcols = jss.get(si).getColumnStatistics()
            for i, name in enumerate(names):
                if name in got["stripe_stats"][si]:
                    check(got["stripe_stats"][si][name], jcols[i], f)
    assert checked >= 20  # typed min/max really compared, not skipped


def test_orc_huge_footer_reread_branch(spark, tmp_path, monkeypatch):
    """The tail re-read branch (_read_tail: footer + metadata larger
    than _TAIL_GUESS) returns byte-identical facts to the one-read
    path: a 400-column schema's footer/stats outgrow a 4 KB guess, so
    the patched read must take the re-read path and agree with the
    unpatched read on every fact (VERDICT r14 'missing' #4's untested
    branch)."""
    import glob

    import pim_orc_spark.sources.orc_footer as of

    out = str(tmp_path / "orc_wide")
    cols = [f"id * {i} AS c{i}" for i in range(400)]
    (
        spark.range(0, 5000)
        .selectExpr("id", *cols)
        .coalesce(1)
        .write.mode("overwrite")
        .orc(out)
    )
    (f,) = glob.glob(os.path.join(out, "*.orc"))
    ps, _kind, footer_raw, meta_raw = of._read_tail(f)
    assert ps[1] + len(meta_raw) > 4096, (
        "fixture footer too small to exercise the re-read branch"
    )
    base_facts = of.read_orc_footer_facts(f)
    base_stats = of.read_orc_column_stats(f)
    assert base_facts["num_rows"] == 5000
    assert base_stats["file_stats"]["c399"]["max"] == 4999 * 399
    monkeypatch.setattr(of, "_TAIL_GUESS", 4096)
    assert of.read_orc_footer_facts(f) == base_facts
    assert of.read_orc_column_stats(f) == base_stats


def test_orc_skippable_stripes_report(spark, tmp_path):
    """skippable_stripes derives real SARG skips from stripe envelopes:
    on a value-sorted multi-stripe file, a range predicate marks the
    out-of-range stripes skippable, keeps every in-range stripe, and
    the kept stripes' rows bound the exact matching count (the safety
    property orc_stats_skipping exports as a boolean)."""
    import glob

    from pim_orc_spark.sources.orc_footer import (
        read_orc_footer_facts,
        skippable_stripes,
    )

    out = str(tmp_path / "orc_sorted")
    (
        spark.range(0, 400_000)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .sort("id")
        .coalesce(1)
        .write.mode("overwrite")
        .option("orc.stripe.size", str(256 * 1024))
        .orc(out)
    )
    (f,) = glob.glob(os.path.join(out, "*.orc"))
    facts = read_orc_footer_facts(f)
    assert facts["num_stripes"] >= 2, "need a multi-stripe fixture"
    rep = skippable_stripes(f, "v", lower=0.0, upper=999.0)
    assert [r["rows"] for r in rep] == facts["stripe_rows"]
    n_skip = sum(1 for r in rep if r["skippable"])
    assert n_skip >= 1, rep  # sorted data: tail stripes must skip
    kept_rows = sum(r["rows"] for r in rep if not r["skippable"])
    assert kept_rows >= 1000  # never lose a matching row
    # the sorted layout makes the skip tight: kept stripes are exactly
    # those whose envelope intersects [0, 999]
    for r in rep:
        assert r["skippable"] == (r["min"] > 999.0 or r["max"] < 0.0)


def test_orc_stripe_skip_prediction_matches_executed_scan(spark, tmp_path):
    """r15 verdict #4: the engine's stripe-skip PREDICTION is
    reconciled with Spark's executed scan BEHAVIOR. On the value-sorted
    multi-stripe fixture, under spark.sql.orc.filterPushdown with the
    same SARG (v <= 999), the executed ORC scan's own metrics must be
    consistent with skippable_stripes' envelope math:

      exact matches  <=  scan rows emitted  <=  predicted candidate rows

    — the left bound proves skipping lost no matching row, the right
    bound proves the scan skipped AT LEAST what stripe envelopes prove
    skippable (Spark's row-group-granular SARG is finer than the
    stripe-granular prediction, never coarser). A scan emitting fewer
    rows than the file total also witnesses that pushdown actually
    engaged."""
    import glob

    from pim_orc_spark.plans import executed_scan_metrics
    from pim_orc_spark.sources.orc_footer import skippable_stripes

    out = str(tmp_path / "orc_sorted_scan")
    (
        spark.range(0, 400_000)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .sort("id")
        .coalesce(1)
        .write.mode("overwrite")
        .option("orc.stripe.size", str(256 * 1024))
        .orc(out)
    )
    (f,) = glob.glob(os.path.join(out, "*.orc"))
    rep = skippable_stripes(f, "v", upper=999.0)
    assert sum(1 for r in rep if r["skippable"]) >= 1, rep
    predicted_cand = sum(r["rows"] for r in rep if not r["skippable"])
    total = sum(r["rows"] for r in rep)
    assert predicted_cand < total  # the prediction is non-trivial

    assert (
        spark.conf.get("spark.sql.orc.filterPushdown").lower() == "true"
    )
    df = spark.read.orc(out).filter("v <= 999.0")
    exact = df.count()
    assert exact == 1000
    df.collect()  # metrics are zero until the plan executes
    pushed = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in pushed and "LessThanOrEqual(v,999.0)" in pushed
    (scan,) = [
        m for m in executed_scan_metrics(df) if "numOutputRows" in m
    ]
    emitted = scan["numOutputRows"]
    assert exact <= emitted <= predicted_cand, (
        exact, emitted, predicted_cand, rep,
    )
    assert emitted < total, "scan read every row — pushdown never engaged"


def test_orc_column_stats_decimal_date_timestamp(spark, tmp_path):
    """The three stats kinds the JVM loop above doesn't exercise —
    DecimalStatistics (decimal strings), DateStatistics (zigzag epoch
    days), TimestampStatistics (UTC epoch millis) — cross-validated
    against the DATA that defines them (computed by Spark on the same
    rows), plus the stripe→file union property and a decimal SARG
    skip through skippable_stripes' Decimal comparison."""
    import glob
    from decimal import Decimal

    from pyspark.sql import functions as F

    from pim_orc_spark.sources.orc_footer import (
        read_orc_column_stats,
        skippable_stripes,
    )

    out = str(tmp_path / "orc_ddt")
    df = spark.range(1, 20001).selectExpr(
        "id",
        "CAST(CAST(id AS DOUBLE) / 7 AS DECIMAL(12, 2)) AS dec",
        "date_add(DATE '2020-01-01', CAST(id % 1000 AS INT)) AS dt",
        "timestamp_micros(id * 1000000) AS ts",
    )
    df.coalesce(1).write.mode("overwrite").orc(out)
    (f,) = glob.glob(os.path.join(out, "*.orc"))
    got = read_orc_column_stats(f)

    row = df.agg(
        F.min("dec").alias("dec_min"),
        F.max("dec").alias("dec_max"),
        F.datediff(F.min("dt"), F.lit("1970-01-01")).alias("dt_min"),
        F.datediff(F.max("dt"), F.lit("1970-01-01")).alias("dt_max"),
        F.unix_millis(F.min("ts")).alias("ts_min"),
        F.unix_millis(F.max("ts")).alias("ts_max"),
    ).collect()[0]

    dec = got["file_stats"]["dec"]
    assert dec["kind"] == "decimal"
    assert Decimal(dec["min"]) == row["dec_min"]
    assert Decimal(dec["max"]) == row["dec_max"]
    dt = got["file_stats"]["dt"]
    assert dt["kind"] == "date"
    assert dt["min"] == row["dt_min"]
    assert dt["max"] == row["dt_max"]
    ts = got["file_stats"]["ts"]
    assert ts["kind"] == "timestamp"
    assert ts["min"] == row["ts_min"]
    assert ts["max"] == row["ts_max"]

    # stripe stats union to file stats for these kinds too
    for col, key in (("dec", Decimal), ("dt", int), ("ts", int)):
        ss = [s[col] for s in got["stripe_stats"]]
        assert ss, col
        fs = got["file_stats"][col]
        conv = (lambda x: Decimal(x)) if key is Decimal else (lambda x: x)
        assert min(conv(s["min"]) for s in ss) == conv(fs["min"]), col
        assert max(conv(s["max"]) for s in ss) == conv(fs["max"]), col
        assert sum(s["n_values"] for s in ss) == fs["n_values"], col

    # decimal SARG comparison goes through Decimal, not string order
    # (string order would put "9.99" above "100.00")
    rep = skippable_stripes(f, "dec", upper=Decimal("2.00"))
    assert sum(r["rows"] for r in rep) == 20000
    # the single-stripe envelope [0.14, 2857.14] intersects ≤2.00 — kept
    assert all(not r["skippable"] for r in rep)
    rep2 = skippable_stripes(f, "dec", lower=Decimal("999999.00"))
    assert all(r["skippable"] for r in rep2)


def test_orc_footer_stats_map_matches_driver_loop(spark, sf_dir, monkeypatch):
    """r15 verdict #3: orc_stats_skipping's facts are derivable with NO
    per-file driver I/O — the distributed mapInPandas over the file
    listing (executor tasks parse their own footers via
    read_orc_stats_fileobj) emits per-file rollups identical to the
    driver loop's, and forcing the query down the distributed path
    returns the exact same exported row."""
    import glob

    from pim_orc_spark.sources.orc_footer import (
        read_orc_column_stats,
        read_orc_footer_facts,
    )
    from pim_orc_spark.sources.orc_io import (
        ORC_STATS_PRED,
        _rollup_orc_file,
        orc_footer_stats_map,
        orc_stats_skipping,
    )

    orc_io.orc_table(spark, sf_dir, "lineitem")
    files = sorted(
        glob.glob(
            os.path.join(
                versioned_cache_dir(
                    orc_io._ORC_CACHE_ROOT, sf_dir, "lineitem"
                ),
                "*.orc",
            )
        )
    )
    col = "l_extendedprice"
    driver = {
        os.path.basename(f): _rollup_orc_file(
            read_orc_footer_facts(f), read_orc_column_stats(f), col,
            ORC_STATS_PRED,
        )
        for f in files
    }
    dist = {
        r["file"]: r.asDict()
        for r in orc_footer_stats_map(
            spark, files, col, ORC_STATS_PRED
        ).collect()
    }
    assert set(dist) == set(driver)
    for name, d in driver.items():
        got = dist[name]
        for k in (
            "n_rows", "cand_rows", "skip_rows", "null_free",
            "stripe_consistent",
        ):
            assert got[k] == d[k], (name, k, got[k], d[k])
        # double envelopes are exact for this double column
        assert got["fmin"] == d["fmin"] and got["fmax"] == d["fmax"], name
    # the exported row is path-independent: force the distributed
    # branch and compare against the driver-loop branch (the footer
    # rollup rides the artifact cache, so clear between runs or the
    # second call would reuse the first branch's rollup)
    import pim_orc_spark.artifacts as artifacts

    artifacts.clear()
    base = orc_stats_skipping(spark, sf_dir).collect()
    monkeypatch.setattr(orc_io, "_ORC_FOOTER_DRIVER_MAX", 0)
    artifacts.clear()
    assert orc_stats_skipping(spark, sf_dir).collect() == base
    artifacts.clear()  # drop the forced-branch rollup for later tests


def test_rollup_orc_file_defensive_paths():
    """ADVICE r15 #1/#2: the per-file rollup degrades, never raises —
    an all-null envelope keeps every row with null_free off; decimal
    stats compare as Decimal (not str*float); a Metadata section with
    MORE stripe entries than the footer has stripes (or none at all)
    flags stripe_consistent without indexing past the shorter list."""
    from pim_orc_spark.sources.orc_io import _rollup_orc_file

    def cs(kind, mn, mx, n, has_null=False):
        return {
            "kind": kind, "min": mn, "max": mx, "sum": None,
            "n_values": n, "has_null": has_null,
        }

    facts = {
        "file": "t.orc", "num_rows": 100, "num_stripes": 2,
        "stripe_rows": [60, 40],
    }

    # all-null column: no envelope anywhere — keep all, null_free off
    r = _rollup_orc_file(
        facts,
        {
            "file_stats": {"v": cs("int", None, None, 0, True)},
            "stripe_stats": [
                {"v": cs("int", None, None, 0, True)},
                {"v": cs("int", None, None, 0, True)},
            ],
        },
        "v",
        50.0,
    )
    assert r["cand_rows"] == 100 and r["skip_rows"] == 0
    assert not r["null_free"] and r["stripe_consistent"]

    # decimal stats: string envelopes route through Decimal; the
    # second stripe's min 70.00 > pred 50.0 → its rows skip
    r = _rollup_orc_file(
        facts,
        {
            "file_stats": {"v": cs("decimal", "1.50", "99.00", 100)},
            "stripe_stats": [
                {"v": cs("decimal", "1.50", "49.00", 60)},
                {"v": cs("decimal", "70.00", "99.00", 40)},
            ],
        },
        "v",
        50.0,
    )
    assert r["cand_rows"] == 60 and r["skip_rows"] == 40
    assert r["null_free"] and r["stripe_consistent"]
    assert float(r["fmin"]) == 1.5 and float(r["fmax"]) == 99.0

    # Metadata carries MORE stripe entries than the footer has stripes:
    # consistency flags, skip decision keeps every row, no IndexError
    r = _rollup_orc_file(
        facts,
        {
            "file_stats": {"v": cs("int", 0, 99, 100)},
            "stripe_stats": [
                {"v": cs("int", 0, 49, 60)},
                {"v": cs("int", 70, 99, 40)},
                {"v": cs("int", 70, 99, 40)},
            ],
        },
        "v",
        50.0,
    )
    assert not r["stripe_consistent"]
    assert r["cand_rows"] == 100 and r["skip_rows"] == 0

    # absent Metadata section entirely (ss = []): same degradation,
    # named by the consistency flag rather than a silent skip_safe=False
    r = _rollup_orc_file(
        facts,
        {
            "file_stats": {"v": cs("int", 0, 99, 100)},
            "stripe_stats": [],
        },
        "v",
        50.0,
    )
    assert not r["stripe_consistent"]
    assert r["cand_rows"] == 100 and r["skip_rows"] == 0

    # empty part file: zero rollup, booleans stay neutral
    r = _rollup_orc_file(
        {"file": "e.orc", "num_rows": 0, "num_stripes": 0,
         "stripe_rows": []},
        {"file_stats": {}, "stripe_stats": []},
        "v",
        50.0,
    )
    assert r["n_rows"] == 0 and r["cand_rows"] == 0
    assert r["null_free"] and r["stripe_consistent"]


def test_rollup_orc_file_partition_property():
    """Property harness over the per-file rollup: for ANY well-formed
    footer (num_rows = Σ stripe_rows) with arbitrary stats — None
    envelopes anywhere, int/double/decimal kinds, stripe-stat lists
    shorter/longer than the stripe count — the rollup never raises,
    candidate+skipped rows always partition the file exactly, and a
    stripe's rows are skipped only when its min provably exceeds the
    predicate. The fixture tests above pin specific branches; this
    pins the safety contract on inputs no fixture writer would emit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.sources.orc_io import _rollup_orc_file

    def cs(kind, mn, mx, n, has_null):
        if kind == "decimal":
            mn = None if mn is None else f"{mn}.00"
            mx = None if mx is None else f"{mx}.00"
        return {
            "kind": kind, "min": mn, "max": mx, "sum": None,
            "n_values": n, "has_null": has_null,
        }

    env = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))
    kind = st.sampled_from(["int", "double", "decimal"])
    stripe = st.tuples(
        env, env, st.integers(min_value=0, max_value=50), st.booleans()
    )

    @settings(max_examples=200, deadline=None)
    @given(
        k=kind,
        fmin=env,
        fmax=env,
        has_null=st.booleans(),
        stripes=st.lists(stripe, min_size=0, max_size=5),
        extra=st.integers(min_value=-2, max_value=2),  # ss length skew
        pred=st.integers(min_value=-100, max_value=100),
    )
    def prop(k, fmin, fmax, has_null, stripes, extra, pred):
        rows = [r for _mn, _mx, r, _hn in stripes]
        facts = {
            "file": "t.orc",
            "num_rows": sum(rows),
            "num_stripes": len(stripes),
            "stripe_rows": rows,
        }
        ss_len = max(0, len(stripes) + extra)
        ss = [
            {"v": cs(k, mn, mx, r, hn)}
            for mn, mx, r, hn in (stripes * 2)[:ss_len]
        ]
        stats = {
            "file_stats": {"v": cs(k, fmin, fmax, sum(rows), has_null)},
            "stripe_stats": ss,
        }
        r = _rollup_orc_file(facts, stats, "v", float(pred))
        # the partition invariant skip_safe rests on: no row vanishes
        assert r["cand_rows"] + r["skip_rows"] == facts["num_rows"]
        # rows are skipped only under a provable envelope exclusion
        if r["skip_rows"] > 0:
            assert fmin is not None and fmax is not None
            assert len(ss) == len(rows)
        # an absent file envelope can never report a null-free column
        if facts["num_rows"] > 0 and (fmin is None or fmax is None):
            assert not r["null_free"]

    prop()


def test_orc_footer_facts_fast_path_is_one_read(spark, tmp_path, monkeypatch):
    """ADVICE r15 #3: footer-facts-only callers never pay a tail
    re-read for the stripe-statistics Metadata section they ignore —
    with _TAIL_GUESS squeezed so footer+postscript fit but
    footer+metadata does NOT, read_orc_footer_facts_fileobj performs
    exactly ONE read and returns the unpatched facts, while the
    stats-consuming combined call re-reads (two reads) and still
    matches the path APIs byte-for-byte."""
    import glob

    import pim_orc_spark.sources.orc_footer as of

    out = str(tmp_path / "orc_manystripe")
    (
        spark.range(0, 400_000)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .sort("id")
        .coalesce(1)
        .write.mode("overwrite")
        .option("orc.stripe.size", str(256 * 1024))
        .orc(out)
    )
    (f,) = glob.glob(os.path.join(out, "*.orc"))
    size = os.path.getsize(f)
    # postscript fields: 1 = footerLength, 5 = metadataLength
    ps, _k, _footer_raw, _meta_raw = of._read_tail(f)
    footer_len, meta_len = ps[1], ps.get(5, 0)
    with open(f, "rb") as raw:
        raw.seek(size - 1)
        ps_len = raw.read(1)[0]
    assert meta_len > 0, "fixture must carry a Metadata section"

    class CountingFile:
        def __init__(self, fh):
            self.fh, self.reads = fh, 0

        def seek(self, *a):
            return self.fh.seek(*a)

        def read(self, *a):
            self.reads += 1
            return self.fh.read(*a)

    base_facts = of.read_orc_footer_facts(f)
    base_stats = of.read_orc_column_stats(f)
    # squeeze the guess between the two tail shapes: covers
    # footer+postscript, NOT footer+metadata+postscript
    guess = footer_len + ps_len + 1 + 8
    assert guess < meta_len + footer_len + ps_len + 1
    monkeypatch.setattr(of, "_TAIL_GUESS", guess)
    with open(f, "rb") as fh:
        cf = CountingFile(fh)
        facts = of.read_orc_footer_facts_fileobj(cf, size, "t.orc")
        assert cf.reads == 1, "facts-only caller paid a metadata re-read"
    assert {k: v for k, v in facts.items() if k != "file"} == {
        k: v for k, v in base_facts.items() if k != "file"
    }
    with open(f, "rb") as fh:
        cf = CountingFile(fh)
        facts2, stats2 = of.read_orc_stats_fileobj(cf, size, base_stats["file"])
        assert cf.reads == 2, "stats caller must re-read the true tail"
    assert stats2 == base_stats
    assert {k: v for k, v in facts2.items() if k != "file"} == {
        k: v for k, v in base_facts.items() if k != "file"
    }


def test_orc_footer_fileobj_api_matches_path_api(spark, sf_dir):
    """The remote-deployment escape hatch is real code, not a
    docstring: read_orc_footer_facts_fileobj over (a) the open file
    handle and (b) a BytesIO of the fetched bytes returns facts
    identical to the path API — the parser consumes bytes, never
    paths (the orc_metadata local-path guard points here)."""
    import glob
    import io

    from pim_orc_spark.sources.orc_footer import (
        read_orc_footer_facts,
        read_orc_footer_facts_fileobj,
    )

    orc_io.orc_table(spark, sf_dir, "lineitem")
    (f, *_rest) = sorted(
        glob.glob(
            os.path.join(
                versioned_cache_dir(
                    orc_io._ORC_CACHE_ROOT, sf_dir, "lineitem"
                ),
                "*.orc",
            )
        )
    )
    base = read_orc_footer_facts(f)
    size = os.path.getsize(f)
    with open(f, "rb") as fh:
        via_handle = read_orc_footer_facts_fileobj(
            fh, size, os.path.basename(f)
        )
    with open(f, "rb") as fh:
        blob = io.BytesIO(fh.read())
    via_bytes = read_orc_footer_facts_fileobj(
        blob, size, os.path.basename(f)
    )
    assert via_handle == base
    assert via_bytes == base
