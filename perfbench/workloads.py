"""The benchmark workloads. Each op is one fixed kind of work, driven
only through the engine's public functions and run through to a
checked result.

- ``orc_scan``: the reference's query, SUM(l_extendedprice) over a
  Snappy ORC lineitem (``orc_io.orc_roundtrip_sum``). Scan, decompress
  and partial aggregation; no shuffle, no Python, no dedup or join code.
- ``orc_ingest``: parquet slice -> ``write_orc`` -> ``orc_metadata``
  footer read -> ``read_orc`` + SUM. The writer and the footer parser.
- ``curate``: ``pipeline.pipeline_curate`` on a fresh document batch
  per op: quality gate, exact dedup, MinHash-LSH near dedup. Every op
  misses the resident-artifact cache.
- ``tpch_join``: one pass of four ``operators.relational`` queries over
  a star schema; the trade-graph artifact is a cache hit on every op.
- ``curate_join``: a ``curate`` op and a ``tpch_join`` pass without q65
  as one op, so that one gated workload covers both.

Each workload fixes its warm-up and its minimum number of timed ops, so
that every run does the same work and the gated three fit the
benchmark's run budget; see README.md.
"""

from __future__ import annotations

import gc
import os
import shutil
import time

import duckdb

from pim_orc_spark import artifacts, catalog, oracle
from pim_orc_spark.functions.numeric import exact_sum, exact_sum_sql
from pim_orc_spark.operators import dedup, pipeline, relational
from pim_orc_spark.sources import orc_io

from perfbench import gen
from perfbench.trace import Tracer


def _duckdb_price_sum(path: str) -> float:
    con = duckdb.connect()
    try:
        sql = f"SELECT {exact_sum_sql('l_extendedprice', 's')} FROM read_parquet('{path}')"
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


def _orc_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".orc"))


class Workload:
    """One workload. ``generate`` makes the inputs with numpy alone (it
    may run while the Spark session starts); ``setup`` prepares what the
    ops share; ``op`` is the timed unit and returns whether its result
    was right. ``before_op``/``after_op`` run outside the timed span."""

    name = ""
    rows_per_op = 0
    WARMUP_OPS = 4  # untimed ops before the timed window; see Run.warmup
    MIN_TIMED_OPS = 7  # timed ops per run, however short --seconds is

    def __init__(self, seed: int, data_dir: str) -> None:
        self.seed = seed
        self.dir = data_dir
        self.extra: dict[str, float] = {}  # per-op layer numbers, traced runs

    def generate(self) -> None:
        pass

    def setup(self, spark) -> dict[str, float]:
        return {}

    def before_op(self, i: int) -> None:
        pass

    def op(self, spark, i: int, tr) -> bool:
        raise NotImplementedError

    def verify(self, spark) -> tuple[bool, str]:
        """Check the last op's result against the engine's DuckDB oracle."""
        return True, "no oracle"

    def after_op(self, spark, i: int, traced: bool) -> None:
        pass

    def trace_hooks(self, tr: Tracer) -> None:
        """Install the tracing wrappers this workload's layers need."""

    def probe(self, spark) -> dict[str, float]:
        """Untimed extra counts of a traced op, taken once per traced run
        right after the op."""
        return {}


class OrcScan(Workload):
    name = "orc_scan"
    ORDERS = 1_500_000  # 6M lineitem rows
    MIN_TIMED_OPS = 8

    def generate(self) -> None:
        self.sf = os.path.join(self.dir, "sf")
        table = gen.lineitem(self.seed, self.ORDERS)
        self.rows_per_op = table.num_rows
        path = gen.write_table(table, self.sf, "lineitem")
        self.expected = _duckdb_price_sum(path)

    def setup(self, spark) -> dict[str, float]:
        t = time.perf_counter()
        orc_io.orc_table(spark, self.sf, "lineitem")  # materializes the ORC copy
        materialize_s = time.perf_counter() - t
        # the run's ORC cache root holds this one materialization
        meta = [orc_io.orc_metadata(spark, f)[0]
                for d, _, _ in os.walk(os.environ["SPARK_GRAFT_ORC_CACHE"])
                for f in _orc_files(d)]
        return {"orc_io.materialize_s": materialize_s,
                "orc_io.files": len(meta),
                "orc_io.stripes": sum(m["num_stripes"] for m in meta)}

    def op(self, spark, i: int, tr) -> bool:
        df = tr.phase("plan", lambda: orc_io.orc_roundtrip_sum(spark, self.sf))
        got = tr.phase("sink", lambda: df.collect()[0][0])
        return got == self.expected


class OrcIngest(Workload):
    name = "orc_ingest"
    ORDERS = 150_000  # 600k lineitem rows per op
    MIN_TIMED_OPS = 8

    def generate(self) -> None:
        # one seeded slice; every op writes it to a fresh directory
        self.src = os.path.join(self.dir, "slice")
        table = gen.lineitem(self.seed, self.ORDERS)
        self.expected = _duckdb_price_sum(gen.write_table(table, self.src, "lineitem"))
        self.rows_per_op = table.num_rows
        self.out_root = os.path.join(self.dir, "orc_out")

    def op(self, spark, i: int, tr) -> bool:
        out = os.path.join(self.out_root, f"op{i}")
        df = tr.phase("plan", lambda: catalog.load_table(spark, self.src, "lineitem"))

        def sink():
            orc_io.write_orc(df, out)
            meta = orc_io.orc_metadata(spark, out)
            with tr.span("orc_io.read_sum"):
                got = (orc_io.read_orc(spark, out)
                       .agg(exact_sum("l_extendedprice", "s")).collect()[0][0])
            return meta, got

        meta, got = tr.phase("sink", sink)
        self.last_meta = meta
        footer_ok = all(
            m["compression"] == "SNAPPY"
            and m["compression_block_size"] == int(orc_io.REFERENCE_ORC_OPTIONS["orc.compress.size"])
            and m["row_index_stride"] == int(orc_io.REFERENCE_ORC_OPTIONS["orc.row.index.stride"])
            for m in meta)
        return (footer_ok and sum(m["num_rows"] for m in meta) == self.rows_per_op
                and got == self.expected)

    def after_op(self, spark, i: int, traced: bool) -> None:
        out = os.path.join(self.out_root, f"op{i}")
        if traced:
            files = _orc_files(out)
            self.extra = {
                "orc_io.files": len(files),
                "orc_io.stripes": sum(m["num_stripes"] for m in self.last_meta),
                "orc_io.stored_bytes_per_row":
                    sum(os.path.getsize(f) for f in files) / self.rows_per_op,
            }
        shutil.rmtree(out, ignore_errors=True)

    def trace_hooks(self, tr: Tracer) -> None:
        tr.wrap(orc_io.write_orc, "orc_io.write_orc")
        tr.wrap(orc_io.orc_metadata, "orc_io.orc_metadata")


class Curate(Workload):
    name = "curate"
    # Op time is mostly the driver's eager jobs, whatever the batch size;
    # 100 documents still cover the whole vocabulary (44 mask words), and
    # DuckDB's all-pairs Jaccard checks the first op in ~1 s (~10 s on 300).
    DOCS = 100
    MIN_TIMED_OPS = 5

    def __init__(self, seed: int, data_dir: str, clear_artifacts: bool = True) -> None:
        super().__init__(seed, data_dir)
        self.clear_artifacts = clear_artifacts
        # Every batch is written to the same directory: a new version of
        # one table, whose artifacts replace the last batch's in the
        # engine's cache (keyed by directory and its mtime).
        self.batch = os.path.join(self.dir, "batch")

    def generate(self) -> None:
        self.vocab = gen.vocabulary()
        self.rows_per_op = self.DOCS

    def before_op(self, i: int) -> None:
        table, self.expected = gen.doc_batch(self.seed * 100_003 + i, self.DOCS, self.vocab)
        gen.write_table(table, self.batch, "documents")

    def op(self, spark, i: int, tr) -> bool:
        with tr.span("pipeline.curate"):
            self.df = tr.phase("plan", lambda: pipeline.pipeline_curate(spark, self.batch))
            rows = tr.phase("sink", self.df.collect)
        got = sorted(tuple(r) for r in rows)
        self.kept_frac = sum(r[4] for r in got) / sum(r[1] for r in got)
        return got == self.expected

    def verify(self, spark) -> tuple[bool, str]:
        return oracle.compare(self.df, pipeline.ORACLES["pipeline_curate"], self.batch)

    def after_op(self, spark, i: int, traced: bool) -> None:
        if traced:
            self.extra = {"pipeline.kept_frac": self.kept_frac,
                          "dedup.mask_words": self.mask_words}
        # Every op leaves a funnel artifact (localCheckpoint blocks) and a
        # cached gram dictionary behind. Drop them, so op n does not pay
        # for ops 1..n-1: releasing the Python handles lets Spark's
        # cleaner free the blocks they held. Without the clear, the next
        # batch's version evicts them when the next op looks them up.
        if self.clear_artifacts:
            artifacts.clear()
        self.df = self.pairs = self.pair_input = None
        gc.collect()
        if spark is not None:
            spark.catalog.clearCache()
        shutil.rmtree(self.batch, ignore_errors=True)

    def trace_hooks(self, tr: Tracer) -> None:
        def seen_pairs(args, out):
            self.pair_input, self.pairs = args[1], out

        def seen_index(args, out):
            self.mask_words = out[1]

        tr.wrap(dedup.minhash_pairs, "dedup.minhash_pairs", seen_pairs)
        tr.wrap(dedup._doc_signatures, "dedup.signatures", seen_index)

    def probe(self, spark) -> dict[str, float]:
        """Candidate and verified pair counts of the traced op's near-dup
        stage, recomputed outside the op."""
        cands = dedup.lsh_band_candidates(spark, self.pair_input).count()
        pairs = self.pairs.count()
        return {"dedup.candidates": cands, "dedup.pairs": pairs,
                "dedup.verify_yield": pairs / cands if cands else 0.0}


class TpchJoin(Workload):
    name = "tpch_join"
    ORDERS = 100_000  # 400k lineitem rows
    QUERIES = {
        "q08": relational.q08_fact_join_agg,
        "q32": relational.q32_tpch_q5_local_supplier,
        "q65": relational.q65_nation_pagerank,
        "q73": relational.q73_triangle_count,
    }

    def __init__(self, seed: int, data_dir: str, queries=tuple(QUERIES)) -> None:
        super().__init__(seed, data_dir)
        self.queries = {q: self.QUERIES[q] for q in queries}

    def generate(self) -> None:
        self.sf = os.path.join(self.dir, "sf")
        for name, table in gen.star_schema(self.seed, self.ORDERS).items():
            gen.write_table(table, self.sf, name)
        self.rows_per_op = self.ORDERS * gen.LINES_PER_ORDER
        self.reference = None

    def op(self, spark, i: int, tr) -> bool:
        results, self.dfs = {}, {}
        for short, query in self.queries.items():
            with tr.span(f"relational.{short}"):
                df = tr.phase("plan", lambda: query(spark, self.sf))
                rows = tr.phase("sink", df.collect)
            self.dfs[short] = df
            results[short] = sorted((tuple(r) for r in rows), key=repr)
        self.last = results
        return self.reference is None or results == self.reference

    # q65's and q73's DuckDB oracles need 3 GB to over 10 GB of memory at
    # this scale (measured on 60k and 400k lineitem rows); those two are
    # held to exact reproduction of the first op's rows only.
    ORACLE_CHECKED = ("q08", "q32")

    def verify(self, spark) -> tuple[bool, str]:
        msgs = []
        for short in self.ORACLE_CHECKED:
            if short not in self.queries:
                continue
            df = self.dfs[short]
            sql = relational.ORACLES[self.queries[short].__name__]
            ok, msg = oracle.compare(df, sql, self.sf)
            if not ok:
                return False, f"{short}: {msg}"
            msgs.append(f"{short} {msg}")
        self.reference = self.last  # later ops must reproduce it exactly
        return True, "; ".join(msgs)


class CurateJoin(Workload):
    """A ``curate`` op on a 100-document batch and then a ``tpch_join``
    pass without q65, as one op: the workload that gates the pipeline,
    dedup, relational and artifact-cache layers within the benchmark's
    run budget. The curate half builds its artifacts on every op (a
    miss: each batch is a new table version); q73's trade graph stays
    resident, a hit on every op, so the artifact cache is not cleared
    between ops. q65 (1.3 s of driver-side iterations) is left to the
    ``tpch_join`` workload."""

    name = "curate_join"
    # The second op is still ~1.4x slower than the later ones; as the
    # slowest of 4 timed ops it falls outside their median.
    WARMUP_OPS = 1
    MIN_TIMED_OPS = 4

    def __init__(self, seed: int, data_dir: str) -> None:
        super().__init__(seed, data_dir)
        self.curate = Curate(seed, os.path.join(data_dir, "curate"), clear_artifacts=False)
        self.join = TpchJoin(seed, os.path.join(data_dir, "join"),
                             queries=("q08", "q32", "q73"))
        self.parts = (self.curate, self.join)

    def generate(self) -> None:
        for p in self.parts:
            p.generate()
        # documents curated plus lineitem rows joined per query pass
        self.rows_per_op = sum(p.rows_per_op for p in self.parts)

    def before_op(self, i: int) -> None:
        self.curate.before_op(i)

    def op(self, spark, i: int, tr) -> bool:
        return all([p.op(spark, i, tr) for p in self.parts])

    def verify(self, spark) -> tuple[bool, str]:
        checks = [p.verify(spark) for p in self.parts]
        return all(ok for ok, _ in checks), "; ".join(msg for _, msg in checks)

    def after_op(self, spark, i: int, traced: bool) -> None:
        self.curate.after_op(spark, i, traced)
        self.extra = self.curate.extra

    def trace_hooks(self, tr: Tracer) -> None:
        self.curate.trace_hooks(tr)

    def probe(self, spark) -> dict[str, float]:
        return self.curate.probe(spark)


WORKLOADS = {w.name: w for w in (OrcScan, OrcIngest, Curate, TpchJoin, CurateJoin)}


def common_hooks(tr: Tracer) -> None:
    """Wrappers every workload's trace carries: the catalog and the
    resident-artifact cache."""
    tr.wrap(catalog.load_table, "catalog.load_table")
    original = artifacts.cached_artifact

    def cached_artifact(family, spark, sf_dir, build, probe=None):
        def counted_build():
            tr.calls["artifacts.builds"] += 1
            with tr.span("artifacts.build"):
                return build()

        before = tr.calls["artifacts.builds"]
        with tr.span("artifacts.cached_artifact"):
            out = original(family, spark, sf_dir, counted_build, probe)
        if tr.calls["artifacts.builds"] == before:
            tr.calls["artifacts.hits"] += 1
        return out

    tr.patch(original, cached_artifact)
