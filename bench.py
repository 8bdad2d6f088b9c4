#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...}

Method: results are written to Spark's `noop` sink — full execution,
no driver-side collect (collecting 600k rows would measure Python
deserialization, not the engine). One warmup action amortizes JVM/
codegen startup, matching how a resident cluster behaves. Each query
is timed ITERS times and the per-query MEDIAN is reported (total =
sum of medians): a one-off GC/compilation stall can no longer
masquerade as a regression (round 2's unexplained +78% on q04 was a
single-run artifact this exists to rule out).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))


# Headline set: the flagship reference-parity scan-agg plus one
# representative of each operator family (grouped agg, large join,
# top-k, windows/sessionization, near-dedup, ANN, text scoring).
HEADLINE = [
    "q01_flagship_sum",
    "q04_pricing_summary",
    "q08_fact_join_agg",
    "q10_topk",
    # classic TPC-H Q3 workload shape (3-table filter-join-agg-topk) —
    # the representative a reference user would benchmark first
    "q31_tpch_q3_shipping_priority",
    # ADDITIVE round-5 slot (r4 verdict #7: same 12 slots, new slots
    # additively only): the 6-table Q5 join tree — the deepest join in
    # the suite and the round-5-attested SQL workload representative
    "q32_tpch_q5_local_supplier",
    "q18_sessionization",
    # ADDITIVE round-6 slot (r5 verdict #7: at most one new slot, and
    # this is its pick): CDC MERGE upsert — full-outer join + CASE
    # resolve, the shape most unlike anything already benched
    "q44_merge_upsert_cdc",
    # the bucketed+salted LSH path is the 100 TB dedup plan and so the
    # headline representative; the all-pairs bitset form stays a
    # pytest-covered baseline (round-2 verdict: don't headline a
    # deliberately quadratic stage)
    "dedup_minhash_lsh",
    # the exact top-k: the shared partial top-k kernel (top-k per
    # Arrow batch, shuffle O(parts×q×k)) that every scan-shaped ANN
    # operator runs with its own scorer
    "ann_cosine_topk_vectorized",
    "ann_ivf_topk",
    "text_quality",
    "orc_roundtrip_sum",
    "stream_windowed_counts",
    # ADDITIVE round-9 slot (r8 verdict #7: at most one new slot, and
    # this is its pick): fixed-iteration PageRank — the one iterative
    # multi-pass shape in the suite (edges materialized once, one
    # edge⋈rank shuffle per iteration), unlike anything else benched
    "q65_nation_pagerank",
    # ADDITIVE round-11 slot (r10 verdict #2: at most one new slot, and
    # this is its pick): degree-oriented triangle counting — the
    # wedge-join graph shape (two chained edge joins over the shared
    # _trade_edges artifact), unlike q65's per-iteration rank shuffle
    "q73_triangle_count",
    # ADDITIVE round-12 slot (r11 verdict #4: at most one new slot, and
    # this is its pick): a real DEFLATE decompress in the measured set
    # — the reference's own hot stage is block decompression
    # (dpu_decompress.c:224-300); this is the Arrow-batched
    # encode→inflate→unfilter→features pipeline over binary columns
    "multimodal_png_decode",
    # ADDITIVE round-13 slot (r12 verdict #4: at most one new slot, and
    # this is its pick): the pure-Python DataSource scan — the one new
    # execution surface with a materially different cost model (a
    # Python worker per partition, Arrow-batched back into the JVM);
    # measuring it beside the JVM scans prices that overhead per round
    "source_python_datasource",
    # ADDITIVE round-14 slot (r13 verdict #4: at most one new slot, and
    # this is its pick): the prefix-filter containment join — the
    # round-13-born linear-regime plan shape (rare-first global gram
    # order, pigeonhole prefix candidate join, bitset AND+popcount
    # verify: three linear shuffles instead of all-pairs); pricing it
    # per round guards the regime boundary the docstrings argue.
    # Measured boundary at sf0.1 (r14): the fixture's saturated
    # char-3-gram universe admits 12.96M of ~25M ordered pairs (52%)
    # into the candidate distinct — the DENSE regime where this slot
    # is expected to cost ~3× the LSH slot; the sparse-corpus pytest
    # counts 0.12%→0.012% admission on the same engine. A collapse of
    # this slot's time would mean the filter got tighter; an explosion
    # would mean the rare-first order or the pigeonhole bound broke.
    "dedup_containment_prefix",
]


def calibration(spark) -> tuple[float, dict]:
    """Fixed CPU-bound probe that prices this run's host contention.

    Three rounds of cross-round comparisons (r7→r8, r9→r10, r10→r11)
    attributed uniform +15-25% headline drift to hypervisor co-tenancy
    by SIGNATURE only (unchanged-code slots drifting as much as changed
    ones, empty spread_flags). This makes it MEASURED: a workload whose
    cost is constant by construction — a pinned-size numpy matmul (pure
    FLOPs, BLAS-threaded, so stolen cores show up) plus a 1-partition
    Spark job (JVM task-scheduling overhead under the same load) — is
    timed with the same min-of-N discipline as the queries. The record
    carries it beside the timings: a slot that moved 1.2× while
    calibration moved 1.2× did not regress.

    Returns (calibration_sec, detail): the summed min-of-samples of the
    two parts, and the per-part samples for BENCH_DETAIL.json.
    """
    import numpy as np

    a = (np.arange(1024 * 1024, dtype=np.float64) % 1013.0).reshape(
        1024, 1024
    ) / 1013.0
    np_ts, spark_ts = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(12):
            (a @ a).sum()  # 12 × ~2.1 GFLOP, result discarded
        np_ts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(0, 8_000_000, 1, 1).selectExpr(
            "sum(id % 997) AS s"
        ).collect()
        spark_ts.append(time.perf_counter() - t0)
    cal = round(min(np_ts) + min(spark_ts), 4)
    return cal, {
        "numpy_matmul_sec": round(min(np_ts), 4),
        "spark_1part_sec": round(min(spark_ts), 4),
        "numpy_samples": [round(t, 4) for t in np_ts],
        "spark_samples": [round(t, 4) for t in spark_ts],
    }


def summarize(
    samples: dict[str, list[float]],
    cold_pass0: dict[str, float],
    cal_before: tuple[float, dict],
    cal_after: tuple[float, dict],
) -> tuple[dict[str, float], dict[str, float], dict]:
    """The post-timing arithmetic, free of Spark and of disk.

    Takes the timed samples per slot, the cold pass-0 times and the two
    calibration() results that bracket the timed window. Returns
    (timings, spread_flags, detail): per-slot medians (the headline),
    the slots whose median is more than 2× their min, and the
    BENCH_DETAIL.json record.
    """
    timings = {
        name: round(statistics.median(ts), 4) for name, ts in samples.items()
    }
    # Noise floor: a co-tenant stall only ever ADDS time, so min-of-N is
    # the contention-immune cost (observed: identical code measuring
    # 12 s vs 71 s on dedup_minhash_lsh purely from machine load).
    # Median stays the primary metric; the min makes a stalled run
    # self-diagnosing instead of masquerading as a regression.
    timings_min = {
        name: round(min(ts), 4) for name, ts in samples.items()
    }
    # Contention self-labeling: identical plans on identical data should
    # repeat within ~2×. A query whose median is >2× its min was stalled
    # by co-tenant load in at least half its samples — flag it so a
    # contended run reads as contended, not as a regression.
    spread_flags = {
        name: round(timings[name] / timings_min[name], 2)
        for name in samples
        if timings_min[name] > 0
        and timings[name] / timings_min[name] > 2.0
    }
    detail = {
        "queries_min": timings_min,
        # first-invocation cost per slot (codegen + resident-artifact
        # builds: the containment gram/bitset index, the LSH signature
        # cache) — the COLD half of the cold/warm split; queries_min is
        # the warm half
        "queries_cold_pass0": cold_pass0,
        # Calibration brackets the timed window (before + after): the
        # min across both prices this run's contention floor on the
        # same min-of-N basis as queries_min.
        "calibration_sec": min(cal_before[0], cal_after[0]),
        "calibration_before": cal_before[1],
        "calibration_after": cal_after[1],
    }
    return timings, spread_flags, detail


def main() -> None:
    from pim_orc_spark.session import get_spark

    spark = get_spark("pim_orc_spark-bench")
    import __spark_entry__ as entry_mod

    # all_queries: bench slots must stay comparable across rounds even
    # when their driver-sweep slot rotates to pytest-only
    qs = entry_mod.all_queries()

    # Warmup: trigger JVM + codegen + file listing once, and materialize
    # the one-time ORC copy of lineitem so orc_roundtrip_sum times the
    # scan, not the write.
    qs["q01_flagship_sum"](spark, SF_DIR).collect()
    from pim_orc_spark.sources.orc_io import orc_table

    orc_table(spark, SF_DIR, "lineitem")

    # Timed span = plan construction + full execution. Streaming queries
    # run to completion inside the callable (memory sink); batch queries
    # execute in the noop write — timing both phases covers each shape.
    # Median of ITERS runs per query; iterations are interleaved
    # (full pass over the headline set, ITERS times) so a transient
    # stall degrades one sample of many queries instead of all samples
    # of one.
    # Untimed pass 0: whole-stage codegen compilation for every headline
    # plan happens here, not in sample 1 — a resident cluster compiles a
    # recurring query once, so cold-compile cost is startup, not steady
    # state.
    #
    # Between passes, reclaim the previous pass's localCheckpoint
    # blocks: python gc drops the DataFrame handles, and an explicit JVM
    # System.gc() lets Spark's weak-reference ContextCleaner actually
    # unpersist them — on a 24g heap the JVM may otherwise not GC for
    # the whole bench, accumulated blocks squeeze unified memory, and
    # the shuffle/Arrow-heavy queries start SPILLING (observed: the
    # identical dedup_minhash_lsh sample swinging 12 s → 71 s within
    # one bench invocation while pure-JVM queries held steady).
    import gc

    def reclaim() -> None:
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # Pass 0 is ALSO the run's COLD measurement: the first invocation
    # of each slot pays codegen AND any resident-index build (the
    # containment gram/bitset artifact, the LSH signature cache), while
    # the timed min below prices the WARM steady state a resident
    # cluster lives in. Reporting both on the same run makes the
    # cached-artifact slots explicit about which state they measure —
    # queries_cold_pass0 vs queries_min in BENCH_DETAIL (cold is one
    # sample, so it is reported, not the headline).
    cold_pass0: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        cold_pass0[name] = round(time.perf_counter() - t0, 4)
    cal_before = calibration(spark)
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(ITERS):
        reclaim()
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    cal_after = calibration(spark)
    timings, spread_flags, detail = summarize(
        samples, cold_pass0, cal_before, cal_after
    )
    if spread_flags:
        print(
            "bench: median/min spread >2x (machine contention likely): "
            + ", ".join(f"{k}={v}x" for k, v in spread_flags.items()),
            file=sys.stderr,
        )

    # Scan-agg throughput for the flagship (reference continuity metric).
    n_rows = qs["q05_metadata_count"](spark, SF_DIR).collect()[0][0]
    flagship = timings["q01_flagship_sum"]
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # The driver records only the LAST 2000 chars of bench output and
    # parses the final line as JSON — round 6's line outgrew that
    # window when the q44 slot was added (five per-query dicts × 14
    # slots) and the headline value came back unparseable. The printed
    # line therefore carries only the contract keys plus small scalars;
    # the full diagnostics (per-query min, cold pass, calibration
    # samples) land in BENCH_DETAIL.json next to this script.
    try:
        with open(os.path.join(_REPO_ROOT, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:  # read-only checkout: diagnostics to stderr
        print(f"bench: BENCH_DETAIL.json not written ({exc})", file=sys.stderr)
        print(json.dumps(detail), file=sys.stderr)
    print(
        headline_json(
            timings=timings,
            value_min=round(sum(detail["queries_min"].values()), 4),
            spread_flags=spread_flags,
            sf=float(sf) if sf.replace(".", "").isdigit() else sf,
            lineitem_rows=n_rows,
            flagship_rows_per_sec=(
                round(n_rows / flagship) if flagship else None
            ),
            calibration_sec=detail["calibration_sec"],
        )
    )


def headline_json(
    *,
    timings: dict[str, float],
    value_min: float,
    spread_flags: dict[str, float],
    sf,
    lineitem_rows: int,
    flagship_rows_per_sec,
    calibration_sec=None,
) -> str:
    """Serialize the one driver-parsed JSON line, guaranteed to fit the
    driver's 2000-char output window (tested in test_entry_contract)."""
    headline_line = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "value_min": value_min,
        "spread_flags": spread_flags,
        # fixed-workload contention price for this run; two runs' slot
        # times compare only beside their calibration ratio (full
        # per-part samples in BENCH_DETAIL)
        **(
            {"calibration_sec": calibration_sec}
            if calibration_sec is not None
            else {}
        ),
        "sf": sf,
        "iterations": ITERS,
        "lineitem_rows": lineitem_rows,
        "flagship_rows_per_sec": flagship_rows_per_sec,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(headline_line)
    if len(line) > 1800:  # belt-and-braces under the 2000-char window
        headline_line.pop("spread_flags", None)
        headline_line.pop("detail", None)
        line = json.dumps(headline_line)
    if len(line) > 1800:
        # queries is the one term that grows a slot per round; its
        # per-query numbers live on in BENCH_DETAIL.json — truncate it
        # deterministically (alphabetical head) rather than let the
        # line outgrow the driver's window with no mitigation left.
        keep = dict(sorted(timings.items())[:10])
        headline_line["queries"] = keep
        headline_line["queries_truncated"] = len(timings) - len(keep)
        line = json.dumps(headline_line)
    return line


if __name__ == "__main__":
    main()
