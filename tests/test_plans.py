"""Plan-shape assertions: the optimizations SURVEY.md §4 claims must be
visible in the physical plans (pushdown, pruning, broadcast), via the
S8 profiling helper."""

from __future__ import annotations

from pyspark.sql import functions as F

from pim_orc_spark.catalog import load_table
from pim_orc_spark.plans.profile import explain_profile, scan_summary


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from pim_orc_spark.operators.relational import q03_pushdown_range_filter

    s = scan_summary(q03_pushdown_range_filter(spark, sf_dir))
    assert "l_quantity" in s["pushed_filters"]
    assert "l_shipdate" in s["pushed_filters"]


def test_projection_prunes_read_schema(spark, sf_dir):
    """A 1-column aggregate must read exactly 1 column (P1: the
    reference consumes only fields[0], reader.cc:50)."""
    from pim_orc_spark.operators.relational import q01_flagship_sum

    s = scan_summary(q01_flagship_sum(spark, sf_dir))
    assert s["read_schema"] == "struct<l_extendedprice:double>"


def test_star_join_broadcasts(spark, sf_dir):
    from pim_orc_spark.operators.relational import q07_broadcast_star_join

    plan = explain_profile(q07_broadcast_star_join(spark, sf_dir), execute=False)
    assert "BroadcastHashJoin" in plan


def test_partition_pruning_in_plan(spark, sf_dir):
    """The partitioned layout must satisfy the predicate at directory
    level: PartitionFilters populated, and the pushed-down data filter
    list must NOT need the partition column."""
    from pim_orc_spark.sources.orc_io import partition_pruned_sum

    plan = explain_profile(partition_pruned_sum(spark, sf_dir), execute=False)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*l_returnflag[^\]]*\]", plan)
    assert m, f"no partition filter on l_returnflag:\n{plan[:1200]}"


def test_sql_surface_over_views(spark, sf_dir):
    """register_views exposes every fixture table to plain spark.sql —
    the oracle SQL dialect's table names resolve in Spark too."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    row = spark.sql(
        """
        SELECT r.r_name, COUNT(*) AS n
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name LIMIT 1
        """
    ).collect()[0]
    assert row["n"] > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both join sides on the key co-locates matching rows at
    WRITE time, so the sort-merge join plans with zero Exchange under
    the join — the pre-shuffled layout a 100 TB star schema would use
    for its recurring fact-fact joins."""
    from pim_orc_spark.catalog import load_table

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tbl = f"bkt_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, sf_dir, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{warehouse}/{tbl}")
            .saveAsTable(tbl)
        )
    # join only (no aggregate), so a correctly-bucketed plan contains NO
    # Exchange anywhere. Disable auto-broadcast for the assertion: the
    # fixture-sized orders table would otherwise broadcast, which is
    # shuffle-free for a different (non-scalable-to-fact-fact) reason.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.sql(
            """
            SELECT l.l_orderkey, o.o_orderpriority
            FROM bkt_lineitem l JOIN bkt_orders o
              ON l.l_orderkey = o.o_orderkey
            """
        )
        plan = explain_profile(joined, execute=False)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, plan[:1500]
        import duckdb

        exp = duckdb.sql(
            f"""
            SELECT COUNT(*) FROM '{sf_dir}/lineitem.parquet' l
            JOIN '{sf_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
            """
        ).fetchone()[0]
        assert joined.count() == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_orc_count_pushes_aggregate_to_footer(spark, sf_dir):
    """A3 as pure metadata work: with ORC on the DSv2 path and
    aggregatePushdown on, COUNT(*) must appear as a pushed aggregate in
    the scan — answered from stripe footers (reader.cc:104-112), no data
    column in the read schema."""
    from pim_orc_spark.sources.orc_io import orc_metadata_rowcount

    plan = explain_profile(orc_metadata_rowcount(spark, sf_dir), execute=False)
    assert "PushedAggregation: [COUNT(*)]" in plan, plan[:1200]
    assert "BatchScan orc" in plan
    # the scan's output is the count itself, not any data column
    assert "ReadSchema: struct<count(*):bigint>" in plan


def test_profile_includes_runtime_plan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    text = explain_profile(li.agg(F.sum("l_quantity").alias("s")))
    assert "HashAggregate" in text


def test_spread_skips_already_wide_nonfile_plans(spark):
    """spread()'s non-file fallback must not force a repartition
    shuffle onto a plan that is already at cluster parallelism
    (advisory: the old 0-default did exactly that)."""
    from pim_orc_spark.plans import spread

    wide = spark.range(0, 1000).repartition(64)
    assert spread(spark, wide) is wide
    narrow = spark.range(0, 1000).coalesce(1)
    spread_n = spread(spark, narrow)
    assert spread_n is not narrow
    assert spread_n.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_stage_profile_bins_flagship(spark, sf_dir):
    """S8 parity: the stage-binned runtime profile (the engine's
    analogue of the reference's stackcollapse breakdown,
    parse_stackcollapse.py:5-10) must attribute the flagship's metrics
    to scan/exchange/agg bins whose times and fractions are
    self-consistent (bins sum to the reported total, fractions to 1)."""
    from pim_orc_spark.operators.relational import q01_flagship_sum
    from pim_orc_spark.plans.profile import stage_profile

    prof = stage_profile(q01_flagship_sum(spark, sf_dir))
    bins = prof["bins"]
    assert bins["scan"]["nodes"] >= 1
    assert bins["agg"]["nodes"] >= 2  # partial + final HashAggregate
    assert bins["exchange"]["nodes"] >= 1
    assert bins["scan"]["rows"] > 0
    assert prof["binned_total_ms"] > 0
    total = sum(r["time_ms"] for r in bins.values())
    assert abs(total - prof["binned_total_ms"]) < 1e-3
    assert abs(sum(r["frac"] for r in bins.values()) - 1.0) < 1e-9
    assert prof["wall_sec"] > 0


def test_lsh_band_join_is_sort_merge(spark, sf_dir):
    """The LSH band self-join is PINNED to sort-merge: at 100 TB the
    banded set is corpus-sized (broadcast is never right), and a
    deterministic strategy keeps the benched plan stable (AQE was
    observed flip-flopping BHJ/SMJ on checkpoint size estimates).
    Guards the hint against accidental removal."""
    from pim_orc_spark.operators.dedup import dedup_minhash_lsh

    plan = dedup_minhash_lsh(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1500]


def test_dedup_verify_rounds_only_after_the_gate(spark, sf_dir, monkeypatch):
    """The pair engines decide ``round(ratio, 6) >= T`` with an exact
    long compare and round only the surviving pairs: no join condition
    and no filter of the executed plan may contain ``round(`` — Spark's
    Round builds a BigDecimal per row, and a join condition evaluates
    it once per candidate. Covers the MinHash narrow branch, its wide
    branch (CARRY_MASK_MAX_WORDS = 0) and the containment prefix
    engine."""
    from pim_orc_spark.operators import dedup

    def offending(df):
        df.collect()  # the final adaptive plan, not only the initial one
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            line
            for line in plan.splitlines()
            if ("Join" in line or "Filter" in line) and "round(" in line
        ]

    assert offending(dedup.dedup_minhash_lsh(spark, sf_dir)) == []
    assert offending(dedup.dedup_containment_prefix(spark, sf_dir)) == []
    monkeypatch.setattr(dedup, "CARRY_MASK_MAX_WORDS", 0)
    assert offending(dedup.dedup_minhash_lsh(spark, sf_dir)) == []


def test_bag_set_ops_plan_has_no_join(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL must plan as count-aggregate +
    generate replication — a join-based rewrite would explode on
    duplicate-heavy keys at scale."""
    from pim_orc_spark.operators.relational import q28_bag_set_ops
    from pim_orc_spark.plans.profile import explain_profile

    plan = explain_profile(q28_bag_set_ops(spark, sf_dir), execute=False)
    assert "Join" not in plan, plan[:1500]
    assert "Generate" in plan


def test_tfidf_joins_broadcast(spark, sf_dir):
    """Both joins in the tf-idf pipeline (bounded idf dimension onto
    per-doc tf, bounded corpus-size row onto df counts) must broadcast
    — a shuffle join on the vocab dimension would re-shuffle the whole
    tf table at scale."""
    from pim_orc_spark.operators.text import text_tfidf_topk
    from pim_orc_spark.plans.profile import explain_profile

    plan = explain_profile(text_tfidf_topk(spark, sf_dir), execute=False)
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_salted_join_is_shuffle_on_salted_keys(spark, sf_dir):
    """The salted-join kernel must (a) keep the big join on the
    SHUFFLE path — a broadcast join would make the salting dead code
    and hide the skew it exists to fix — and (b) join on BOTH the user
    key and the salt column, so each hot key's rows spread over
    N_SALTS shuffle partitions."""
    from pim_orc_spark.operators.relational import q39_skew_salted_join

    plan = (
        q39_skew_salted_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin [l_returnflag" in plan, plan[:1500]
    assert "__salt" in plan


def test_q37_aggregates_before_customer_join(spark, sf_dir):
    """TPC-H Q10's revenue must aggregate to one row per custkey
    BEFORE the customer dimension joins on (the wide fact join result
    never carries customer attributes); nation must broadcast."""
    from pim_orc_spark.operators.relational import (
        q37_tpch_q10_returned_items,
    )
    from pim_orc_spark.plans.profile import explain_profile

    plan = explain_profile(
        q37_tpch_q10_returned_items(spark, sf_dir), execute=False
    )
    assert "BroadcastHashJoin" in plan  # nation side
    # revenue aggregates keyed on the FACT-side custkey (o_custkey):
    # that grouping key only exists if the aggregate runs before the
    # customer join (a join-first rewrite would group on c_custkey
    # with customer attributes riding through the wide join)
    assert "Keys [1]: [o_custkey" in plan, plan[:2000]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB technique where a
    selective dimension filter is turned into a bloom filter applied to
    the FACT scan before the shuffle (Spark's InjectRuntimeFilter), so
    the join shuffles only rows that can match. The feature's
    production thresholds (10 GB application side) are sized for real
    clusters; this test lowers them to fixture scale and asserts the
    plan carries both halves: bloom_filter_agg on the dimension side
    and might_contain guarding the fact scan."""
    from pyspark.sql import functions as F

    from pim_orc_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # force the shuffle path (broadcast joins skip runtime filters)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """q87's docstring claims Catalyst decorrelates the correlated
    ORDER BY ... LIMIT lateral into a rank-filter Window + one
    BroadcastHashJoin — machine-assert it: the executed plan must
    carry a Window and must NOT fall back to a per-outer-row nested
    loop (BroadcastNestedLoopJoin / CartesianProduct), which is the
    plan shape that would NOT survive a growing driving table."""
    from pim_orc_spark.operators.relational import (
        q87_lateral_topk_per_group,
    )

    plan = (
        q87_lateral_topk_per_group(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_width_bucket_histogram_is_single_scan_no_python(spark, sf_dir):
    """q90's docstring claims one map-side expression + one grouped
    aggregate over a single scan, all in codegen — machine-assert it:
    exactly one file scan, no Python eval in the plan."""
    from pim_orc_spark.operators.relational import (
        q90_width_bucket_histogram,
    )

    plan = (
        q90_width_bucket_histogram(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan[:1500]
    assert "Python" not in plan, plan[:1500]


def test_event_funnel_single_fact_shuffle(spark, sf_dir):
    """q43's scale claim pinned to the plan: all three funnel-step
    window MINs share ONE user_id exchange (plus the final single-row
    aggregate's exchange) — the naive per-step aggregate+join chain
    would show an exchange per step."""
    from pim_orc_spark.operators.relational import q43_event_funnel

    plan = (
        q43_event_funnel(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_key_skew_report_never_ranks_the_key_relation(spark, sf_dir):
    """q53's r5 defect, pinned dead: the first version ranked every
    distinct key in ONE window task (row_number with no partitionBy
    over the l_orderkey relation — billions of rows in one task at
    the very scale the diagnostic exists for). The rebuilt plan must
    show (a) no row_number at all, (b) top-K via TakeOrderedAndProject
    (distributed partial top-K), and (c) windows ONLY over the
    group-size histogram relation, whose input is a groupBy(cnt)
    aggregate — never the key relation."""
    from pim_orc_spark.operators.relational import q53_key_skew_report

    plan = (
        q53_key_skew_report(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" not in plan, plan[:1500]
    assert plan.count("TakeOrderedAndProject") == 2, plan[:1500]
    # every Sort feeding a Window sorts the histogram's cnt column,
    # not a fact key
    for line in plan.splitlines():
        head = line.split("(")[0]
        if "Sort [" in line and "Sort" in head:
            assert "cnt#" in line, line


def test_q21_correlation_pipeline_single_orderkey_exchange(spark, sf_dir):
    """q61's scale claim pinned: the EXISTS/NOT-EXISTS correlation
    (per-order window stats → at-max DISTINCT → n_at_max re-aggregate
    → their join) must ride ONE orderkey exchange — every downstream
    key is orderkey-prefixed, which the existing partitioning
    satisfies. Budget: that window exchange + the fact join's own +
    the final dimension-sized s_name aggregate."""
    from pim_orc_spark.operators.relational import q61_tpch_q21_waiting_supplier

    plan = (
        q61_tpch_q21_waiting_supplier(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 4, plan[:2000]


def test_q8_market_share_is_one_aggregate_pass(spark, sf_dir):
    """q55's ratio must come from ONE aggregate over ONE fact scan
    (conditional numerator CASE'd into the same SUM pass) — the naive
    two-query form scans and shuffles the 6-way join twice."""
    from pim_orc_spark.operators.relational import q55_tpch_q8_market_share

    plan = (
        q55_tpch_q8_market_share(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") == 2, plan[:1500]  # partial+final
    assert plan.lower().count("lineitem") == 1, plan[:1500]


def test_q7_nation_volume_single_fact_aggregate(spark, sf_dir):
    """q54: one fact scan, one partial+final aggregate, and the
    orderkey shuffle happens on the nation-filtered fact (the
    supplier attribution join precedes it in the plan)."""
    from pim_orc_spark.operators.relational import q54_tpch_q7_nation_volume

    plan = (
        q54_tpch_q7_nation_volume(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") == 2, plan[:1500]
    assert plan.lower().count("lineitem") == 1, plan[:1500]
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:1500]


def test_incremental_mv_never_rescans_the_fact(spark, sf_dir):
    """q64's incremental path may read the base (customer) for the MV
    artifact stand-in and the change-key lookups, but must never
    touch the fact table at all — maintenance cost is O(changes +
    segments), not O(corpus)."""
    from pim_orc_spark.operators.relational import (
        q64_incremental_mv_maintenance,
    )

    plan = (
        q64_incremental_mv_maintenance(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "lineitem" not in plan.lower(), plan[:1500]
    assert "orders" not in plan.lower(), plan[:1500]


def test_derived_aggregate_consumers_scan_the_fact_once(spark, sf_dir):
    """The round-6 double-lineage audit, pinned: queries whose derived
    aggregate feeds TWO consumers (a HAVING/scalar total, a per-group
    MIN, a part total) must not recompute the fact scan per branch —
    via a window over the aggregate (q57/q60) or a bounded
    materialization (q58/q50's lazy localCheckpoint). Catalyst's
    exchange reuse never fires across differently-pruned subtrees, so
    the naive agg + self-join form silently pays 2× the fact I/O."""
    from pim_orc_spark.operators import relational as R

    for name, max_scans in [
        ("q57_tpch_q2_min_cost_supplier", 1),
        ("q60_tpch_q20_excess_suppliers", 1),
        ("q58_tpch_q11_important_parts", 1),
        ("q50_tpch_q15_top_supplier", 1),
    ]:
        plan = (
            R.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.lower().count("lineitem") <= max_scans, (
            name,
            plan[:1200],
        )


def test_constraint_suite_fuses_row_checks_into_one_scan(spark, sf_dir):
    """q66's four row-local checks must share ONE lineitem scan (fused
    aggregate + stack unpivot); only uniqueness and referential
    integrity may add scans — 3 total, not 6."""
    from pim_orc_spark.operators.relational import q66_constraint_suite

    plan = explain_profile(q66_constraint_suite(spark, sf_dir), execute=False)
    # formatted plans put the table path on the scan node's Location
    # detail line, not the header line
    n_li_scans = sum(
        1
        for line in plan.splitlines()
        if "Location" in line and "lineitem" in line
    )
    assert n_li_scans == 3, f"expected 3 lineitem scans, saw {n_li_scans}\n{plan}"


def test_runtime_bloom_filter_reduces_shuffle_join(spark, sf_dir):
    """Row-granularity runtime semi-join reduction — the companion of
    maintenance_dpp_sum's directory-granularity pruning: for a SHUFFLE
    join whose build side carries a selective filter, Catalyst can
    inject might_contain(bloom_filter_agg(build keys)) onto the probe
    side, dropping non-matching rows BEFORE the exchange. The feature
    is on by default but gated on a 10 GB probe-side scan (it only
    pays off at real scale), so the test lowers that gate to prove the
    mechanism and the result-invariance; at 100 TB the default gates
    engage on their own. Asserts (a) the bloom filter is injected,
    (b) the reduced join returns exactly the default-path result."""
    from pyspark.sql import functions as F

    from pim_orc_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")

    def run():
        q = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n_rows"),
            # decimal sum: order-independent, so plan changes can't
            # shake the last float digit loose
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "sum_price"
            ),
        )
        return q, q.collect()

    baseline_q, baseline = run()
    app_gate = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old_gate, old_bcast = spark.conf.get(app_gate), spark.conf.get(bcast)
    try:
        spark.conf.set(app_gate, "0")  # fixture-sized probe side
        spark.conf.set(bcast, "-1")  # bloom reduces SHUFFLE joins only
        bloom_q, bloom = run()
    finally:
        spark.conf.set(app_gate, old_gate)
        spark.conf.set(bcast, old_bcast)
    plan = bloom_q._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan[:1500]
    base_plan = baseline_q._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" not in base_plan  # gate honored by default
    assert bloom == baseline


def test_round9_operators_have_the_claimed_plan_shapes(spark, sf_dir):
    """Machine-check each round-9 docstring's plan claim:
    - text_pii_redact: map-only — zero exchanges, zero joins, no
      Python (pure Catalyst regex expressions);
    - text_url_filter: the documents side never shuffles — the only
      exchange is the final per-source aggregate's, the blocklist
      arrives as a BroadcastHashJoin;
    - dedup_span_report: the single-pass claim — NO join anywhere
      (cross-doc detection is a window over the reduced relation);
    - the codec family (multimodal_ppm/bmp/png/wav_decode,
      snappy_block_decode): map-only — zero exchanges, zero joins, its
      per-document kernel stages evaluated in Python.
    """
    import re

    from pim_orc_spark.operators.dedup import dedup_span_report
    from pim_orc_spark.operators.multimodal import (
        multimodal_bmp_decode,
        multimodal_png_decode,
        multimodal_ppm_decode,
        multimodal_wav_decode,
        snappy_block_decode,
    )
    from pim_orc_spark.operators.text import text_pii_redact, text_url_filter

    def shape(df):
        df.collect()
        s = df._jdf.queryExecution().executedPlan().toString()
        s = s.split("== Initial Plan ==")[0]  # AQE echoes the pre-plan
        return {
            "exchanges": len(re.findall(r"Exchange (hash|range|Single)", s)),
            "joins": len(re.findall(r"Join", s)),
            "python": len(re.findall(r"(ArrowEvalPython|MapInPandas|BatchEvalPython)", s)),
            "plan": s,
        }

    p = shape(text_pii_redact(spark, sf_dir))
    assert p["exchanges"] == 0 and p["joins"] == 0 and p["python"] == 0, p["plan"][:1500]

    u = shape(text_url_filter(spark, sf_dir))
    assert u["exchanges"] == 1, u["plan"][:1500]  # only the final agg
    assert "BroadcastHashJoin" in u["plan"], u["plan"][:1500]

    sp = shape(dedup_span_report(spark, sf_dir))
    assert sp["joins"] == 0, sp["plan"][:1500]

    for fn in (
        multimodal_ppm_decode,
        multimodal_bmp_decode,
        multimodal_png_decode,
        multimodal_wav_decode,
        snappy_block_decode,
    ):
        m = shape(fn(spark, sf_dir))
        assert m["exchanges"] == 0 and m["joins"] == 0, m["plan"][:1500]
        assert m["python"] >= 1, m["plan"][:1500]


def test_cbo_stats_reorder_the_join_tree(spark, sf_dir):
    """q76's claim, machine-checked: with ANALYZE'd column statistics
    and spark.sql.cbo.(joinReorder.)enabled, Catalyst's
    CostBasedJoinReorder rewrites the deliberately fact-first join
    text. Rule-based planning keeps the syntactic order — lineitem is
    the first leaf of the join tree — while the cost-based plan joins
    orders with the FILTERED customer side before lineitem ever
    enters (the intermediate shrinks from |lineitem| to the filtered
    customer's order lines). Results must be identical either way."""
    from pim_orc_spark.operators.relational import (
        _CBO_JOIN_SQL_FMT,
        _cbo_confs,
        _cbo_tables,
        q76_cbo_join_reorder,
    )

    t = _cbo_tables(spark, sf_dir)
    sql = _CBO_JOIN_SQL_FMT.format(
        li=t["lineitem"], o=t["orders"], c=t["customer"]
    )

    def optimized(enabled):
        old = _cbo_confs(spark, enabled)
        try:
            df = spark.sql(sql)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rows = sorted(map(tuple, df.collect()))
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
        return plan, rows

    base_plan, base_rows = optimized(False)
    cbo_plan, cbo_rows = optimized(True)
    assert cbo_rows == base_rows  # the reorder may never change values
    assert base_rows  # non-degenerate fixture

    def leaf_order(plan):
        return sorted(
            (plan.index(f"cbo_{t}_"), t)
            for t in ("lineitem", "orders", "customer")
        )

    # rule-based: syntactic order — lineitem is the first leaf
    assert leaf_order(base_plan)[0][1] == "lineitem", base_plan[:1500]
    # cost-based: the filtered-customer⋈orders join goes innermost;
    # lineitem joins LAST, so it is no longer the first leaf
    assert leaf_order(cbo_plan)[0][1] != "lineitem", cbo_plan[:1500]
    assert cbo_plan != base_plan

    # the exported operator materializes under CBO and matches too
    out = sorted(map(tuple, q76_cbo_join_reorder(spark, sf_dir).collect()))
    assert out == base_rows


def test_aqe_replans_coalesce_and_skew_split(spark):
    """session.py turns on AQE and its skew-join remedy; this
    machine-checks that both runtime re-plans actually FIRE rather
    than staying configuration theater. (a) A small grouped aggregate
    shuffles into 32 configured partitions but AQE coalesces the read
    to match the real byte sizes (plan shows a coalesced
    AQEShuffleRead) — at 100 TB this is what keeps reducer counts
    proportional to data, not to a static conf. (b) With the skew
    thresholds scaled down to fixture bytes, a 90%-hot join key's
    sort-merge partition is SPLIT (skew=true on the executed join) —
    and the split must not change the answer, checked against the
    closed-form count/sum."""
    from pyspark.sql import functions as F

    agg = (
        spark.range(0, 10_000, 1, 8)
        .groupBy((F.col("id") % 5).alias("k"))
        .count()
    )
    agg.collect()
    s = agg._jdf.queryExecution().executedPlan().toString()
    assert "coalesced" in s, s[:1500]

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_rows = 200_000
        left = spark.range(0, n_rows, 1, 8).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = (
            left.join(right.hint("shuffle_merge"), "k")
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        row = j.collect()[0]
        # every left row matches exactly one right row
        assert row["n"] == n_rows
        assert row["s"] == n_rows * (n_rows - 1) // 2
        s2 = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in s2, s2[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_udf_inlines_to_codegen_no_python(spark, sf_dir):
    """q79's claim, machine-checked: a SQL-language UDF is INLINED by
    Catalyst — the executed plan contains no Python evaluation node of
    any kind (the function body became plain codegen arithmetic). Also
    exercises the TABLE-valued form of the same DDL surface: a SQL
    table function must behave as its inlined defining query."""
    import re

    from pim_orc_spark.operators.relational import q79_sql_udf_front_door

    df = q79_sql_udf_front_door(spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    s = s.split("== Initial Plan ==")[0]
    assert not re.search(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|PythonUDF", s
    ), s[:1500]

    # TABLE-valued SQL function: big-ticket lines above a qty threshold
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_lines(min_qty INT)
        RETURNS TABLE(l_orderkey BIGINT, l_quantity DOUBLE)
        RETURN SELECT l_orderkey, l_quantity
               FROM lineitem WHERE l_quantity >= min_qty
        """
    )
    got = spark.sql(
        "SELECT COUNT(*) AS n, MIN(l_quantity) AS mn FROM big_lines(45)"
    ).collect()[0]
    exp = spark.sql(
        "SELECT COUNT(*) AS n, MIN(l_quantity) AS mn FROM lineitem "
        "WHERE l_quantity >= 45"
    ).collect()[0]
    assert (got["n"], got["mn"]) == (exp["n"], exp["mn"]) and got["n"] > 0


def test_sql_variable_parameter_binds_as_pushed_literal(spark, sf_dir):
    """q80's scale claim, machine-checked: the EXECUTE IMMEDIATE
    parameter (bound from a session variable) becomes a plan-time
    LITERAL — the quantity predicate reaches the parquet scan as a
    PushedFilter (LessThan on l_quantity) and the scan reads only the
    four referenced columns. A string-interpolation front door gets
    this too, but only the parameter path gets it without the
    injection surface — that is the point of the operator."""
    from pim_orc_spark.operators.relational import (
        q80_sql_variables_front_door,
    )

    df = q80_sql_variables_front_door(spark, sf_dir)
    s = scan_summary(df)
    assert "LessThan(l_quantity" in s["pushed_filters"], s
    assert "l_extendedprice" in s["read_schema"]
    assert "l_orderkey" not in s["read_schema"]  # pruned
    # and no Python node anywhere — pure front-door SQL
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_unpivot_expands_in_one_scan(spark, sf_dir):
    """q82's scale claim: unpivot reshapes k measures into k rows per
    input row inside ONE Expand over ONE scan — the UNION-ALL
    formulation its oracle uses would read the aggregate k times."""
    from pim_orc_spark.operators.relational import q82_unpivot_long_form

    plan = (
        q82_unpivot_long_form(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in plan, plan[:1500]
    assert plan.count("FileScan") == 1, plan[:1500]


def test_cbo_tables_carry_row_and_column_stats(spark, sf_dir):
    """The ANALYZE pass behind q76 must leave auditable statistics in
    the catalog: table-level row counts (DESCRIBE EXTENDED's
    Statistics line) and per-column distinct counts for every column
    _CBO_STATS_COLS names — the inputs the cost model's join-order
    search actually consumes. Row counts must equal the true table
    sizes (stats that drift from the data reorder joins WRONGLY at
    100 TB, which is worse than no stats)."""
    from pim_orc_spark.catalog import load_table
    from pim_orc_spark.operators.relational import (
        _CBO_STATS_COLS,
        _cbo_tables,
    )

    t = _cbo_tables(spark, sf_dir)
    for name, tbl in t.items():
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }
        stats = desc.get("Statistics", "")
        assert "rows" in stats, f"{name}: no table stats ({stats!r})"
        n_true = load_table(spark, sf_dir, name).count()
        assert f"{n_true} rows" in stats, (name, stats, n_true)
        for col in _CBO_STATS_COLS[name].split(", "):
            kv = {
                r["info_name"]: r["info_value"]
                for r in spark.sql(
                    f"DESCRIBE EXTENDED {tbl} {col}"
                ).collect()
            }
            assert int(kv.get("distinct_count") or 0) > 0, (name, col, kv)


def test_locf_interpolate_one_window_no_corpus_rescan(spark, sf_dir):
    """q72's docstring claims, machine-checked: the corpus is scanned
    only inside the checkpointed hourly aggregate (the final plan has
    ZERO file scans), and both ignore-nulls navigation directions ride
    ONE Window node over ONE sort — a naive forward+backward pass
    would pay a second sort/exchange."""
    import re

    from pim_orc_spark.operators.relational import q72_locf_interpolate

    df = q72_locf_interpolate(spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    s = s.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan|Scan parquet", s)) == 0, s[:1500]
    assert len(re.findall(r"\bWindow\b", s)) == 1, s[:1500]
    assert len(re.findall(r"\bSort\b", s)) == 1, s[:1500]


def test_rolling_window_single_shuffle_no_self_join(spark, sf_dir):
    """q71's docstring claim: the trailing-hour rolling aggregate is
    ONE user_id exchange + one sort + one Window node evaluating a
    RangeFrame — never the naive O(n·w) range self-join, and both
    window columns ride the same Window operator (no second sort)."""
    import re

    from pim_orc_spark.operators.relational import q71_rolling_window_1h

    df = q71_rolling_window_1h(spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    s = s.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange (hash|range|Single)", s)) == 1, s[:1500]
    assert "Join" not in s, s[:1500]
    assert len(re.findall(r"\bWindow\b", s)) == 1, s[:1500]
    assert "RangeFrame" in s, s[:1500]
    # the scan reads only the four needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m and len(m.group(1).split(",")) == 4, s[:1500]


def test_quantile_sketch_one_python_kernel_jvm_merge(spark, sf_dir):
    """q91's scale claim pinned to the plan: the ONLY Python stage is
    the per-(group, segment) segment-sketch kernel — one
    FlatMapGroupsInPandas (materialized once via localCheckpoint and
    reused by the per-group and global rollups) — while merge, the
    window-cumsum quantile query, the exact-percentile certification
    and the rank-count verification are all JVM nodes. A second Python
    node would mean the merge/query path regressed off Catalyst."""
    import re

    from pim_orc_spark.operators.relational import (
        q91_quantile_sketch_rollup,
    )

    plan = (
        q91_quantile_sketch_rollup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the kernel ran under localCheckpoint, so the final plan reads the
    # checkpointed RDD and may show zero FlatMapGroupsInPandas; what
    # must NOT appear is any OTHER Python evaluation node
    others = re.findall(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|PythonUDF", plan
    )
    assert not others, (others, plan[:1500])
    assert plan.count("FlatMapGroupsInPandas") <= 1, plan[:1500]
    # r14 verdict #5: the exact-percentile CERTIFICATION path must rank
    # over the value HISTOGRAM (groupBy(g, val) cumsum — every Window
    # input is post-aggregate), never row_number over raw rows: a
    # full-group global sort is exactly the shape q53 was rebuilt to
    # avoid
    assert "row_number" not in plan, plan[:1500]


def test_containment_prefix_plan_has_no_cartesian(spark, sf_dir):
    """The exported containment entry's linear-regime claim pinned to
    the plan: the prefix engine must contain NO cartesian/broadcast
    nested-loop node — candidates come from an equi-join on gram. The
    all-pairs twin (containment_pairs) is BUILT on a crossJoin; a
    regression that routed the export back through it would surface
    here before it surfaced as a 100× bench number."""
    from pim_orc_spark.operators.dedup import dedup_containment_prefix

    plan = (
        dedup_containment_prefix(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_hamming_engines_join_on_block_keys(spark, sf_dir):
    """Both Hamming-ball engines (SimHash pairs and image pHash dedup)
    run the shared block-pigeonhole kernel: candidates come from an
    equi-join on (blk, v), the block index and value, and the plan
    holds NO cartesian or broadcast nested-loop node — the ANN family's
    no-all-pairs guard (test_scale_paths_have_no_allpairs_join) for the
    Hamming family."""
    import re

    from pim_orc_spark.operators.dedup import dedup_simhash_pairs
    from pim_orc_spark.operators.multimodal import multimodal_phash_dedup

    block_join = re.compile(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) "
        r"\[blk#\d+, v#\d+L\], \[blk#\d+, v#\d+L\], Inner"
    )
    for fn in (dedup_simhash_pairs, multimodal_phash_dedup):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        plan = plan.toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert block_join.search(plan), plan


def test_simhash_fmix32_is_its_own_projection(spark, sf_dir):
    """dedup_simhash mixes the rolling hash with fmix32 in its own
    projection over the plain h0 column, not inside a
    ``transform(array(h0), x -> ...)`` lambda: higher-order functions
    run interpreted and rebuild every mixing stage per reference, while
    whole-stage codegen's subexpression elimination computes each stage
    once. The optimized plan keeps exactly one rolling-hash
    ``aggregate(`` (CollapseProject did not inline h0 into the mix's
    32 references) and exactly one ``transform(array(``, poly_hash's
    own let-binding of the token (the lambda-bound mix made it two)."""
    from pim_orc_spark.operators.dedup import dedup_simhash

    plan = (
        dedup_simhash(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("aggregate(") == 1, plan[:3000]
    assert plan.count("transform(array(") == 1, plan[:3000]


def test_spread_rows_per_part_caps_fanout_by_input_rows(spark, sf_dir):
    """r17: spread(rows_per_part=N) must fan a tiny parquet input out
    to ceil(rows/N) partitions instead of full parallelism (each
    mapInPandas partition costs a Python-worker round trip), must keep
    the parallelism cap when the input is large relative to N, and
    must be keyed on the file's footer row count, not the core count."""
    from pim_orc_spark.plans import _input_rows, spread

    e = load_table(spark, sf_dir, "embeddings")  # 500 rows at sf0.01
    rows = _input_rows(e)
    assert rows == e.count()  # footer metadata == actual rows
    par = spark.sparkContext.defaultParallelism
    capped = spread(spark, e, rows_per_part=200)
    want = min(par, -(-rows // 200))
    assert capped.rdd.getNumPartitions() == want
    # N=1: the rows/N bound (500) exceeds parallelism, so the cap must
    # NOT bind and the fan-out equals plain spread()'s
    uncapped = spread(spark, e, rows_per_part=1)
    assert uncapped.rdd.getNumPartitions() == par
    # non-file plans fall back to plain spread behavior (no crash)
    mem = spark.range(0, 100).coalesce(1)
    assert spread(spark, mem, rows_per_part=10).rdd.getNumPartitions() == par


def _cents_queries():
    from pim_orc_spark.operators.relational import (
        q01_flagship_sum,
        q04_pricing_summary,
        q08_fact_join_agg,
    )
    from pim_orc_spark.sources.orc_io import orc_roundtrip_sum

    return {
        "q01_flagship_sum": q01_flagship_sum,
        "orc_roundtrip_sum": orc_roundtrip_sum,
        "q04_pricing_summary": q04_pricing_summary,
        "q08_fact_join_agg": q08_fact_join_agg,
    }


def test_exact_sums_aggregate_without_round(spark, sf_dir):
    """numeric.cents feeds every exact sum: the reference's own SUM
    (q01, orc_roundtrip_sum), q04's grouped sums and avg and q08's
    split revenue accumulator. Spark's ``round`` on a double builds a
    BigDecimal per row, so no aggregate of their executed plans may
    contain ``round(``."""
    for name, fn in _cents_queries().items():
        df = fn(spark, sf_dir)
        df.collect()  # the final adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        aggs = [line for line in plan.splitlines() if "Aggregate" in line]
        assert aggs, name
        assert [line for line in aggs if "round(" in line] == [], name


def test_exact_sum_plan_construction_round_trips(spark, sf_dir, round_trips):
    """The exact aggregates are built as SQL text: one F.expr per
    aggregate instead of a Column call per operator, each of which is a
    Py4J round trip. Counted over a warm plan construction; Column
    algebra cost 123 (q01) and 351 (q08)."""
    queries = _cents_queries()
    for name, ceiling in (("q01_flagship_sum", 60), ("q08_fact_join_agg", 180)):
        queries[name](spark, sf_dir)
        calls, _ = round_trips(queries[name], spark, sf_dir)
        assert calls <= ceiling, f"{name}: {calls} gateway round trips"


def test_q73_plan_construction_round_trips(spark, sf_dir, round_trips):
    """q73's triangle kernel is two SQL statements (orient, then wedge
    and close), not Column algebra: a warm build made 1,092 gateway
    round trips that way and 260 as SQL text."""
    from pim_orc_spark.operators.relational import q73_triangle_count

    q73_triangle_count(spark, sf_dir)
    calls, _ = round_trips(q73_triangle_count, spark, sf_dir)
    assert calls <= 400, f"q73: {calls} gateway round trips"
