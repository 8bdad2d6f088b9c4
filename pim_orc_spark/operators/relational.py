"""Reference-parity scan/filter/aggregate operators, generalized to the
full relational surface (SURVEY.md §2.1-§2.6, §7.2 M0/M2/M3).

The reference executes exactly one pipeline: partitioned columnar scan →
project first column → NULL-skip → partial SUM → final SUM
(orc-parser/reader.cc:30-67, 104-161). ``q01_flagship_sum`` is that
pipeline on the lineitem fact table; every other query here is the
natural Catalyst closure of the same scan→filter→aggregate shape —
zero custom physical code, the optimizer plans partial/final
aggregation, pushdown, broadcast vs sort-merge, and AQE re-planning.

Scale notes per query are in the docstrings: the plans below were
checked with .explain("formatted") — filters reach PushedFilters,
projections shrink ReadSchema, small dims broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pim_orc_spark.catalog import load_table
from pim_orc_spark.functions.numeric import (
    exact_avg,
    exact_avg_sql,
    exact_revenue,
    exact_revenue_sql,
    exact_sum,
    exact_sum_sql,
    cents,
    cents_sql,
    revenue_item,
    revenue_item_sql,
)


# ---------------------------------------------------------------- M0/M2 —
# reference-parity surface


def q01_flagship_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: SUM over the fact table's price column — the reference's
    whole program (reader.cc:50-63,156-161) re-expressed as one agg.

    Plan: FileSourceScan(ReadSchema=[l_extendedprice]) → partial
    HashAggregate → single-partition exchange → final HashAggregate.
    Scan parallelism = input splits (≈ stripes, reader.cc:104-144);
    the exchange moves one row per partition — O(partitions), not O(rows),
    identical at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(exact_sum("l_extendedprice", "sum_price"))


def q02_null_skip_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL-validity filter + sum/count (reader.cc:61's
    notNull[] check as a predicate instead of relying on SUM semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_extendedprice").isNotNull()).agg(
        exact_sum("l_extendedprice", "sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q03_pushdown_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + equality predicates that reach the parquet/ORC reader as
    PushedFilters (P3 — the SARG path the reference links but never
    invokes, orc-parser/Makefile:37). Row-group statistics skip whole
    strides, the 100 TB analogue of seekToRow (reader.cc:47)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_quantity") < 25.0)
            & (F.col("l_returnflag") == "R")
        )
        .agg(
            exact_sum("l_extendedprice", "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q04_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped multi-aggregate over the fact table.
    Map-side partial aggregation keeps the shuffle at
    O(groups × partitions) — 6 groups here, bounded at any scale.

    Deliberately NOT spread(): the fixture's single-row-group parquet
    caps this scan at one task (parquet can't split below row-group
    granularity), but repartitioning 600k × 5-column rows to
    parallelize the aggregate was MEASURED SLOWER (2.7–4.1 s vs
    1.5 s single-task at sf0.1) — the shuffle round-trip exceeds the
    decimal-aggregate work it spreads. At 100 TB the input has
    thousands of row groups and the scan parallelizes for free."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q05_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) answerable from footer metadata (A3 — reference plans
    from per-stripe row counts, reader.cc:104-112).
    spark.sql.parquet.aggregatePushdown turns this into a metadata-only
    scan: zero data bytes read regardless of table size."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


def q06_projection_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning (P1 — reference consumes only fields[0],
    reader.cc:50): a 2-column projection whose ReadSchema contains
    exactly those 2 of lineitem's 11 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_extendedprice")
        .groupBy("l_orderkey")
        .agg(exact_sum("l_extendedprice", "order_price"))
        .orderBy(F.col("order_price").desc(), F.col("l_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------- M3 —
# generalized relational surface (joins / windows / sorts / set ops)


def q07_broadcast_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with explicit broadcast of the
    fixed-cardinality dims: no shuffle of the big side at any scale —
    the hash tables ship to every executor once."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "sum_acctbal"),
        )
        .orderBy("r_name")
    )


def q08_fact_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem (large-large): Catalyst picks sort-merge /
    shuffled-hash on the join key; AQE splits skewed keys at runtime.
    Both sides shuffle exactly once on l_orderkey/o_orderkey.

    Revenue must be exact and order-independent (round-1 driver hash
    FAIL: rounding the DOUBLE product to decimal leaves half-cent ties
    that Spark HALF_UP and DuckDB half-even break apart). Round 2 fixed
    it with a per-row decimal(18,2)×decimal(18,2) multiply — exact but
    2.1× slower (decimal multiply with scale handling per row). Both
    factors are 2-dp values, so the same exactness comes from INTEGER
    arithmetic at long-multiply speed: price in cents × (100 − discount
    in percent-points) is an exact int64 product (≤ ~1e9 per row),
    summed into decimal(38,0) so the accumulator never overflows at any
    scale (int64 would wrap past ~9e9 rows/group at 100 TB), mirroring
    the reference's integer accumulator (reader.cc:62). The final sum →
    double cast and the one IEEE division by 1e4 are deterministic given
    identical operands, so the result hash-matches the oracle. The
    arithmetic lives in ``functions.numeric.exact_revenue`` — one
    authority shared with the TPC-H Q3/Q5 queries."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            exact_revenue(),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


def q09_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti — the dedup primitive's join flavors:
    customers with vs without orders, one tagged output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("bucket"), "n")
    )
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_orders").alias("bucket"), "n")
    )
    return with_orders.unionAll(without)


def q10_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge of k rows, no full sort, no full shuffle.
    Deterministic tie-break on the unique key."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(25)
    )


def q11_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over nation-key sets of customers vs
    suppliers, tagged and unioned into one result."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    both = c.intersect(s).select(F.lit("both").alias("tag"), "nk")
    cust_only = c.distinct().subtract(s.distinct()).select(
        F.lit("customer_only").alias("tag"), "nk"
    )
    all_nk = c.union(s).distinct().select(F.lit("any").alias("tag"), "nk")
    return both.unionAll(cust_only).unionAll(all_nk)


def q12_window_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() per customer — latest order wins. One shuffle on the
    partition key; the window itself is a per-partition sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date"),
        )
    )


def q13_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running frame aggregation: cumulative revenue per customer over
    order time (rows between unbounded preceding and current)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — hierarchical totals in one pass (grouping
    sets expand map-side; still one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("l_quantity", "sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q15_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + conditional aggregation (CASE-gated sums) in one
    grouped pass; Catalyst plans distinct via expand + two-phase agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        exact_sum(
            "IF(l_returnflag = 'R', l_extendedprice, 0.0D)", "returned_revenue"
        ),
    )


def q16_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function coverage (§2.6): string (lower/substring/length/
    regexp/concat), date (year/month/datediff-style), math (round/abs/
    pow via exact arithmetic) — all Catalyst built-ins."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.lower(F.col("p_brand")).alias("brand_lower"),
            F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
            F.length(F.col("p_name")).alias("name_len"),
            F.regexp_extract(F.col("p_type"), "^([A-Z]+)", 1).alias("type_head"),
            F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
            (F.col("p_size") % 7).alias("size_mod"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


def q17_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time bucketing of the events stream table: hourly tumbling
    buckets via date_trunc — the batch form of the streaming windowed
    aggregation (streaming/ has the readStream variant)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


def q18_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gap detection (30-min inactivity) — thin
    wrapper over the first-class ``sessionize`` kernel (lag → gap flag
    → running session index, one user_id shuffle, no per-user
    collect)."""
    e = load_table(spark, sf_dir, "events")
    sess = sessionize(e, "user_id", "ts", 1800, order_cols=("event_id",))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.max("session_idx").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum(F.col("session_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access (§2.6): pull a typed value out of
    the JSON `props` string and aggregate it. get_json_object evaluates
    inside codegen — no Python, no UDF — so the JSON hot path scans at
    column speed; at scale, frequently-accessed keys would be promoted
    to real columns at write time."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q20_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations in
    one pass — partial aggregation expands grouping sets map-side, one
    shuffle regardless of the number of sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("l_extendedprice", "sum_price"),
        )
    )


def q21_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery, expressed in SQL so Catalyst's
    decorrelation rewrites it to a left-semi join — orders having at
    least one high-value line item, counted per order priority.

    DataFrames are passed as spark.sql template parameters, not
    session-global temp views, so two sf_dirs queried in one session
    can't observe each other's tables."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM {orders} o
        WHERE EXISTS (
          SELECT 1 FROM {lineitem} l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 50000
        )
        GROUP BY o_orderpriority
        """,
        orders=orders,
        lineitem=lineitem,
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """FIRST-CLASS SESSIONIZATION KERNEL: append a 1-based
    ``session_idx`` per ``key`` — a new session starts when the gap to
    the previous event (by ``ts`` seconds, ties broken by
    ``order_cols``) exceeds ``gap_seconds``. Two window passes over
    ONE shuffle on the key (lag → flag → running sum); no per-key
    collect, so it scales with partitions, not key sizes.
    Property-tested against a pure-Python greedy splitter on random
    timelines (tests/test_kernel_contract.py) and consumed by
    ``q18_sessionization``.

    Raises if the input already carries a ``session_idx`` column —
    silently overwriting a caller's column is worse than an error for
    a public kernel; the session-flag intermediate uses a uniquified
    internal name so it can never collide."""
    if "session_idx" in df.columns:
        raise ValueError(
            "sessionize: input already has a 'session_idx' column; "
            "rename or drop it before calling"
        )
    flag = "__sess_flag"
    while flag in df.columns:  # uniquify against pathological schemas
        flag += "_"
    w = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), *[F.col(c).asc() for c in order_cols]
    )
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long"), 1).over(w)
    return df.withColumn(
        flag,
        F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum(flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop(flag)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """FIRST-CLASS AS-OF JOIN KERNEL (custom temporal operator —
    absent from Spark's built-ins): every left row picks the right
    row with the greatest ``right_ts`` at-or-before its ``left_ts``
    for the same ``key`` (right must share the left's key column
    name; rename before calling). Returns the left columns plus
    ``value_cols`` from the matched right row (NULL when nothing
    precedes).

    Scalable form = union + carry-forward window, NOT a range join:
    tag both inputs, sort each key's merged timeline once (right rows
    before left at equal timestamps — at-or-before), carry the last
    seen right values forward with last(ignoreNulls). ONE shuffle on
    the key, O(n log n) per partition, no candidate-range explosion
    at 100 TB. Determinism requires right unique per (key,
    right_ts) — dedup upstream (see q22's max_by) or ties are
    partition-order-dependent. Property-tested against a pure-Python
    latest-at-or-before reference on random timelines
    (tests/test_kernel_contract.py).

    Input contract (validated up front): ``value_cols`` must not
    collide with left's columns (the output is left's schema +
    ``value_cols``, so an overlap would yield duplicate/ambiguous
    columns), and neither input may use the kernel's reserved
    ``__``-prefixed tagging names."""
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"asof_join: value_cols {sorted(overlap)} collide with left "
            "columns; rename on one side before calling"
        )
    reserved = {"__k", "__t", "__is_l", "__lrow"}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        raise ValueError(
            f"asof_join: reserved internal column names in input: "
            f"{sorted(taken)}"
        )
    missing = set(value_cols) - set(right.columns)
    if missing:
        raise ValueError(
            f"asof_join: value_cols not in right: {sorted(missing)}"
        )
    from pyspark.sql import types as T

    lrow_type = T.StructType(left.schema.fields)
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_l"),
        F.struct(*left.columns).alias("__lrow"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in value_cols
        ],
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_l"),
        F.lit(None).cast(lrow_type).alias("__lrow"),
        *value_cols,
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_l").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r_tagged.unionByName(l_tagged).select(
        "__is_l",
        "__lrow",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__is_l") == 1).select(
        "__lrow.*", *value_cols
    )


def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (custom temporal operator — absent from both the
    reference and Spark's built-ins): each event picks the customer's
    latest order at-or-before the event time.

    Thin wrapper over the first-class ``asof_join`` kernel (see its
    docstring for the union + carry-forward plan rationale — one key
    shuffle, no range explosion). Orders are pre-deduplicated to
    unique (key, time) via max_by so the as-of pick is deterministic
    in both engines; oracle is DuckDB's native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("o_ts"),
        )
        .agg(
            F.max("o_orderkey").alias("order_key"),
            F.max_by("o_totalprice", "o_orderkey").alias("order_price"),
        )
    )
    return asof_join(
        ev, orders, "user_id", "ts", "o_ts", ("order_key", "order_price")
    ).select("event_id", "user_id", "order_key", "order_price")


def q23_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: ordered pairs of same-user events at
    most 60 s apart.

    A naive inequality join is O(n²) per user. The scalable plan bands
    time into join-key buckets: each RIGHT event registers under its own
    60 s bucket AND the previous one, so every qualifying pair meets in
    an EQUI-join on (user, bucket) — one hash shuffle, candidates
    bounded by bucket occupancy — then the exact band filter runs on
    candidates only. Same technique as the MinHash band join: turn a
    range predicate into equality keys, keep the inequality as a cheap
    post-filter."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    band_us = 60_000_000  # 60 s in µs
    us = F.unix_micros(F.col("ts"))
    left = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("k"),
        us.alias("ts_a"),
        (us / F.lit(band_us)).cast("long").alias("bucket"),
    )
    right = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("k"),
        us.alias("ts_b"),
        F.explode(
            F.array(
                (us / F.lit(band_us)).cast("long"),
                (us / F.lit(band_us)).cast("long") - 1,
            )
        ).alias("bucket"),
    )
    ordered = (F.col("ts_b") > F.col("ts_a")) | (
        (F.col("ts_b") == F.col("ts_a")) & (F.col("id_b") > F.col("id_a"))
    )
    return (
        left.join(right, ["k", "bucket"])
        .filter(ordered & (F.col("ts_b") - F.col("ts_a") <= band_us))
        .select(
            "id_a",
            "id_b",
            F.col("k").alias("user_id"),
            (F.col("ts_b") - F.col("ts_a")).alias("gap_us"),
        )
        # no distinct needed: b registers under two ADJACENT buckets and
        # a under one, so a qualifying pair meets exactly once
    )


def q24_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HyperLogLog++): sketch values are
    engine-specific so the sketch itself cannot be oracle-compared;
    instead the query emits the exact count plus a boolean asserting
    the approximation landed within 10% (rsd=0.01, so the bound holds
    with overwhelming margin). The oracle emits the exact count and a
    literal TRUE — a value mismatch means the sketch went out of
    tolerance. At 100 TB the HLL is the only option: fixed-size state,
    map-side mergeable, no distinct shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.count_distinct("l_orderkey").alias("exact_distinct"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_distinct"))
        / F.col("exact_distinct")
        < 0.10
    )
    return row.select("exact_distinct", within.alias("within_10pct"))


def q25_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group: Spark's ``percentile``
    (NOT the approximate t-digest ``percentile_approx``) computes the
    same linear-interpolated quantile as DuckDB's ``quantile_cont``, so
    p50/p95 are deterministic and hash-comparable. Scale: exact
    percentile buffers the group's values — right for bounded-cardinality
    groups like these 3 flags; unbounded groups switch to
    ``percentile_approx`` (fixed-size mergeable sketch), losing the
    cross-engine oracle (q24 documents that trade)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def q27_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time-bucket rollup (hypertable continuous-aggregate
    shape): 10-minute buckets → hourly → daily, each level aggregated
    FROM THE PREVIOUS LEVEL, never from raw. count and decimal SUM are
    mergeable (associative), so the cascade is exact — the decimal →
    double presentation cast happens only at the final level — and the
    oracle (the same daily result computed directly from raw events)
    proves it.

    Why it matters at 100 TB: a deployment materializes each level once
    and answers coarser queries from finer aggregates; re-aggregating a
    day from 144 ten-minute rows costs ~nothing next to rescanning a
    day of raw events. The plan is three cascaded partial/final
    HashAggregates where levels 2 and 3 see only bucket-cardinality
    rows (fan-in 6 and 24), so everything after level 1 is
    metadata-sized regardless of event volume."""
    e = load_table(spark, sf_dir, "events")
    b10 = e.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    hourly = b10.groupBy(
        F.date_trunc("hour", F.col("w.start")).alias("h"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    daily = hourly.groupBy(
        F.date_format(F.date_trunc("day", F.col("h")), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("s").cast("double").alias("sum_value"),
    )
    return daily


PIVOT_STATUSES = ("F", "O", "P")  # o_orderstatus domain, pinned for both engines


def q26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — wide per-status revenue columns per order priority, via
    ``groupBy().pivot(values).agg()``. The pivot value list is PINNED
    (not discovered) so the output schema is static in both engines and
    the plan stays a single two-phase HashAggregate — Spark rewrites a
    pinned pivot into one aggregate with ``sum(CASE WHEN ...)`` columns,
    no extra pass to collect distinct pivot values and no shuffle beyond
    the group-by. Sums are exact-decimal (functions/numeric) so the
    wide cells hash-match DuckDB's CASE aggregation."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.col(s).cast("double").alias(f"{s.lower()}_total")
            for s in PIVOT_STATUSES
        ],
    )


def q28_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL over
    customer vs supplier nation keys, the multiplicity-preserving
    counterparts of q11's set forms and a genuinely distinct plan:
    Spark rewrites both into a count-per-value aggregate + generate
    (replicate rows min(c1,c2) / (c1-c2) times) — two skinny shuffles
    on the value, never a join, at any cardinality."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    inter = c.intersectAll(s).select(
        F.lit("intersect_all").alias("tag"), "nk"
    )
    diff = c.exceptAll(s).select(F.lit("except_all").alias("tag"), "nk")
    return inter.unionAll(diff)


def q29_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function coverage (§2.6 arrays): per-order line quantities
    collected into a POSITION-DETERMINISTIC array (collect_list order
    is partition-dependent, so elements are gathered as (linenumber,
    quantity) structs and array_sort'ed before projection — the only
    safe way to build reproducible arrays from a shuffle), then sliced,
    probed, and aggregated with codegen array expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_by_line = F.array_sort(
        F.collect_list(F.struct("l_linenumber", "l_quantity"))
    )
    return (
        li.filter(F.col("l_orderkey") <= 1000)
        .groupBy("l_orderkey")
        .agg(qty_by_line.alias("pairs"))
        .select(
            "l_orderkey",
            F.expr("transform(pairs, p -> p.l_quantity)").alias("qtys"),
        )
        .select(
            "l_orderkey",
            F.size("qtys").alias("n_lines"),
            F.element_at("qtys", 1).alias("first_qty"),
            # arrays stay INTERNAL, outputs are scalars (the q35 map
            # policy; r5 verdict #1 — a raw array<double> column
            # crashed the driver's pandas canonicalizer): the slice is
            # still exercised, its scalar decomposition is exported
            F.expr(
                "aggregate(slice(qtys, 1, 3), CAST(0.0 AS DOUBLE),"
                " (a, x) -> a + x)"
            ).alias("first3_sum"),
            # try_: ANSI element_at raises on out-of-bounds, and
            # single-line orders exist; DuckDB's qtys[2] is NULL there
            F.try_element_at("qtys", F.lit(2)).alias("second_qty"),
            F.array_contains("qtys", 1.0).alias("has_qty_1"),
            F.expr("aggregate(qtys, CAST(0.0 AS DOUBLE), (a, x) -> a + x)").alias(
                "qty_sum"
            ),
            F.array_max("qtys").alias("qty_max"),
        )
    )


def q30_lag_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset + distribution window functions (§2.5 depth beyond
    ranking/running): per-customer order-to-order price delta via
    LAG, the next order date via LEAD, and the order's DATE quartile
    within its customer via NTILE — one shuffle on the partition key
    serves all three (single Window spec ordered by date, so Catalyst
    plans ONE Sort+Window, not three)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") <= 200
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    prev_price = F.lag(price).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (price - prev_price).cast("double").alias("price_delta"),
        F.date_format(
            F.lead("o_orderdate").over(w), "yyyy-MM-dd"
        ).alias("next_order_date"),
        F.ntile(4).over(w).alias("date_quartile"),
    )


def q31_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the classic 3-table
    filter-join-aggregate-topk workload. Catalyst pushes both date
    filters to the scans, builds the join bottom-up with the filtered
    customer side broadcast, and plans the final ORDER BY ... LIMIT as
    TakeOrderedAndProject (no global sort). Revenue uses the engine's
    exact integer-cents arithmetic so the aggregate is order-independent
    and hash-comparable."""
    cutoff = "1995-03-15"
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_revenue())
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q32_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join — the
    deepest join tree in the classic suite, with the
    customer-and-supplier-in-same-nation constraint that makes join
    ORDER matter. The three dimension tables (region→nation, and
    nation again for the supplier side) broadcast; the fact-fact
    lineitem⋈orders join shuffles on orderkey; the same-nation
    constraint rides the supplier join condition instead of a
    post-join filter so mismatched rows never materialize."""
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(exact_revenue())
        .orderBy(F.col("revenue").desc())
    )


def q33_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join coverage (§2.3's remaining join types): a FULL OUTER
    join between two deliberately partial sides (customers below 1000
    vs order totals for custkeys above 500), classified into
    left-only / right-only / matched buckets with null-aware
    aggregation. The LEFT OUTER shape falls out of the same plan (the
    left-only bucket). Shuffles once on the join key; null-safe
    classification is codegen CASE."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 1000
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 500)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    bucket = (
        F.when(F.col("o_custkey").isNull(), "customer_only")
        .when(F.col("c_custkey").isNull(), "orders_only")
        .otherwise("matched")
    )
    return (
        j.select(
            bucket.alias("bucket"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_orders").alias("total_orders"),
        )
        .orderBy("bucket")
    )


def q34_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries through the SQL FRONT DOOR: the query is
    issued as plain ``spark.sql`` over the registered fixture views —
    the entry surface a reference user migrating SQL workloads uses —
    and exercises the ScalarSubquery plan node (uncorrelated subqueries
    become one-row broadcast exchanges, evaluated once, never per row)
    plus IN-subquery-to-semi-join decorrelation. The SQL text is valid
    in BOTH engines, so the oracle is literally the same string."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q34_SQL)


# "price above the mean" as an INTEGER cross-multiplication
# (price_cents × N > Σ price_cents), not AVG(double): a float mean is
# summed in engine- and partition-order and can differ in final ulps,
# flipping any order sitting exactly at the threshold. The integer
# form is exact in both engines (Σ cents ≈ 5e7·rows and the product
# cents·N stay far inside 64/128-bit integer range at fixture scale;
# a 100 TB deployment widens to DECIMAL the same way exact_sum does).
_Q34_SQL = """
        SELECT o_orderpriority,
               COUNT(*) AS n_above_avg
        FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                * (SELECT COUNT(*) FROM orders)
              > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


def q35_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function coverage (§2.6 maps): per-order linenumber →
    quantity maps built with map_from_entries over the deterministic
    struct array (same build as q29), probed with element_at /
    map_keys / cardinality. The MAP stays INTERNAL — outputs are
    scalars — because map column encodings are not hash-comparable
    across engines (key order is undefined); the oracle models the
    same lookups on the sorted pair list.

    Map keys must be UNIQUE (Spark raises on duplicates by default, and
    relying on a dedup policy conf would be engine-specific), so
    quantities are pre-aggregated per (order, linenumber) — the fixture
    reuses linenumbers within an order — before the entries are built."""
    li = load_table(spark, sf_dir, "lineitem")
    per_line = (
        li.filter(F.col("l_orderkey") <= 1000)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    pairs = F.array_sort(F.collect_list(F.struct("l_linenumber", "qty")))
    return (
        per_line.groupBy("l_orderkey")
        .agg(pairs.alias("pairs"))
        .select(
            "l_orderkey",
            F.expr(
                "map_from_entries(transform(pairs, "
                "p -> struct(p.l_linenumber AS k, p.qty AS v)))"
            ).alias("m"),
        )
        .select(
            "l_orderkey",
            F.expr("cardinality(m)").alias("n_lines"),
            F.expr("element_at(m, 1)").alias("qty_line_1"),
            F.expr("element_at(m, 7)").alias("qty_line_7"),
            F.expr("array_max(map_keys(m))").alias("max_linenumber"),
        )
    )


Q18_QTY_THRESHOLD = 250  # large-order cutoff (~top 1% at any SF)


def q36_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): find orders whose total
    quantity exceeds a threshold, then attach customer detail — the
    classic aggregate-then-semi-filter workload.

    Scale shape: the per-order quantity sum is a map-side-partial
    HashAggregate over lineitem (shuffle carries one row per orderkey,
    not per lineitem); the HAVING filter then shrinks it to the ~top
    1% of orders, and only that small survivor set joins orders and
    customer — AQE sizes those joins at runtime (the survivor side is
    usually broadcastable no matter the corpus size, because the
    threshold selects a fixed quantile, not a fixed fraction of
    rows). Final ORDER BY + LIMIT plans as TakeOrderedAndProject.
    Quantity totals use exact decimal arithmetic so the threshold
    comparison and the reported total are order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q37_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): revenue lost to returns per
    customer over one quarter, top 20 — the report a reference user
    runs right after Q3/Q5.

    Scale shape: both fact scans are filtered AT THE SCAN (quarter
    predicate on orders, returnflag on lineitem — PushedFilters), the
    fact-fact join shuffles on orderkey, and revenue aggregates down
    to one row per customer BEFORE the customer dimension joins on —
    so the widest join input is |filtered custkeys|, not |lineitem|.
    Nation broadcasts. Exact integer-cents revenue; ties in the top-20
    break on c_custkey."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(exact_revenue())
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        rev.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


N_SALTS = 8  # skew fan-out: each hot key's work splits over 8 tasks


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt_expr: F.Column,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """First-class skew-salted equi-join kernel: the large side gets a
    deterministic salt in [0, n_salts) from ``salt_expr`` (any
    expression over its columns — a row-id hash spreads uniformly),
    the small side is replicated once per salt value, and the join
    runs on (key, salt) — so a hot key's rows land in ``n_salts``
    shuffle partitions instead of one straggler task. The salt value
    never affects the result: every large-side row still meets every
    matching small-side row exactly once (on its own salt replica).

    This is the manual form of AQE's skewedJoin for the cases AQE
    can't fix (skew inside one key, not across partition boundaries —
    AQE only splits partitions, never a single key's rows). The
    replicated small side costs |small| × n_salts rows, which is the
    explicit trade: use it when small is dimension-sized and one key
    dominates the fact side (same analysis as the dedup module's
    salted band join, dedup.py)."""
    salted_large = large.withColumn(
        "__salt", F.pmod(salt_expr, F.lit(n_salts)).cast("int")
    )
    spark = large.sparkSession
    salts = spark.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    replicated_small = small.crossJoin(F.broadcast(salts))
    # Pin the shuffle path (round-4 lesson: pin any join that must
    # scale past broadcast size). If Spark could broadcast the small
    # side the caller wouldn't need salting at all — and AQE's
    # size-estimate flip-flops would otherwise silently turn this into
    # a broadcast join at fixture scale, un-exercising the very plan
    # the kernel exists to produce.
    return (
        salted_large.hint("shuffle_merge")
        .join(replicated_small, [key, "__salt"])
        .drop("__salt")
    )


def q39_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling demonstration on a REAL hot key: l_returnflag has
    3 values over all of lineitem (~25/25/50% — every key is hot), so
    a shuffle equi-join on it puts ~50% of the fact table into one
    task. The salted_join kernel spreads each flag over N_SALTS tasks;
    the broadcast-disabled hint forces the shuffle path so the salting
    is actually load-bearing (a broadcast join would hide the skew —
    and at 100 TB the small side of a real skew case is often just
    over the broadcast threshold).

    The dimension is derived from lineitem itself (per-flag row
    counts), so the query also certifies the replicate-join identity:
    every output group's n_items must equal its flag_rows."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("flag_rows"))
        .hint("shuffle_merge")
    )
    joined = salted_join(
        li,
        dim,
        key="l_returnflag",
        # deterministic per-row spread: hash of the line's identity
        salt_expr=F.xxhash64("l_orderkey", "l_linenumber"),
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            exact_revenue(),
            F.count(F.lit(1)).alias("n_items"),
            F.min("flag_rows").alias("flag_rows"),
        )
        .orderBy("l_returnflag")
    )


def q40_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to this schema's
    columns: count orders per priority that had at least one LATE
    lineitem (shipped > 60 days after the order date — the fixture has
    no commit/receipt dates, so lateness is ship-vs-order lag). The
    EXISTS decorrelates to a LEFT SEMI join whose condition mixes the
    equi key with a non-equi date comparison — the semi join planner
    keeps the equi part as the join key and evaluates the lag predicate
    inside the join, so each order is emitted at most once with no
    post-join dedup.

    Scale shape: both scans filter at the source (quarter predicate
    pushed on orders), the semi join shuffles on orderkey only, and the
    priority rollup is a 5-row aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q41_tpch_q12_late_lines_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority split), adapted: per
    linestatus (the schema's mode-like line attribute), split one
    year's lines into high-priority (URGENT/HIGH) vs low-priority
    counts — the conditional-aggregation-over-a-join shape. The CASE
    sums fold in the same partial aggregate pass as the grouping, so
    the shuffle carries 2 counters per (status, partition)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q42_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of one month's revenue
    from PROMO-type parts — a conditional-sum ratio. Both sums are the
    engine's exact integer-cents revenue (one aggregate pass computes
    numerator and denominator), and the final percentage is one IEEE
    double division of two exact integers — identical in both engines.
    The part dimension broadcasts (hinted: at 100 TB part is still
    dimension-sized relative to lineitem)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    item = revenue_item()  # the shared exact integer-cents contract
    promo = F.when(F.col("p_type") == "PROMO", item).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("double").alias("promo_hundredths"),
            F.sum(item).cast("double").alias("total_hundredths"),
        )
        .select(
            (F.col("promo_hundredths") / 1e4).alias("promo_revenue"),
            (F.col("total_hundredths") / 1e4).alias("total_revenue"),
            F.round(
                F.lit(100.0)
                * F.col("promo_hundredths")
                / F.col("total_hundredths"),
                6,
            ).alias("promo_pct"),
        )
    )


FUNNEL_DEADLINE_HOURS = 24  # conversion window per funnel step


def q43_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-funnel analysis (view → click → purchase): how
    many users completed each step IN TIME ORDER — the product
    analytics query sessionization doesn't answer (a user with a
    purchase BEFORE their first view has not converted). Step k's
    timestamp is the earliest qualifying event strictly after step
    k-1's AND within the FUNNEL_DEADLINE conversion window (the
    deadline is what makes a funnel a funnel — without it every
    active user eventually "converts"); the strict `>` makes the
    chain deterministic without needing a tie-break on simultaneous
    events.

    Scale shape: ONE shuffle total — all three step timestamps are
    unordered window MINs over the same user_id partitioning (each
    step's condition references the previous step's column, which is
    partition-constant), so Catalyst computes them in consecutive
    window passes over a single exchange, where the naive
    formulation (one filtered aggregate + join per step) pays a
    shuffle per funnel stage. The oracle IS that naive three-CTE
    chain — same semantics, different plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    d = ev.withColumn(
        "ts1",
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).over(w),
    )
    deadline = F.expr(f"INTERVAL {FUNNEL_DEADLINE_HOURS} HOURS")
    d = d.withColumn(
        "ts2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("ts1"))
                & (F.col("ts") <= F.col("ts1") + deadline),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "ts3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("ts2"))
                & (F.col("ts") <= F.col("ts2") + deadline),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.min("ts1").alias("ts1"),
        F.min("ts2").alias("ts2"),
        F.min("ts3").alias("ts3"),
    )
    return per_user.agg(
        F.count("ts1").alias("n_step_view"),
        F.count("ts2").alias("n_step_click"),
        F.count("ts3").alias("n_step_purchase"),
    )


def _cdc_changes(c: DataFrame) -> DataFrame:
    """The deterministic CDC change feed shared by q44 (full MERGE)
    and q64 (incremental MV maintenance): custkey % 7 → UPDATE
    (acctbal + 100), % 97 → DELETE (delete wins where both match),
    % 11 → INSERT of a new key in 'NEW_SEGMENT'. Derived from the
    base so both engines see the identical batch."""
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("c_acctbal") + 100.0).alias("new_acctbal"),
        F.lit(None).cast("string").alias("new_segment"),
    )
    dele = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_acctbal"),
        F.lit(None).cast("string").alias("new_segment"),
    )
    ins = c.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("k"),
        F.lit("I").alias("op"),
        F.lit(42.0).alias("new_acctbal"),
        F.lit("NEW_SEGMENT").alias("new_segment"),
    )
    return (
        upd.unionByName(dele)
        .unionByName(ins)
        .withColumn(
            "pri", F.when(F.col("op") == "D", 0).otherwise(1)
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy("pri", "op")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("pri", "rn")
    )


def _cdc_apply(m: DataFrame) -> DataFrame:
    """MERGE resolution over the full-outer (base × changes) relation —
    shared by q44 (per-segment report), and q67 (snapshot diff). See
    q44's docstring for the per-row semantics."""
    fresh_insert = (F.col("op") == "I") & F.col("c_custkey").isNull()
    return (
        m.filter(
            (F.col("op").isNull())  # untouched base row
            | (F.col("op") == "U")
            | (F.col("op") == "I")  # fresh insert OR matched no-op
        )
        .select(
            F.coalesce("c_custkey", "k").alias("custkey"),
            F.when(fresh_insert, F.col("new_segment"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.when(F.col("op") == "U", F.col("new_acctbal"))
            .when(fresh_insert, F.col("new_acctbal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.when(F.col("op") == "U", F.lit("U"))
            .when(fresh_insert, F.lit("I"))
            .otherwise(F.lit("K"))
            .alias("action"),
        )
    )


def _cdc_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-MERGE customer snapshot (custkey, segment, acctbal,
    action) — v2 in snapshot-diff terms."""
    c = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(c)
    return _cdc_apply(c.join(changes, c.c_custkey == changes.k, "full_outer"))


def q44_merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (upsert + delete) — the daily lakehouse maintenance
    query: apply a change batch (INSERT / UPDATE / DELETE rows keyed
    by custkey) to the customer base table and report the merged
    state. This is Delta/Iceberg ``MERGE INTO`` re-expressed as the
    engine-level plan those systems generate: ONE full-outer join of
    base and changes on the key, then per-row CASE resolution
    (change absent → keep base; D → drop; U → base with the updated
    column; I with no base match → new row; I whose key already
    exists → the not-matched clause does not fire, base row kept —
    never dropped).

    The change batch is derived deterministically from the base so
    both engines see the identical feed: custkey % 7 == 0 → UPDATE
    (acctbal + 100), custkey % 97 == 0 → DELETE (delete wins over
    update where both match), custkey % 11 == 0 → INSERT of a new
    key (custkey + 1,000,000) in segment 'NEW_SEGMENT'.

    Scale shape: the join shuffles on the merge key — exactly once —
    and the change side of a real CDC batch is orders of magnitude
    smaller than base, so AQE broadcasts it; the output aggregate
    (per-segment count + exact acctbal sum + action counters) proves
    every row landed in exactly one of keep/update/delete/insert."""
    c = load_table(spark, sf_dir, "customer")
    # one change row per key: D beats U (a key matching both rules
    # resolves to delete in both engines)
    changes = _cdc_changes(c)
    m = c.join(changes, c.c_custkey == changes.k, "full_outer")
    # MERGE semantics per row: change absent -> keep; D -> drop;
    # U -> keep with the updated column; I against an ABSENT base key
    # -> new row; I whose key ALREADY EXISTS -> the not-matched insert
    # clause does not fire, the base row is KEPT untouched (round-5
    # review: the earlier filter dropped BOTH rows in that collision,
    # silently losing the base customer — a row-loss class the oracle
    # could never catch because it mirrored the same filter).
    merged = _cdc_apply(m)
    return (
        merged.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("acctbal", "sum_acctbal"),
            F.sum(F.when(F.col("action") == "U", 1).otherwise(0))
            .cast("long")
            .alias("n_updated"),
            F.sum(F.when(F.col("action") == "I", 1).otherwise(0))
            .cast("long")
            .alias("n_inserted"),
        )
        .orderBy("segment")
    )


def q45_gapfill_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket GAP FILLING — the hypertable op
    (``time_bucket_gapfill``) the rollup cascade (q27) doesn't cover:
    hourly event counts per type over the corpus' full hour range
    WITH missing hours emitted as explicit zero rows (a dashboard or
    anomaly detector needs the zeros; a plain GROUP BY silently skips
    them — the fixture has ~47 empty purchase-hours that only exist
    in the gap-filled result).

    Scale shape: the dense grid is generated, not scanned — the fact
    collapses to ONE map-side-partial hourly aggregate (the only
    corpus pass), and bounds, the ``sequence()`` calendar, and the
    type dimension all derive from that |hours| × |types|-sized
    materialized aggregate. Both join inputs are bounded by
    |hours| × |types| regardless of corpus size, so the gapfill
    costs one aggregate pass plus dimension-sized work — and the
    plan actually matches that claim (review fix: bounds/types were
    previously their own corpus scans)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    # ONE fact scan (round-5 review: bounds and types were separate
    # corpus scans): the hourly aggregate is the only pass over
    # events, localCheckpoint'ed at its |hours|×|types| size (~3600
    # rows) so the three consumers below (bounds, types, the grid
    # join) read the materialized aggregate, not the fact table.
    counts = (
        ev.groupBy("h", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumnRenamed("event_type", "et")
        .localCheckpoint()
    )
    bounds = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    calendar = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")
        ).alias("hour_start")
    )
    types = counts.select(F.col("et").alias("event_type")).distinct()
    grid = calendar.crossJoin(types)
    return grid.join(
        counts,
        (F.col("h") == F.col("hour_start"))
        & (F.col("et") == F.col("event_type")),
        "left",
    ).select(
        "hour_start",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


def q46_tpch_q6_forecast_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): THE canonical pure
    filter-aggregate — one year, a discount band, a quantity cap, one
    SUM(price × discount). Every predicate reaches the scan
    (PushedFilters), the aggregate is a 2-phase exact integer-cents
    sum, and the whole plan is scan → filter → partial agg → final
    agg: the reference's own program shape (reader.cc:50-63) with
    predicates. Revenue here is price × discount (the discount GIVEN
    UP, per the TPC-H spec), computed in the same exact-cents
    arithmetic as the shared kernel."""
    li = load_table(spark, sf_dir, "lineitem")
    item = (
        cents("l_extendedprice") * cents("l_discount")
    ).cast("decimal(38,0)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(item).cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q47_tpch_q13_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): the
    AGGREGATE-OF-AGGREGATE shape no other query covers — LEFT join
    customers to orders (zero-order customers must appear), count
    orders per customer, then histogram the counts. Two shuffles by
    construction (per-customer, then per-count), both with map-side
    partials; the LEFT join preserves the zero bucket that an inner
    join would silently drop."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


def q48_tpch_q19_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 (discounted revenue, adapted to this schema): revenue
    from lineitem⋈part pairs matching ANY of three brand/size/quantity
    clauses — the DISJUNCTIVE-predicate workload. Catalyst extracts
    the common conjuncts it can and evaluates the OR inside the join;
    the part dimension broadcasts. Guards the predicate planner
    against the classic OR-blowup (no union-of-three-joins rewrite:
    one join, one pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 15)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 20)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 25)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size") <= 30)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 35)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(clause)
        .agg(
            exact_revenue(),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# TPC-H Q17 shape via the SQL FRONT DOOR (like q34, the oracle is the
# IDENTICAL string): the CORRELATED SCALAR AGGREGATE subquery — the one
# decorrelation shape q34 (uncorrelated scalar + IN) and q21
# (correlated EXISTS) don't cover. Catalyst rewrites the per-part avg
# into an aggregate + join; DuckDB does its own decorrelation — value
# equality certifies both rewrites. Determinism: l_quantity is
# integer-valued, so SUM in double is exact (far below 2^53) and the
# avg is one exact division — no summation-order hazard; revenue is
# the exact decimal sum presented over the spec's 7.0 divisor.
_Q49_SQL = """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) / 7.0 AS avg_yearly,
               COUNT(*) AS n_rows
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#23'
          AND p_type = 'MEDIUM'
          AND l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
    """


def q49_tpch_q17_small_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if
    orders below 20% of a part's average quantity were no longer
    taken — the correlated scalar-aggregate subquery workload, issued
    through plain ``spark.sql`` with the oracle running the IDENTICAL
    string (see _Q49_SQL for the decorrelation + determinism
    rationale)."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q49_SQL)


def q50_tpch_q15_top_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q15 (top supplier): per-supplier quarterly revenue, then
    the supplier(s) whose revenue equals the MAX — the
    scalar-subquery-over-derived-aggregate shape (the revenue relation
    is computed once and consumed twice: as the join input and inside
    the MAX). Exact integer-cents revenue makes the equality
    comparison safe — two engines computing MAX over identical exact
    values agree exactly, where a float SUM would make `= max` a
    coin flip. Scale: one fact aggregate (map-side partial) to
    |suppliers| rows; everything after is dimension-sized."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    # materialized (lazy localCheckpoint): rev feeds both the join
    # input and the MAX scalar; without the lineage cut each branch
    # re-runs the fact aggregate (see q58's comment)
    rev = (
        li.groupBy("l_suppkey")
        .agg(exact_revenue(alias="total_revenue"))
        .localCheckpoint(eager=False)
    )
    s = load_table(spark, sf_dir, "supplier")
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q51_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric data-profiling — the ``describe()``-style table audit a
    pipeline runs before trusting a new drop: per column, row/null
    counts, min/max, mean, and POPULATION VARIANCE, all in ONE pass
    over the fact table (one aggregate computes every column's stats;
    the long output shape comes from a stack/unpivot of that single
    row — never a pass per column).

    Determinism without trusting float summation: sums and
    sums-of-squares accumulate in exact integer hundredths
    (decimal(38,0) — Σc² for 600k price rows ≈ 1.5e19 overflows
    int64 but not decimal), and only the FINISHED exact integers are
    cast to double (both engines round the same exact value to the
    same IEEE double), so mean = Σc/100n and
    var = (Σc² − (Σc)²/n)/n /1e4 are IEEE ops on identical inputs.
    A float-native mean/var would differ in final ulps per
    partitioning — the same reason exact_sum exists."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for col in PROFILE_COLS:
        c = cents(col).cast("decimal(38,0)")
        aggs += [
            F.count(F.lit(1)).alias(f"{col}__n"),
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__nn"),
            F.min(col).alias(f"{col}__min"),
            F.max(col).alias(f"{col}__max"),
            F.sum(c).cast("double").alias(f"{col}__s"),
            F.sum(c * c).cast("double").alias(f"{col}__s2"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{col}', {col}__n, {col}__nn, {col}__min, {col}__max, "
        f"{col}__s, {col}__s2"
        for col in PROFILE_COLS
    )
    long = one.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_null, min_v, max_v, s, s2)"
    )
    return long.select(
        "column_name",
        "n_rows",
        "n_null",
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round(F.col("s") / 100.0 / F.col("n_rows"), 6).alias("mean_v"),
        F.round(
            (
                F.col("s2")
                - F.col("s") * F.col("s") / F.col("n_rows")
            )
            / F.col("n_rows")
            / 1e4,
            6,
        ).alias("var_pop"),
    )


def q52_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the FK health check a lakehouse
    runs on every drop (there are no enforced constraints in parquet;
    orphaned facts silently vanish from inner joins): for each
    fact→dimension edge, total fact rows and how many reference a
    MISSING dimension key. Zero orphans is the correct fixture answer
    — the audit verb is the capability.

    Scale shape: each edge is one LEFT ANTI join on the FK (shuffle on
    the key; AQE broadcasts dimension sides) reduced to a count — no
    wide rows move. The edges audited here: lineitem→orders,
    orders→customer, customer→nation, lineitem→part,
    lineitem→supplier."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    parts = []
    for fact, fk, dim, pk in edges:
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim).select(pk)
        orphans = f.select(fk).join(
            d, F.col(fk) == F.col(pk), "left_anti"
        )
        parts.append(
            f.agg(F.count(F.lit(1)).alias("n_fact"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphaned"))
            )
            .select(
                F.lit(f"{fact}.{fk} -> {dim}.{pk}").alias("edge"),
                "n_fact",
                "n_orphaned",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SKEW_TOP_KEYS = 3


def q53_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW diagnosis — the measurement you run before
    choosing between a plain shuffle join, AQE skew splitting, or the
    ``salted_join`` kernel: for each candidate key of the fact table,
    the group-count distribution (distinct keys, max and p99 group
    size, rows in the single heaviest key, and the share of the table
    owned by the top-{SKEW_TOP_KEYS} keys). l_returnflag (3 values,
    ~50% in one key) and l_orderkey (~4 rows/key) bracket the two
    regimes.

    Scale shape (r5 verdict #4 rebuilt this — the first version ranked
    EVERY distinct key in one window task, which is exactly the
    high-cardinality regime the operator exists to diagnose): one
    map-side-partial count per key column (shuffle carries (key,
    partial) rows), then three BOUNDED reductions over the
    distinct-key relation:

    - n_keys / n_rows / max_group: plain partial+final aggregates.
    - p99 exact: rank-r (r = ceil(0.99·n_keys), ordered by (cnt, key))
      falls inside some count-VALUE bucket regardless of the key
      tiebreak, so the exact ranked element is recoverable from the
      GROUP-SIZE HISTOGRAM — groupBy(cnt) → (cnt, #keys), cumulative
      rank ranges by running sum, p99 = min cnt whose cumulative key
      count reaches r. The histogram's cardinality is the number of
      DISTINCT group sizes, ≤ √(2·n_rows) by a pigeonhole argument
      (distinct sizes s₁<s₂<… sum to ≤ n_rows), so its
      single-partition running-sum window is ~1.4 M rows even at
      10¹² fact rows — metadata-sized for real, unlike the key
      relation itself.
    - top-K share: TakeOrderedAndProject (distributed per-partition
      top-K, constant K) over the key counts — never a global sort.

    The three 1-row frames recombine via 1-row×1-row crossJoins."""
    li = load_table(spark, sf_dir, "lineitem")
    reports = []
    for key in ("l_returnflag", "l_orderkey"):
        g = li.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        stats = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("max_group"),
        )
        hist = g.groupBy("cnt").agg(F.count(F.lit(1)).alias("keys_at"))
        w_cum = Window.orderBy("cnt").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        p99 = (
            hist.select(
                "cnt",
                F.sum("keys_at").over(w_cum).alias("cum_keys"),
                F.sum("keys_at").over(w_all).alias("nk"),
            )
            .filter(
                F.col("cum_keys") >= F.ceil(F.lit(0.99) * F.col("nk"))
            )
            .agg(F.min("cnt").cast("long").alias("p99_group"))
        )
        topk = (
            g.orderBy(F.col("cnt").desc(), F.col(key).desc())
            .limit(SKEW_TOP_KEYS)
            .agg(F.sum("cnt").alias("topk_rows"))
        )
        reports.append(
            stats.crossJoin(p99)
            .crossJoin(topk)
            .select(
                F.lit(key).alias("key_column"),
                "n_keys",
                "n_rows",
                "max_group",
                "p99_group",
                F.round(
                    F.col("topk_rows") / F.col("n_rows") * 100.0, 6
                ).alias("topk_share_pct"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ------------------------------------------------------------- TPC-H
# completion (round 6): the nine workload shapes missing from the
# suite, adapted to the fixture schema where it lacks a TPC-H column
# or table (no partsupp / commitdate / receiptdate / phone; every
# adaptation is documented in the docstring and preserves the query's
# PLAN shape — the thing being tested — not its exact business
# parameters). With these, all 22 TPC-H query shapes are implemented
# and oracle-checked.

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


def q54_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between two nations
    by year — the double-dimension-attribution join (supplier nation
    AND customer nation on the same fact row).

    Scale shape: supplier⋈nation is joined FIRST (the two-nation
    filter cuts the fact to ~2/25ths before the expensive orderkey
    shuffle); nation broadcasts explicitly (25 rows); supplier and
    customer carry no hint — AQE broadcasts them at fixture scale and
    degrades to shuffle joins at 100 TB where a 1.5B-row customer
    side can't broadcast. The nation-pair disjunction is applied
    after both attributions (it needs both sides)."""
    n = load_table(spark, sf_dir, "nation")
    pair = n.filter(F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(exact_revenue())
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q8_REGION = "EUROPE"
Q8_NATION = "NATION_3"
Q8_TYPE = "ECONOMY"


def q55_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of a
    region's revenue for one part type, by year — the
    conditional-numerator-over-total ratio on a 6-way join tree.

    Scale shape: part is filtered to one type and joined first (fact
    cut ~6×), then orders (date-pruned at the scan), then the
    customer→nation→region market restriction, then supplier→nation
    attribution; nation/region broadcast explicitly, the rest is
    AQE's call. Numerator and denominator are ONE aggregate (SUM of a
    CASE'd exact-integer item — no second pass), share rounded at 6dp
    in both engines."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q8_REGION
    )
    market_nations = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("mkt_nationkey"))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == Q8_TYPE
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(market_nations),
        F.col("c_nationkey") == F.col("mkt_nationkey"),
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    item = revenue_item()
    target = F.when(
        F.col("supp_nation") == Q8_NATION, item
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(target).alias("_num"),
            F.sum(item).alias("_den"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_num").cast("double")
                / F.col("_den").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


# no partsupp table in the fixture: supply cost is proxied as 50% of
# the part's retail price — exact in integer arithmetic (retail cents
# × qty × 50 is the hundredth-of-cent representation of
# 0.5·retail·qty), so the profit aggregate stays order-independent
# and hash-comparable
Q9_COST_PCT = 50


def q56_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit, adapted): profit by supplier
    nation and year over parts matching a name pattern. Adaptation:
    the fixture has no partsupp, so ps_supplycost is proxied by
    {Q9_COST_PCT}% of p_retailprice (see Q9_COST_PCT) — the plan
    (LIKE-filtered part dimension joined into the fact, per-row
    profit arithmetic, nation attribution, two-key rollup) is the
    spec's.

    Scale shape: the LIKE filter can't prune at the scan (parquet has
    no substring stats) but cuts the broadcast side ~4×; profit is a
    single exact decimal(38,0) sum of integer items."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    cost_item = (
        cents("p_retailprice")
        * F.col("l_quantity").cast("long")
        * F.lit(Q9_COST_PCT)
    ).cast("decimal(38,0)")
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "nation", F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (
                F.sum(revenue_item() - cost_item).cast("double")
                / 10000.0
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


Q2_REGION = "ASIA"
Q2_SIZE = 15
Q2_TYPE = "SMALL"


def q57_tpch_q2_min_cost_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier, adapted): for each part of one
    size+type, the region's supplier offering it cheapest. Adaptation:
    no partsupp, so the supply relation is DERIVED from lineitem —
    supplier s "offers" part p at the minimum line price (exact
    cents) observed across their transactions; the correlated
    min-subquery shape (supply cost = MIN over the part's regional
    offers) is the spec's, decorrelated by both engines into an
    aggregate + join.

    Scale shape: the offers aggregate is one fact-table groupBy on
    (part, supplier); everything downstream is dimension-sized. The
    per-part MIN reuses the same shuffle partitioning (groupBy of a
    groupBy on a prefix key)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    region_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.join(
                    F.broadcast(r),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    )
    li = load_table(spark, sf_dir, "lineitem")
    offers = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(region_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "s_suppkey")
        .agg(F.min(cents("l_extendedprice")).alias("cost_c"))
    )
    # per-part MIN as a window over the offers aggregate — referencing
    # offers once keeps the plan at one fact scan (the agg +
    # self-join form recomputes the upstream per branch); the window
    # partitions on the partkey prefix of the aggregate's own shuffle
    return (
        offers.withColumn(
            "min_c", F.min("cost_c").over(Window.partitionBy("p_partkey"))
        )
        .filter(F.col("cost_c") == F.col("min_c"))
        .join(region_supp, "s_suppkey")
        .join(F.broadcast(p.select("p_partkey", "p_brand")), "p_partkey")
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("cost_c").cast("double") / 100.0).alias("min_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


Q11_NATION = "NATION_5"
Q11_FRACTION = 1000  # HAVING value > total/1000


def q58_tpch_q11_important_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 (important stock, adapted): parts whose transacted
    value through one nation's suppliers exceeds a fixed fraction of
    that nation's total — the HAVING-against-a-scalar-subquery shape
    (the same derived aggregate consumed per-group AND as the global
    threshold). Adaptation: no partsupp, so "stock value" is the
    exact-cents extendedprice total from lineitem.

    Scale shape: ONE fact aggregate to |parts| rows; the scalar total
    re-aggregates those rows (not the fact) and broadcasts as a
    1-row cross join."""
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == Q11_NATION
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    value = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
        # MATERIALIZE the per-part aggregate (lazy localCheckpoint):
        # it feeds both the HAVING side and the scalar total, and
        # without a lineage cut Catalyst recomputes the whole fact
        # scan per branch (exchange reuse never fires across
        # differently-pruned subtrees). The checkpoint is |parts|
        # rows × 2 columns — the bounded intermediate a production
        # Q11 keeps anyway.
        .localCheckpoint(eager=False)
    )
    total = value.agg(F.sum("value_c").alias("total_c"))
    return (
        value.join(F.broadcast(total))
        .filter(
            F.col("value_c") > F.col("total_c") / F.lit(Q11_FRACTION)
        )
        .select(
            "l_partkey",
            (F.col("value_c").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.col("value").desc(), "l_partkey")
    )


Q16_SIZES = (1, 9, 14, 19, 23, 36, 45, 49)


def q59_tpch_q16_supplier_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship count, adapted): how
    many DISTINCT suppliers serve each surviving (brand, type, size)
    bucket, excluding a complaint set — COUNT(DISTINCT) over a
    derived relationship relation plus a NOT-IN anti join.
    Adaptation: the supplier⇄part relation is the distinct
    (l_partkey, l_suppkey) pairs from lineitem (no partsupp), and
    "complaint" suppliers are those with negative account balance
    (no s_comment column).

    Scale shape: the pairs DISTINCT is the only fact-sized shuffle;
    the anti join's right side is dimension-sized and broadcasts;
    COUNT(DISTINCT suppkey) per 3-key group plans as the standard
    two-phase expand/aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(*Q16_SIZES))
    )
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    return (
        pairs.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(complaints.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


Q20_NATION = "NATION_7"


def q60_tpch_q20_excess_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (potential part promotion, adapted): suppliers in one
    nation who hold "excess" positions — they moved more than half of
    a name-filtered part's total 1997 volume — the nested-IN-subquery
    chain (suppliers IN (pairs whose qty > 0.5 × part total), parts
    IN (LIKE filter)) decorrelated into aggregate + semi joins.
    Adaptation: availqty has no partsupp source, so "excess" compares
    the pair's transacted quantity against the part's corpus-wide
    total (same > 0.5·Σ shape as the spec's availqty > 0.5·Σ).

    Scale shape: two stacked fact aggregates share the l_partkey
    shuffle prefix; the survivor pair set is tiny and the final
    supplier attach is a broadcast semi join."""
    blue = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%blue%")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(
            F.broadcast(blue.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    ps_qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("pair_qty")
    )
    # the part total is a WINDOW over the pair aggregate (sum across
    # the part's suppliers) — referencing ps_qty once keeps the plan
    # at ONE fact scan (the agg-then-self-join form recomputes the
    # whole upstream per branch: Catalyst reuses exchanges only when
    # the subtrees are identical, which per-branch pruning defeats);
    # the window input is |pairs| rows, partitioned on the partkey
    # prefix of the aggregate's own shuffle key
    excess = ps_qty.withColumn(
        "part_qty",
        F.sum("pair_qty").over(Window.partitionBy("l_partkey")),
    ).filter(F.col("pair_qty") * 2 > F.col("part_qty"))
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").filter(
                F.col("n_name") == Q20_NATION
            )
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        s.join(
            excess.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


Q21_NATION = "NATION_4"


def q61_tpch_q21_waiting_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting, adapted): for
    finished multi-supplier orders, the supplier who ALONE shipped
    last — the EXISTS (another supplier participated) + NOT EXISTS
    (another supplier shipped as late) double correlation, expressed
    as co-partitioned aggregates on the orderkey. Adaptation: the
    fixture has no commitdate/receiptdate, so "late" is "holds the
    order's strictly-latest ship date" (l_shipdate is the only
    lateness signal available).

    Scale shape: ONE orderkey exchange serves the whole correlation
    pipeline — the per-order max/participant-count are WINDOW
    functions over partitionBy(orderkey) (a first self-join draft
    paid 13 exchanges because Catalyst's per-branch column pruning
    defeats exchange reuse across a reused DataFrame), and every
    later stage (the at-max pair DISTINCT, the n_at_max re-aggregate,
    their join) groups or joins on an orderkey-prefixed key, which
    the existing hash partitioning already satisfies (Spark's
    ClusteredDistribution accepts a subset partitioning) — so no
    further exchange until the final dimension-sized supplier
    attach. The window's collect_set holds ≤ |lines per order|
    elements — bounded by the order, not the corpus."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lo = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    w = Window.partitionBy("l_orderkey")
    marked = lo.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.max("l_shipdate").over(w).alias("max_ship"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
    )
    at_max = (
        marked.filter(
            (F.col("l_shipdate") == F.col("max_ship"))
            & (F.col("n_supp") >= 2)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_at_max = at_max.groupBy(
        F.col("l_orderkey").alias("nm_orderkey")
    ).agg(F.count(F.lit(1)).alias("n_at_max"))
    waiting = at_max.join(
        n_at_max,
        (F.col("l_orderkey") == F.col("nm_orderkey"))
        & (F.col("n_at_max") == 1),
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").filter(
                F.col("n_name") == Q21_NATION
            )
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        waiting.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q22_CODES = (1, 3, 5, 7, 9, 11, 13)
# "dormant" horizon: the spec's NOT EXISTS(orders in the last 7 years);
# every fixture customer has SOME order, so the adapted cutoff keeps
# the anti join non-vacuous
Q22_SINCE = "1999-01-01"


def q62_tpch_q22_dormant_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 (global sales opportunity, adapted): well-funded
    customers in target countries who never ordered — an
    above-average filter (scalar subquery over the SAME filtered
    relation) plus NOT EXISTS(orders) as a LEFT ANTI join.
    Adaptation: no c_phone, so the "country code" is c_nationkey.

    Scale shape: the average is an exact-cents 1-row aggregate
    broadcast into the filter; the anti join is the only fact-sized
    operation and AQE picks its side strategy. Comparison against the
    average happens on exact integer cents scaled by the count —
    cents·n > Σcents — so no float boundary exists for engines to
    disagree on."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*Q22_CODES)
    )
    avg_pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents("c_acctbal")).alias("sum_c"),
        F.count(F.lit(1)).alias("n_c"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_SINCE)
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_pos))
        .filter(cents("c_acctbal") * F.col("n_c") > F.col("sum_c"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (
                F.sum(cents("c_acctbal")).cast("double") / 100.0
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# DuckDB CTE chain producing the post-merge `merged` relation — the
# shared truth for q44's MERGE report and q64's full-recompute oracle
# (mirrors _cdc_changes + q44's CASE resolution)
_CDC_MERGED_CTE = """
        WITH upd AS (
          SELECT c_custkey AS k, 'U' AS op,
                 c_acctbal + 100.0 AS new_acctbal,
                 CAST(NULL AS VARCHAR) AS new_segment
          FROM customer WHERE c_custkey % 7 = 0
        ), dele AS (
          SELECT c_custkey, 'D', CAST(NULL AS DOUBLE),
                 CAST(NULL AS VARCHAR)
          FROM customer WHERE c_custkey % 97 = 0
        ), ins AS (
          SELECT c_custkey + 1000000, 'I', 42.0, 'NEW_SEGMENT'
          FROM customer WHERE c_custkey % 11 = 0
        ), allc AS (
          SELECT * FROM upd
          UNION ALL SELECT * FROM dele
          UNION ALL SELECT * FROM ins
        ), changes AS (
          SELECT k, op, new_acctbal, new_segment FROM (
            SELECT *, row_number() OVER (
              PARTITION BY k
              ORDER BY CASE WHEN op = 'D' THEN 0 ELSE 1 END, op) AS rn
            FROM allc
          ) WHERE rn = 1
        ), m AS (
          SELECT * FROM customer
          FULL OUTER JOIN changes ON c_custkey = k
        ), merged AS (
          SELECT coalesce(c_custkey, k) AS custkey,
                 CASE WHEN op = 'I' AND c_custkey IS NULL
                      THEN new_segment ELSE c_mktsegment END AS segment,
                 CASE WHEN op = 'U' THEN new_acctbal
                      WHEN op = 'I' AND c_custkey IS NULL
                      THEN new_acctbal
                      ELSE c_acctbal END AS acctbal,
                 CASE WHEN op = 'U' THEN 'U'
                      WHEN op = 'I' AND c_custkey IS NULL THEN 'I'
                      ELSE 'K' END AS action
          FROM m
          WHERE op IS NULL OR op = 'U' OR op = 'I'
        )
"""


def q64_incremental_mv_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the other half of
    the CDC story q44 starts: instead of re-merging and re-aggregating
    the whole base table, maintain a per-segment aggregate MV
    (row count + exact-cents balance total) by applying DELTAS derived
    from the change batch alone. The algebra: U contributes
    (0, new−old), D contributes (−1, −old), a fresh I contributes
    (+1, +new) to its segment; a matched I and changes against absent
    keys are no-ops — the same mergeable-partial property that makes
    the engine's two-phase aggregates work makes the MV maintainable.

    The ORACLE recomputes the post-merge aggregate from scratch
    (q44's merged CTE, aggregated), so equality IS the
    view-maintenance correctness proof: incremental result ≡ full
    recompute.

    Scale shape: the stored MV here is rebuilt in-query for
    determinism (production reads it as an artifact); the INCREMENTAL
    path touches base only through the change-key join — |changes|
    rows, which AQE broadcasts — and the delta aggregate and final
    full-outer merge are |segments|-sized. At 100 TB this is the
    difference between a nightly full rescan and a seconds-long
    delta apply."""
    c = load_table(spark, sf_dir, "customer")
    changes = _cdc_changes(c)
    zero = F.lit(0).cast("long")
    mv = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("mv_rows"),
        F.sum(cents("c_acctbal")).alias("mv_bal_c"),
    )
    affected = changes.join(
        c.select("c_custkey", "c_mktsegment", "c_acctbal"),
        F.col("k") == F.col("c_custkey"),
        "left",
    )
    matched = F.col("c_custkey").isNotNull()
    fresh_ins = (F.col("op") == "I") & ~matched
    old_c = cents("c_acctbal")
    new_c = cents("new_acctbal")
    d_rows = (
        F.when((F.col("op") == "D") & matched, F.lit(-1))
        .when(fresh_ins, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    d_bal = (
        F.when((F.col("op") == "D") & matched, -old_c)
        .when((F.col("op") == "U") & matched, new_c - old_c)
        .when(fresh_ins, new_c)
        .otherwise(zero)
    )
    seg = F.when(fresh_ins, F.col("new_segment")).otherwise(
        F.col("c_mktsegment")
    )
    deltas = (
        affected.select(
            seg.alias("segment"),
            d_rows.alias("d_rows"),
            d_bal.alias("d_bal"),
        )
        # a U/D against an absent key has NULL segment — a no-op
        .filter(F.col("segment").isNotNull())
        .groupBy("segment")
        .agg(F.sum("d_rows").alias("dr"), F.sum("d_bal").alias("db"))
    )
    return (
        mv.join(deltas, "segment", "full_outer")
        .select(
            "segment",
            (F.coalesce("mv_rows", zero) + F.coalesce("dr", zero))
            .cast("long")
            .alias("n_rows"),
            (
                (
                    F.coalesce("mv_bal_c", zero)
                    + F.coalesce("db", zero)
                ).cast("double")
                / 100.0
            ).alias("sum_acctbal"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("segment")
    )


# TPC-H Q21 via the SQL FRONT DOOR (the third identical-SQL entry
# after q34/q49, and the only one exercising EXISTS + NOT EXISTS
# decorrelation): Catalyst rewrites the EXISTS into a LeftSemi and the
# NOT EXISTS into a null-aware LeftAnti, both with the non-equi
# same-order/different-supplier condition attached; DuckDB runs its
# own decorrelation on the IDENTICAL string — value equality certifies
# both rewrites. Lateness is adapted to the fixture schema (no
# commitdate/receiptdate): a line is late when it ships > 60 days
# after its order date; the NOT EXISTS correlates on the OUTER query's
# o_orderdate (same order), keeping the subquery single-table.
_Q63_SQL = f"""
        SELECT s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE o_orderstatus = 'F'
          AND n_name = '{Q21_NATION}'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate
                                > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """


def q63_tpch_q21_sql_front_door(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 issued as plain SQL (see _Q63_SQL): the
    spec-structured EXISTS/NOT-EXISTS formulation, whose oracle runs
    the IDENTICAL string — complementing q61, which implements the
    same business question as a hand-planned one-exchange pipeline.
    Together they certify that Catalyst's decorrelation and the
    manual plan agree with a second engine's decorrelation."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q63_SQL)


_Q74_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
"""


def q74_grouping_sets_front_door(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Explicit GROUPING SETS + GROUPING() flags through the SQL front
    door — the irregular multi-aggregation surface between q14's
    ROLLUP and q20's CUBE (an arbitrary set list, here including the
    (l_linestatus) slice a flag-first ROLLUP never produces), with the
    GROUPING() indicator that disambiguates a rolled-up NULL from a
    data NULL. The oracle runs the IDENTICAL string (the q63
    discipline), certifying Spark's Expand-based grouping-set
    execution against a second engine's.

    Scale shape: Catalyst plans one scan + Expand (×|sets| row
    replication map-side) + ONE partial/final hash aggregate — the
    same two-phase shuffle as a plain GROUP BY, just over the
    expanded keys; no per-set rescan of the fact."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q74_SQL)


def q75_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBSERVABLE METRICS (``DataFrame.observe`` / ``Observation``) —
    accumulator-backed aggregates that ride an UNRELATED primary pass
    for free: here a top-10-by-price query is the paying workload, and
    the full-scan row count + exact cents total are collected by the
    SAME job, not a second scan. At 100 TB this is the difference
    between auditing an ETL pass and DOUBLING it — exactly the
    always-on accounting the reference's per-thread counters provide
    (reader.cc's rows/bytes tallies), expressed through Spark's native
    metrics channel instead of a side query.

    Determinism: the observed metrics are whole-relation aggregates
    (count + order-independent integer-cents sum), and the primary
    result folds to a checksum over a TOTALLY ordered top-k (price
    desc, orderkey, linenumber — a unique triple), so the 1-row output
    is engine-comparable. The oracle recomputes all three as scalar
    subqueries."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    obs = Observation("scan_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_extendedprice")).alias("sum_cents"),
    )
    topk = (
        observed.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(10)
        .select("l_orderkey")
        .collect()  # the primary pass; the metrics ride this job
    )
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["sum_cents"]),
                int(sum(r.l_orderkey for r in topk)),
            )
        ],
        "n_rows: long, sum_cents: long, topk_keysum: long",
    )


_Q75_SQL = """
SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
       (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) FROM lineitem) AS sum_cents,
       (SELECT CAST(SUM(l_orderkey) AS BIGINT) FROM (
          SELECT l_orderkey FROM lineitem
          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
          LIMIT 10)) AS topk_keysum
"""


# Statistics-driven optimization (CBO): the columns ANALYZE collects
# per table — join keys (ndv drives join-cardinality estimates) plus
# the filter/agg columns (ndv drives filter selectivity).
_CBO_STATS_COLS = {
    "lineitem": "l_orderkey, l_extendedprice",
    "orders": "o_orderkey, o_custkey, o_orderpriority",
    "customer": "c_custkey, c_mktsegment",
}

# Written in a DELIBERATELY pessimal syntactic order: fact ⋈ fact-sized
# orders FIRST, the selective customer filter LAST. Rule-based planning
# keeps that order; the cost-based reorder must discover that joining
# the ~1/5-selectivity customer side into orders first shrinks the
# intermediate by an order of magnitude before lineitem ever joins.
_CBO_JOIN_SQL_FMT = """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM {li} JOIN {o} ON l_orderkey = o_orderkey
          JOIN {c} ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _cbo_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """EXTERNAL CATALOG TABLES over the fixture parquet, ANALYZEd once
    per (application, table version) — ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`` needs a catalog table (temp views carry no
    persisted stats), so the CBO surface gets its own registrations,
    name-tagged by table directory so coexisting scale factors never
    alias. Returns fixture-name → catalog-name. The stats pass is the
    Spark analogue of the reference's plan-from-metadata step
    (reader.cc:104-112 sizes its thread fan-out from stripe row counts
    in the footer BEFORE reading any data); here the optimizer consumes
    rowCount + per-column ndv the same way, before execution."""
    import os
    import re

    from pim_orc_spark.artifacts import cached_artifact

    def _build() -> dict[str, str]:
        tag = re.sub(
            r"[^0-9a-zA-Z]+", "_", os.path.abspath(sf_dir)
        ).strip("_")
        names: dict[str, str] = {}
        for t, cols in _CBO_STATS_COLS.items():
            tbl = f"cbo_{t}_{tag}"
            path = os.path.join(os.path.abspath(sf_dir), f"{t}.parquet")
            # DROP first: a table-version bump (mtime key change)
            # must re-point and re-ANALYZE, never serve stale stats
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{path}'")
            spark.sql(
                f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
            names[t] = tbl
        return names

    return cached_artifact("cbo_tables", spark, sf_dir, _build)


def _cbo_confs(spark: SparkSession, enabled: bool) -> dict[str, str]:
    """Set the two CBO switches, returning the previous values (caller
    restores in a finally).

    SINGLE-THREADED ASSUMPTION: ``spark.conf`` is session-global, so
    any query PLANNED concurrently in this session during the caller's
    conf window would silently plan under CBO too. Both harnesses that
    drive q76 (the driver sweep and pytest) plan queries sequentially;
    a concurrently-driven deployment must scope the flip to a cloned
    session (``spark.newSession()`` shares the catalog + executors but
    owns its conf) before running q76 alongside other work."""
    confs = {
        "spark.sql.cbo.enabled": str(enabled).lower(),
        "spark.sql.cbo.joinReorder.enabled": str(enabled).lower(),
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return old


def q76_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATISTICS-DRIVEN JOIN REORDERING — the cost-based-optimizer
    surface (SURVEY §4.1's one undemonstrated corner): ANALYZE TABLE
    collects rowCount + column ndv over the three catalog tables, and
    with ``spark.sql.cbo.enabled`` + ``joinReorder.enabled`` Catalyst's
    CostBasedJoinReorder rewrites the deliberately fact-first join
    text (lineitem ⋈ orders first, filtered customer last) into the
    selective order (orders ⋈ σ(customer) first) — planning from
    metadata before touching data, exactly the reference's
    stripe-rowcount thread planning (reader.cc:104-112) lifted to join
    trees. The reorder is machine-asserted in tests/test_plans.py
    (optimized plan with stats+CBO differs from the rule-based plan
    and joins the filtered dimension innermost); the RESULT is
    CBO-invariant, so the oracle is simply the same query.

    Execution happens inside the conf window (localCheckpoint), so the
    returned relation was genuinely planned by the CBO path while the
    session's default planning stays untouched for every other query.

    100 TB shape: at scale the reorder is the difference between an
    intermediate the size of the fact table and one the size of the
    filtered dimension's line set — the class of error no amount of
    executor count absorbs; stats make the optimizer catch it at plan
    time."""
    t = _cbo_tables(spark, sf_dir)
    old = _cbo_confs(spark, True)
    try:
        df = spark.sql(
            _CBO_JOIN_SQL_FMT.format(
                li=t["lineitem"], o=t["orders"], c=t["customer"]
            )
        )
        # materialize while CBO is on: the conf is read at optimization
        # time, which is lazy — returning an unexecuted plan and then
        # restoring the confs would silently plan rule-based later
        return df.localCheckpoint()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


_Q76_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q77_recursive_cte_front_door(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE RECURSIVE CTE (Spark 4's ``WITH RECURSIVE`` /
    UnionLoopExec) through the SQL front door: the trade-reach BFS
    issued as the IDENTICAL string the DuckDB oracle runs (the q63
    discipline applied to recursion) — and the same business question
    ``q69_trade_reach`` answers with the hand-planned
    level-synchronous loop, so Catalyst's recursive execution, the
    manual iterative plan, and a second engine's recursion must all
    agree on the same 25 rows.

    Scale note: this UNION ALL recursion enumerates bounded WALKS
    (hops < BFS_MAX_HOPS caps it — here ≤ |V|^4 rows before the MIN
    collapse), which is the spec-faithful but frontier-blind shape;
    q69's iterative plan stays the 100 TB path because it deduplicates
    the frontier per level (anti-join against visited) and
    materializes each level once. Shipping both certifies they
    coincide."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q69_SQL)


def q78_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (Spark 4): ``parse_json`` decodes
    the JSON string ONCE into the binary VARIANT encoding, then typed
    paths come out with ``try_variant_get`` — the modern scale path
    for JSON columns beside q19's ``get_json_object`` (which re-parses
    the string per access; VARIANT amortizes the parse across every
    path and is the layout Parquet variant shredding stores). Output
    mirrors q19's per-type stats so the two JSON paths certify each
    other, plus a miss column proving the lenient accessor returns
    NULL (never an error) for a path absent from every row.

    Scale shape: identical to q19 — one scan, all extraction inside
    codegen, map-side partial agg; no Python anywhere."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    miss = F.try_variant_get(v, "$.absent", "long")
    return (
        e.select("event_type", k.alias("k"), miss.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_absent_misses"),
        )
        .orderBy("event_type")
    )


_Q78_SQL = """
SELECT event_type,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       COUNT(*) AS n_absent_misses
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
) GROUP BY event_type ORDER BY event_type
"""


_Q79_UDF_DDL = """
CREATE OR REPLACE TEMPORARY FUNCTION item_revenue_hcents(
  p DOUBLE, d DOUBLE
) RETURNS DECIMAL(38,0)
RETURN CAST(CAST(ROUND(p * 100) AS BIGINT)
            * (100 - CAST(ROUND(d * 100) AS BIGINT)) AS DECIMAL(38,0))
"""

_Q79_QUERY = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(item_revenue_hcents(l_extendedprice, l_discount))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q79_sql_udf_front_door(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL-LANGUAGE UDF (Spark 4's ``CREATE FUNCTION ... RETURN
    expr``): a declarative scalar function Catalyst INLINES into the
    calling plan — whole-stage codegen, no Python worker, no
    serialization wall; the right first stop before a pandas_udf for
    any SQL-expressible transform (the §2.8 matrix's zero-cost cell).
    The body is the shared ``revenue_item`` exact-cents contract, so
    the oracle simply inlines the identical expression (a SQL UDF is
    definitionally its inlined body). The no-Python-in-plan claim is
    machine-asserted in tests/test_plans.py; the TABLE-valued form of
    the same DDL surface is exercised there too."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(_Q79_UDF_DDL)
    return spark.sql(_Q79_QUERY)


# the EXECUTE IMMEDIATE body; reaches the session as a STRING variable
# bound through a parameter marker (never string-interpolated — the
# operator exists to showcase the non-interpolated front door)
_Q80_REPORT = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem
WHERE l_quantity < ?
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q80_sql_variables_front_door(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL session VARIABLES + EXECUTE IMMEDIATE (Spark 4) — the
    parameterized-script surface of the SQL front door (what SQL
    scripts and BI tools use instead of string interpolation, which
    invites injection and defeats plan caching). ``DECLARE OR REPLACE
    VARIABLE`` creates a session-scoped threshold; ``SET VARIABLE``
    computes it FROM the data (a scalar subquery — the median
    quantity); the report text itself travels as a second STRING
    variable (bound with a ``?`` parameter marker, no interpolation
    anywhere) and runs through ``EXECUTE IMMEDIATE <var> USING`` with
    the threshold bound to the report's ``?`` parameter. The oracle
    derives the identical cut as a CTE and inlines it — values must
    match exactly, proving the variable binding and parameter pass
    never touch the data path.

    Scale: the variable is a driver-side scalar (metadata); the
    parameterized report compiles to the same single-scan grouped
    aggregate the q04 family runs — parameters are bound at plan time,
    so pushdown/pruning see a literal."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE pim_qty_cut DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        "SET VARIABLE pim_qty_cut = "
        "(SELECT percentile(l_quantity, 0.5) FROM lineitem)"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE pim_q80_report STRING")
    spark.sql("SET VARIABLE pim_q80_report = ?", args=[_Q80_REPORT])
    return spark.sql("EXECUTE IMMEDIATE pim_q80_report USING pim_qty_cut")


HLL_LGK = 14  # datasketches lgConfigK: ~0.8% relative standard error
HLL_TOL_PCT = 3  # asserted envelope ≈3.7 standard errors: the sketch
#                 is deterministic per dataset, but the driver
#                 REGENERATES the fixture each round, so the realized
#                 error re-draws — 2% (2.5σ) carried a few-percent
#                 flake risk per round across the three groups


def q81_hll_mergeable_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE distinct-count sketches (Spark's Apache DataSketches
    HLL functions) — the 100 TB distinct-counting pattern: each
    partition/day/segment aggregates a fixed-size ``hll_sketch_agg``
    sketch, and ANY rollup is a cheap ``hll_union_agg`` over sketches
    — no re-scan of the raw data, unlike exact COUNT DISTINCT whose
    partials cannot merge. The q24/q59 family covers exact and
    approx_count_distinct; this covers the REUSABLE-sketch form.

    The sketch estimate is engine-specific (DuckDB has no
    DataSketches HLL), so the exported contract is the part that IS
    cross-engine checkable: per-group EXACT distinct counts plus two
    boolean facts the driver hash-compares against literal TRUE —
    (a) accuracy: every group's sketch estimate lands within
    HLL_TOL_PCT of its exact count (integer math, no float
    tolerance); (b) MERGEABILITY, the property the pattern exists
    for: the estimate from the UNION of the per-group sketches lands
    within the same envelope of the global exact distinct. (Bit-exact
    union-vs-direct-sketch equality was tried first and is NOT a
    stable property — merging routes through a different internal
    representation than direct aggregation, and the estimates
    diverged at sf0.01 while agreeing at sf0.001 — so the asserted
    property is the operational one: a rollup computed purely from
    retained sketches is as accurate as the pattern promises.) A
    sketch regression flips a boolean and fails the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact"),
        F.expr(f"hll_sketch_agg(l_orderkey, {HLL_LGK})").alias("sk"),
    )
    union_est = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias(
            "est_union"
        )
    )
    global_exact = li.agg(
        F.countDistinct("l_orderkey").alias("n_exact_global")
    )
    globals_ = F.broadcast(union_est.crossJoin(global_exact))  # 1 row
    est = F.expr("hll_sketch_estimate(sk)")
    within = (
        F.abs(est - F.col("n_exact")) * 100
        <= F.col("n_exact") * HLL_TOL_PCT
    )
    union_within = (
        F.abs(F.col("est_union") - F.col("n_exact_global")) * 100
        <= F.col("n_exact_global") * HLL_TOL_PCT
    )
    return (
        per.crossJoin(globals_)
        .select(
            "l_returnflag",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            within.alias("est_within_tol"),
            union_within.alias("union_within_tol"),
        )
        .orderBy("l_returnflag")
    )


def q82_unpivot_long_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNPIVOT / melt — the wide→long reshaping that is pivot's
    (q26's) inverse and a training-pipeline staple (per-metric long
    form feeds generic downstream aggregation/plotting without a
    schema per metric). Spark's dedicated ``DataFrame.unpivot``
    (UNPIVOT in SQL) expands k measure columns into k rows per input
    row INSIDE the Expand operator — one pass, no self-union of k
    scans, which is the scale point: the UNION-ALL formulation the
    oracle uses reads the aggregate k times, the unpivot plan once.
    Measures share the double type (unpivot requires a common value
    type); the exact-decimal sums make values engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_price"),
        exact_sum("l_discount", "sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "value",
    ).orderBy("l_returnflag", "measure")


def q83_transpose_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSPOSE (Spark 4's ``DataFrame.transpose``) — the matrix flip
    that turns a tall per-group report into the wide per-measure sheet
    humans read (measures as rows, groups as columns). The index
    column's VALUES become the new column names and every measure row
    becomes a column vector, so the operator is only defined when the
    group alphabet is bounded — exactly the reporting case (here the
    5-value event_type alphabet). Measures must share one type; counts
    and integer-cents sums are both long, so nothing is lost to a
    common-type cast.

    Scale: the transpose input is the ALREADY-AGGREGATED 5×3 frame —
    the 100 TB scan is the grouped aggregate feeding it; the flip
    itself is a driver-sized pivot of group-count × measure-count
    cells, never of raw rows. The oracle builds the identical sheet
    with conditional aggregation (one column per alphabet value)."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("sum_cents"),
    )
    return wide.transpose().orderBy("key")


def q84_listagg_within_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (Spark 4) — the ordered string
    aggregation (ANSI SQL:2016 T625) that collapses a group's values
    into one delimited string: the label-sheet / denormalized-export
    shape (a dimension's members per parent, a document's tags per
    doc). WITHIN GROUP (ORDER BY ...) is what makes the result
    deterministic and hash-comparable — bare listagg order is
    partition-dependent by spec.

    Two alphabets exercised: DISTINCT priorities per order status
    (a 1.5 M-row scan collapsing to ≤5 distinct members per group —
    the scale-honest form: partial DISTINCT runs map-side, only the
    bounded (status, priority) pairs shuffle) and the count carried
    alongside proving listagg composes with plain aggregates in one
    pass."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


def q86_parameterized_identifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARAMETERIZED SQL + the ``IDENTIFIER()`` clause (Spark 4) — the
    SAFE dynamic-SQL surface: a metadata-driven pipeline (table and
    column names from a config, thresholds from a job parameter)
    binds names through ``IDENTIFIER(:param)`` and values through
    ``:named`` parameters instead of f-string interpolation — no
    injection surface, and the parameter binds at PLAN time so
    pushdown/pruning see a literal (the same scale argument as q80's
    EXECUTE IMMEDIATE, one API layer down: this is `spark.sql(query,
    args=...)`, the programmatic form every orchestrator calls).

    The oracle is the identical query with the identifiers and the
    value inlined — matching hashes prove the binding layer never
    touches the data path."""
    from pim_orc_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(SUM(CAST(IDENTIFIER(:qty_col) AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_qty
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:qty_col) < :qty_cut
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
        args={"tbl": "lineitem", "qty_col": "l_quantity", "qty_cut": 25},
    )


def q87_lateral_topk_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CORRELATED LATERAL JOIN via Spark 4's ``DataFrame.lateralJoin``
    — the DataFrame-API form of ``FROM outer, LATERAL (subquery)``:
    the inner subquery's ``F.col(...).outer()`` references bind to
    each outer row (here: each distinct returnflag drives a top-2 by
    extendedprice with a total tiebreak). The SEMANTICS are
    per-outer-row re-execution; the PLAN is not: Catalyst's subquery
    decorrelation rewrites the correlated ORDER BY ... LIMIT into a
    rank-filter Window plus one BroadcastHashJoin against the driving
    table (verified from the executed plan) — no per-row nested loop,
    so the operator scales with the fact scan even when the driving
    table grows. The oracle is the row_number-window form the
    optimizer converges to, so equal hashes certify the
    decorrelation rewrite itself.

    Complements text.py's SQL ``LATERAL <udtf>`` front door: that cell
    is UDTF expansion, this one is the correlated-subquery join the
    DataFrame API grew in Spark 4."""
    li = load_table(spark, sf_dir, "lineitem")
    flags = (
        li.select(F.col("l_returnflag").alias("flag"))
        .distinct()
    )
    probe = (
        li.where(F.col("l_returnflag") == F.col("flag").outer())
        .orderBy(
            F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
        )
        .limit(2)
        .select(
            "l_orderkey",
            "l_linenumber",
            cents("l_extendedprice").alias("price_cents"),
        )
    )
    return flags.lateralJoin(probe).orderBy(
        "flag", F.desc("price_cents"), "l_orderkey", "l_linenumber"
    )


def q88_bitmap_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT mergeable distinct counts via the bitmap aggregate family
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the deterministic sibling of q81's HLL sketches: integer keys
    partition into 32k-bit buckets, per-(group, bucket) bitmaps OR
    together losslessly, and summing popcounts over buckets is the
    EXACT distinct count. This is the reaggregatable-distinct pattern
    a 100 TB warehouse materializes: COUNT DISTINCT cannot roll up
    from a materialized view, but bucket bitmaps can — finer
    aggregates re-merge to coarser ones with no rescan and no
    approximation error.

    Both paths are computed and must agree: the direct per-group
    build, and a merge path that splits events into halves, builds
    per-half bitmaps, and ORs them back together —
    ``merge_consistent`` hashes as TRUE only if the OR-merge is
    lossless. The oracle is the exact COUNT DISTINCT."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
        F.bitmap_bit_position("user_id").alias("pos"),
    )
    direct = (
        keyed.groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
    )
    merged = (
        keyed.groupBy("event_type", "half", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_merged"))
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            "n_users",
            (F.col("n_merged") == F.col("n_users")).alias(
                "merge_consistent"
            ),
        )
        .orderBy("event_type")
    )


HIST_LO, HIST_HI, HIST_N = 0.0, 100.0, 10  # equi-width bin config


def q90_width_bucket_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EQUI-WIDTH BINNING via ``width_bucket`` (ANSI SQL:2016) — the
    feature-bucketing primitive a training pipeline applies before
    histogram features, stratified sampling by value band, or outlier
    triage: each value maps to ``1 + floor((x-lo)/(hi-lo)·n)`` with
    underflow → 0 and overflow → n+1 (both overflow bands carried
    explicitly here — the fixture's heavy ≥100 tail lands in bucket
    11 and is ASSERTED by the oracle, not dropped). One map-side
    expression + one grouped aggregate over a single scan; the bin
    config is a literal so the whole thing stays in codegen. The
    oracle recomputes the bucket arithmetic from first principles —
    matching hashes certify Spark's width_bucket against the ANSI
    definition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.width_bucket(
                "value",
                F.lit(HIST_LO),
                F.lit(HIST_HI),
                F.lit(HIST_N),
            ).alias("bucket"),
            cents("value").alias("val_cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("sum_cents"),
        )
        .orderBy("event_type", "bucket")
    )


QSK_SEGMENTS = 8  # per-group segment count — the "per-day/per-file"
#                   unit whose sketches a warehouse retains and merges
QSK_INV_EPS = 100  # keep every (n div 100 + 1)-th sorted value: the
#                    per-segment rank error is ≤ n/100 + 1, INTEGER
#                    math on both build and verify sides


def _qsk_segment_sketch(pdf):
    """Per-(group, segment) quantile summary: sort, keep every s-th
    value (s = n div QSK_INV_EPS + 1) plus the max, each kept point
    weighted by the span of sorted values it closes. Cumulative weight
    at a point = the exact count of segment values ≤ it, so merged
    summaries answer rank queries within Σ_seg s_seg — the classic
    deterministic ε-spaced summary (mergeable by concatenation, no
    randomness, hard bound)."""
    import numpy as np
    import pandas as pd

    vals = np.sort(pdf["val"].to_numpy())
    n = len(vals)
    s = n // QSK_INV_EPS + 1
    idx = np.arange(s - 1, n, s)
    if len(idx) == 0 or idx[-1] != n - 1:
        idx = np.append(idx, n - 1)  # always close the segment at max
    w = np.diff(np.concatenate(([0], idx + 1)))  # spans; sum(w) == n
    return pd.DataFrame(
        {
            "g": pdf["g"].iloc[0],
            "seg": pdf["seg"].iloc[0],
            "val": vals[idx],
            "w": w,
        }
    )


def _qsk_rank_targets(n_col):
    """k for p50/p99 under discrete-quantile semantics: the
    (floor((n-1)·q) + 1)-th order statistic, pure integer math."""
    return (
        F.expr(f"({n_col}-1)*50 div 100 + 1"),
        F.expr(f"({n_col}-1)*99 div 100 + 1"),
    )


def q91_quantile_sketch_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE QUANTILE sketch — the fourth member of the sketch
    family (q81 HLL ≈ distinct, q88 bitmap = exact distinct, q89 CMS ≈
    frequency, this ≈ quantiles): per-segment fixed-size summaries
    whose union answers p50/p99 rollups WITHOUT re-scanning raw data —
    what a 100 TB deployment keeps beside its per-day aggregates for
    latency/price percentile dashboards. Spark's own percentile
    partials are not user-mergeable artifacts; this builds the
    retained-artifact form.

    Sketch = the deterministic ε-spaced rank sample: per (group,
    segment) sort and keep every (n div 100 + 1)-th value, weighted by
    its span (one Arrow-batched ``applyInPandas`` kernel — the ONLY
    Python stage, per-segment imperative sort/sample that DataFrame
    ops can't express). Everything downstream is JVM Catalyst over the
    ~points-sized table: merge = window cumsum over val order; the
    quantile estimate = min val whose cumulative weight reaches the
    rank target; the per-group AND all-groups rollups both query the
    same concatenated points (mergeability is the point — the global
    answer never touches raw rows again).

    The estimate is sketch-specific, so the exported contract is the
    q81 shape: per-group EXACT p50/p99 (discrete order statistics in
    integer cents — ANSI-SQL-derivable by the oracle) plus booleans
    that must hash TRUE: each estimate's exact rank interval
    [count(<est)+1, count(≤est)] intersects [k − slack, k + slack]
    where slack = Σ_seg (n_seg div 100 + 1) — the summary's hard
    deterministic envelope in pure integer math (ties handled by the
    interval form; no float tolerance anywhere). ``rollup_within_eps``
    asserts the same for the merged-across-groups sketch against
    global targets — the property the family exists for.

    Scale: segments shard the build shuffle (at 100 TB, seg = the
    ingest partition so sketches build near-map-side); each sketch is
    ≤ ~100 points regardless of segment size; merge/query cost is
    O(points), not O(rows). The exact-percentile certification runs
    the 100 TB exact-order-statistic pattern — sketch-bracketed
    two-pass refinement (see the inline comment) — and the rank-count
    verification is one conditional-aggregate scan; both exist only to
    CERTIFY the sketch in this contract — production retains the
    points table alone."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        cents("l_extendedprice").alias("val"),
        (F.col("l_orderkey") % QSK_SEGMENTS).alias("seg"),
    )
    points = v.groupBy("g", "seg").applyInPandas(
        _qsk_segment_sketch, "g string, seg bigint, val bigint, w bigint"
    )
    points = points.localCheckpoint()  # one build; merged + rollup reuse

    # hard slack envelope, integer math identical to the kernel's s
    slack_g = (
        v.groupBy("g", "seg")
        .agg(F.count(F.lit(1)).alias("n_seg"))
        .groupBy("g")
        .agg(
            F.sum(F.expr(f"n_seg div {QSK_INV_EPS} + 1")).alias("slack")
        )
    )

    def _query(pts, part_cols):
        wcum = (
            Window.partitionBy(*part_cols)
            .orderBy("val", "g", "seg")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        totals = pts.groupBy(*part_cols).agg(F.sum("w").alias("n_rows"))
        cw = pts.withColumn("cw", F.sum("w").over(wcum)).join(
            F.broadcast(totals), list(part_cols)
        )
        k50, k99 = _qsk_rank_targets("n_rows")
        return (
            cw.withColumn("k50", k50)
            .withColumn("k99", k99)
            .groupBy(*part_cols)
            .agg(
                F.first("n_rows").alias("n_rows"),
                F.first("k50").alias("k50"),
                F.first("k99").alias("k99"),
                F.min(
                    F.when(F.col("cw") >= F.col("k50"), F.col("val"))
                ).alias("p50_est"),
                F.min(
                    F.when(F.col("cw") >= F.col("k99"), F.col("val"))
                ).alias("p99_est"),
            )
        )

    est_g = _query(points, ("g",))
    est_all = _query(points.withColumn("gg", F.lit("ALL")), ("gg",))

    # exact discrete percentiles per group — CERTIFICATION path, and
    # the 100 TB pattern for exact order statistics: the SKETCH ITSELF
    # brackets the answer, then ONE targeted pass resolves it exactly
    # (r14 verdict #5: no full-group sort; a flat value histogram
    # would not do — the fixture measures ~198k distinct cents per
    # ~200k-row group, so its cumsum window is still group-sized).
    # From the merged points table, define CW(v) = total weight of
    # points with val ≤ v — computed as the per-VALUE max of the
    # running cumsum, NOT a per-point cw: in a cross-segment tie run a
    # point's own cw misses same-valued points merged after it, and a
    # bracket read off it can land ON x_k and exclude it (caught by
    # the off-Spark property test on the heavy-ties corpus). CW(v)
    # lower-bounds the true rank (every counted weight is values ≤ v)
    # and count(≤ v) ≤ CW(v) + slack − n_segs, so
    #   hi = min val with CW(v) >= k             ⇒ hi ≥ x_k
    #   lo = max val with CW(v) <= k - slack - 1 ⇒ lo < x_k
    # and the k-th order statistic x_k lies in (lo, hi]. The second
    # pass counts rows ≤ lo (exact below-rank) and builds the value
    # histogram of (lo, hi] ONLY — O(slack + tie spans) rows per
    # group — whose post-aggregate cumsum yields x_k = min val with
    # below + cum ≥ k. Every Window input here is points- or
    # bracket-sized, never rows (plan-asserted row_number-free in
    # test_plans).
    k50, k99 = _qsk_rank_targets("n_rows")
    w_pts = (
        Window.partitionBy("g")
        .orderBy("val", "seg")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pc = (
        points.withColumn("cw", F.sum("w").over(w_pts))
        # per-VALUE cumweight: collapse tie points to their last
        # (largest) running cw — see the bracket comment above
        .groupBy("g", "val")
        .agg(F.max("cw").alias("cw"))
        .join(F.broadcast(est_g.select("g", "n_rows")), "g")
        .join(F.broadcast(slack_g), "g")
        .withColumn("kk50", k50)
        .withColumn("kk99", k99)
    )
    _NO_LO = -(1 << 62)  # "no lower bracket point": every val is above

    def _bracket(k_col, tag):
        return [
            F.coalesce(
                F.max(
                    F.when(
                        F.col("cw")
                        <= F.col(k_col) - F.col("slack") - 1,
                        F.col("val"),
                    )
                ),
                F.lit(_NO_LO),
            ).alias(f"lo{tag}"),
            # the last point carries cw = n ≥ k, so hi always exists
            F.min(
                F.when(F.col("cw") >= F.col(k_col), F.col("val"))
            ).alias(f"hi{tag}"),
        ]

    brk = pc.groupBy("g").agg(
        *_bracket("kk50", "50"),
        *_bracket("kk99", "99"),
        F.first("kk50").alias("kk50"),
        F.first("kk99").alias("kk99"),
    )
    tv = v.join(F.broadcast(brk), "g")
    below = tv.groupBy("g").agg(
        F.sum(
            F.when(F.col("val") <= F.col("lo50"), 1).otherwise(0)
        ).alias("below50"),
        F.sum(
            F.when(F.col("val") <= F.col("lo99"), 1).otherwise(0)
        ).alias("below99"),
    )
    mid = (
        tv.select(
            "g",
            "val",
            (
                (F.col("val") > F.col("lo50"))
                & (F.col("val") <= F.col("hi50"))
            )
            .cast("long")
            .alias("in50"),
            (
                (F.col("val") > F.col("lo99"))
                & (F.col("val") <= F.col("hi99"))
            )
            .cast("long")
            .alias("in99"),
        )
        .filter((F.col("in50") == 1) | (F.col("in99") == 1))
        .groupBy("g", "val")
        .agg(F.sum("in50").alias("c50"), F.sum("in99").alias("c99"))
    )
    w_mid = (
        Window.partitionBy("g")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exact_g = (
        mid.withColumn("cum50", F.sum("c50").over(w_mid))
        .withColumn("cum99", F.sum("c99").over(w_mid))
        .join(F.broadcast(below), "g")
        .join(F.broadcast(brk.select("g", "kk50", "kk99")), "g")
        .groupBy("g")
        .agg(
            F.min(
                F.when(
                    F.col("below50") + F.col("cum50") >= F.col("kk50"),
                    F.col("val"),
                )
            ).alias("p50_exact_cents"),
            F.min(
                F.when(
                    F.col("below99") + F.col("cum99") >= F.col("kk99"),
                    F.col("val"),
                )
            ).alias("p99_exact_cents"),
        )
    )

    # exact rank intervals of the estimates: one conditional-agg scan
    one_all = F.broadcast(
        est_all.select(
            F.col("p50_est").alias("a50"),
            F.col("p99_est").alias("a99"),
        )
    )
    chk = (
        v.join(F.broadcast(est_g), "g")
        .crossJoin(one_all)
        .groupBy("g")
        .agg(
            *[
                F.sum(
                    F.when(cond, F.lit(1)).otherwise(F.lit(0))
                ).alias(alias)
                for alias, cond in (
                    ("le50", F.col("val") <= F.col("p50_est")),
                    ("lt50", F.col("val") < F.col("p50_est")),
                    ("le99", F.col("val") <= F.col("p99_est")),
                    ("lt99", F.col("val") < F.col("p99_est")),
                    ("ale50", F.col("val") <= F.col("a50")),
                    ("alt50", F.col("val") < F.col("a50")),
                    ("ale99", F.col("val") <= F.col("a99")),
                    ("alt99", F.col("val") < F.col("a99")),
                )
            ]
        )
    )

    def _within(le, lt, k, slack):
        # exact rank interval [lt+1, le] intersects [k-slack, k+slack]
        return (F.col(le) >= F.col(k) - slack) & (
            F.col(lt) + 1 <= F.col(k) + slack
        )

    slack_all = F.broadcast(
        slack_g.agg(F.sum("slack").alias("slack_total"))
    )
    glob = (
        chk.groupBy()
        .agg(
            F.sum("ale50").alias("ale50"),
            F.sum("alt50").alias("alt50"),
            F.sum("ale99").alias("ale99"),
            F.sum("alt99").alias("alt99"),
        )
        .crossJoin(slack_all)
        .crossJoin(
            F.broadcast(
                est_all.select(
                    F.col("k50").alias("gk50"), F.col("k99").alias("gk99")
                )
            )
        )
        .select(
            (
                _within("ale50", "alt50", "gk50", F.col("slack_total"))
                & _within("ale99", "alt99", "gk99", F.col("slack_total"))
            ).alias("rollup_within_eps")
        )
    )
    return (
        est_g.join(F.broadcast(exact_g), "g")
        .join(F.broadcast(chk.select("g", "le50", "lt50", "le99", "lt99")), "g")
        .join(F.broadcast(slack_g), "g")
        .crossJoin(F.broadcast(glob))
        .select(
            "g",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "p50_exact_cents",
            "p99_exact_cents",
            _within("le50", "lt50", "k50", F.col("slack")).alias(
                "p50_within_eps"
            ),
            _within("le99", "lt99", "k99", F.col("slack")).alias(
                "p99_within_eps"
            ),
            "rollup_within_eps",
        )
        .orderBy("g")
    )


CMS_EPS = 0.001  # over-count bound: est <= exact + eps*N w.p. >= conf
CMS_CONF = 0.99
CMS_SEED = 42  # fixed seed => deterministic sketch per dataset


def q89_count_min_frequency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COUNT-MIN SKETCH frequency estimation (``F.count_min_sketch``)
    — the third member of the mergeable-sketch family (q81 HLL ≈
    distinct, q88 bitmaps = exact distinct, CMS ≈ frequency): a
    fixed-size matrix of hashed counters whose partials merge by
    cellwise addition, so heavy-hitter frequency queries run over
    100 TB with bounded memory and ONE pass. The sketch is built
    DISTRIBUTED (partial sketches merge inside the aggregate); the
    1-row binary result is parsed driver-side by the pure-Python
    reader of Spark's public V1 serialization
    (``functions/pycms.py``, estimate-for-estimate cross-validated
    against the JVM class in pytest — no py4j JVM-handle dependency, so
    the probe also works under Spark Connect) and probed for each
    group key (bounded: |alphabet| probes).

    CMS guarantees est ≥ exact always, and est ≤ exact + ε·N with
    probability ≥ confidence; with a fixed seed the realized sketch
    is deterministic, so both bounds are exported as booleans that
    must hash TRUE (the q81 contract shape — the estimate itself is
    not portable arithmetic, the GUARANTEES are). The oracle is the
    exact per-group count."""
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.count_min_sketch(
            "event_type",
            F.lit(CMS_EPS),
            F.lit(CMS_CONF),
            F.lit(CMS_SEED),
        ).alias("cms")
    ).collect()[0]  # 1-row collect: the serialized sketch
    from pim_orc_spark.functions.pycms import CountMinSketchReader

    cms = CountMinSketchReader.from_bytes(bytes(row["cms"]))
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # |alphabet| rows
    }
    total = sum(exact.values())
    slack = int(CMS_EPS * total) + 1
    est = {
        et: cms.estimate_binary(et.encode("utf-8")) for et in exact
    }
    out = [
        (et, n, bool(est[et] >= n), bool(est[et] <= n + slack))
        for et, n in sorted(exact.items())
    ]
    return spark.createDataFrame(
        out,
        "event_type string, n_exact bigint, "
        "est_at_least_exact boolean, est_within_eps boolean",
    )


# int64 half-max: doubling it overflows, so try_multiply exercises its
# NULL path on exactly the groups the CASE doubles
_I64_HALF = 4_800_000_000_000_000_000


def q85_try_safe_arithmetic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ERROR-SAFE EXPRESSIONS (``try_*``, Spark 3.4+/4) — the ANSI-mode
    answer to "a single bad row must not kill a 100 TB job": each
    ``try_`` variant returns NULL where the strict form raises
    (DIVIDE_BY_ZERO, ARITHMETIC_OVERFLOW, CANNOT_PARSE_TIMESTAMP), so
    the error surfaces as an auditable NULL count instead of a dead
    stage at hour six. Each NULL path here fires BY CONSTRUCTION on a
    known group — the operator proves the non-error groups compute the
    strict value and the error groups degrade to NULL, both
    hash-checked:

    - ``try_divide``: the denominator is built to be 0 for exactly one
      order status;
    - ``try_multiply``: a half-of-int64-max literal is doubled only
      for that status → signed overflow;
    - ``try_to_timestamp``: a malformed literal is parsed only for
      that status.

    Scale: all three are row-local expressions inside one grouped
    aggregate over a single scan — whole-stage codegen, no extra
    shuffle vs the plain report. The oracle models each NULL with a
    CASE (DuckDB's strict forms would raise, exactly the point)."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("sum_cents"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", F.lit(0)).otherwise(
                F.lit(1)
            )
        ).alias("denom"),
    )
    return g.select(
        "o_orderstatus",
        "n_orders",
        F.try_divide(F.col("sum_cents"), F.col("denom")).alias(
            "cents_per_nonf"
        ),
        F.try_multiply(
            F.lit(_I64_HALF),
            F.when(F.col("o_orderstatus") == "F", F.lit(2)).otherwise(
                F.lit(1)
            ),
        ).alias("overflow_probe"),
        F.try_to_timestamp(
            F.when(
                F.col("o_orderstatus") == "F", F.lit("not-a-date")
            ).otherwise(F.lit("2024-01-02 03:04:05"))
        ).alias("parsed_ts"),
    ).orderBy("o_orderstatus")


PR_DAMP = 0.85
PR_ITERS = 3  # fixed => SQL-unrollable oracle
PR_ROUND = 9  # per-iteration dp rounding: both engines iterate on
#               IDENTICAL rank vectors, so summation-order ulps in the
#               per-node in-edge sums can never compound across steps


def q65_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted damped PageRank over the nation trade graph (edges:
    customer nation → supplier nation, weight = line count) — the
    iterative GRAPH family beyond connected components (dedup_clusters
    covers propagation-to-fixpoint; this covers fixed-point iteration
    with weights, damping, and dangling-mass redistribution).

    100 TB shape: one edge-materialization pass (4-table join with
    broadcast dimensions, grouped to the src×dst edge relation, then
    localCheckpoint — a production system materializes its graph once
    and iterates on it), then per iteration ONE edge⋈rank shuffle plus
    two metadata-sized side relations (the 1-row dangling-mass and
    node-count aggregates join via crossJoin broadcast). Rank state
    lives in a DataFrame keyed by node — never collected; iteration
    count fixed so the oracle unrolls to CTEs. Per-iteration rounding
    (PR_ROUND) keeps both engines bit-identical; the contribution
    expression (rank * w / out_w) is written in the same operation
    order on both sides."""
    # the resident shared-graph artifact (see _trade_edges_weighted):
    # materialized once per (application, table version), iterated on
    edges = _trade_edges_weighted(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))  # 1 row
    ranks = nodes.crossJoin(nn).select(
        "node", F.round(F.lit(1.0) / F.col("n"), PR_ROUND).alias("rank")
    )
    for _ in range(PR_ITERS):
        # dangling mass: rank held by nodes with no outgoing edges,
        # redistributed uniformly (1 row)
        dm = ranks.join(
            outw, ranks.node == outw.src, "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.col("rank") * F.col("w") / F.col("out_w")
                ).alias("contrib")
            )
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(dm))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.round(
                    F.lit(1.0 - PR_DAMP) / F.col("n")
                    + F.lit(PR_DAMP)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / F.col("n")
                    ),
                    PR_ROUND,
                ).alias("rank"),
            )
            # materialize the node-count-sized rank state each
            # iteration: dm and contrib BOTH reference the previous
            # ranks, so an unmaterialized lineage fans out ~3× per
            # iteration (the same recursion the k-means centroid
            # update hits — see _km_assignments). Rank state is one
            # row per node by construction, exactly what a production
            # PageRank persists between iterations. (r16 note: lazy
            # checkpointing and/or coalescing the ≤25-row state to one
            # partition were A/B-measured four ways at sf0.1 —
            # 1.24-1.31 s mins, all within host noise — so the eager
            # per-iteration checkpoint stays; the slot's cost is
            # per-iteration scheduling floor, not a removable shuffle.)
            .localCheckpoint()
        )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        ranks.join(
            F.broadcast(nation), ranks.node == nation.n_nationkey
        )
        .select("n_name", "rank")
        .orderBy("n_name")
    )


def _pagerank_sql() -> str:
    """Unrolled-CTE mirror of q65_nation_pagerank (same rounding, same
    expression order — see its docstring)."""

    def dang(prev: str, out: str) -> str:
        return f"""
dang_{out} AS (
  SELECT COALESCE(SUM(r.rank), 0) AS dm
  FROM {prev} r ANTI JOIN outw ow ON ow.src = r.node
),
"""

    def step(prev: str, out: str) -> str:
        return f"""
{out} AS (
  SELECT n.node,
         round(CAST({1.0 - PR_DAMP!r} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({PR_DAMP!r} AS DOUBLE) * (COALESCE(c.contrib, 0)
                        + (SELECT dm FROM dang_{out})
                          / (SELECT n FROM nn)), {PR_ROUND}) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * e.w / ow.out_w) AS contrib
    FROM edges e
    JOIN {prev} r ON r.node = e.src
    JOIN outw ow ON ow.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
),
"""

    iters, prev = "", "r0"
    for i in range(1, PR_ITERS + 1):
        iters += dang(prev, f"r{i}") + step(prev, f"r{i}")
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
r0 AS (SELECT node,
              round(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), {PR_ROUND})
              AS rank
       FROM nodes),
{iters}
sink AS (SELECT 1)
SELECT nat.n_name, r.rank
FROM {prev} r JOIN nation nat ON nat.n_nationkey = r.node
ORDER BY n_name
"""


def q67_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF — the lakehouse ``table_changes`` shape: compare
    two versions of a table by key and report what changed, per
    column. v1 = the base customer table; v2 = the CDC-merged snapshot
    (the identical deterministic change feed q44 applies, via the
    shared _cdc_merged), so the expected diff is exactly the change
    batch and the operator proves it from the DATA, not the feed.

    Plan: ONE full-outer join on the key + ONE aggregate pass with
    conditional counters, unpivoted via stack() — at 100 TB that is a
    single key shuffle over both snapshots, with null-safe per-column
    comparison (eqNullSafe / IS DISTINCT FROM) so NULL→value edits
    count as changes in both engines."""
    v1 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    v2 = _cdc_merged(spark, sf_dir).select(
        F.col("custkey").alias("key2"),
        F.col("segment").alias("segment2"),
        F.col("acctbal").alias("acctbal2"),
    )
    j = v1.join(v2, F.col("key") == F.col("key2"), "full_outer")
    both = F.col("key").isNotNull() & F.col("key2").isNotNull()
    seg_diff = ~F.col("segment").eqNullSafe(F.col("segment2"))
    bal_diff = ~F.col("acctbal").eqNullSafe(F.col("acctbal2"))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    agg = j.agg(
        cnt(F.col("key").isNull()).alias("n_added"),
        cnt(F.col("key2").isNull()).alias("n_removed"),
        cnt(both & (seg_diff | bal_diff)).alias("n_changed"),
        cnt(both & ~seg_diff & ~bal_diff).alias("n_unchanged"),
        cnt(both & bal_diff).alias("acctbal_changed"),
        cnt(both & seg_diff).alias("segment_changed"),
    )
    return agg.select(
        F.expr(
            "stack(6, "
            "'n_added', n_added, "
            "'n_removed', n_removed, "
            "'n_changed', n_changed, "
            "'n_unchanged', n_unchanged, "
            "'acctbal_changed', acctbal_changed, "
            "'segment_changed', segment_changed) AS (metric, n)"
        )
    ).orderBy("metric")


def q66_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality CONSTRAINT SUITE (the Deequ/dbt-test
    shape): a set of named assertions evaluated together, each emitting
    (check_name, observed violation count, passed). Complements the
    ops layer's descriptive diagnostics (q51 profile, q52 referential
    audit, q53 skew) with the assertion form a pipeline GATES on.

    One-pass design: the four row-local checks (completeness, bounds,
    domain, sign) fuse into a SINGLE aggregate scan and unpivot via
    stack(); only the two checks that inherently need another plan pay
    for one — primary-key uniqueness (one groupBy) and referential
    integrity (one LEFT ANTI join). At 100 TB that is one full scan +
    two key-only shuffles for six constraints, not six scans. NULL
    semantics are explicit: a NULL comparison is not a violation (both
    engines' CASE/when agree)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.agg(
        F.sum(
            F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
        ).alias("c_null"),
        F.sum(
            F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0)
        ).alias("c_qty"),
        F.sum(
            F.when(
                ~F.col("l_returnflag").isin("A", "N", "R"), 1
            ).otherwise(0)
        ).alias("c_flag"),
        F.sum(
            F.when(F.col("l_extendedprice") < 0, 1).otherwise(0)
        ).alias("c_neg"),
    )
    row_checks = base.select(
        F.expr(
            "stack(4, "
            "'completeness_l_orderkey', c_null, "
            "'bounds_quantity_1_50', c_qty, "
            "'domain_returnflag', c_flag, "
            "'nonneg_extendedprice', c_neg) AS (check_name, observed)"
        )
    )
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(F.lit("unique_pk").alias("check_name"), "observed")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    orph = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(
            F.lit("ref_lineitem_orders").alias("check_name"), "observed"
        )
    )
    return (
        row_checks.unionByName(dup)
        .unionByName(orph)
        .withColumn(
            "passed", (F.col("observed") == 0).cast("int")
        )
        .orderBy("check_name")
    )


_Q66_SQL = """
WITH base AS (SELECT
  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS c_null,
  CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END)
    AS BIGINT) AS c_qty,
  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
    AS BIGINT) AS c_flag,
  CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS c_neg
 FROM lineitem),
dup AS (SELECT COUNT(*) AS c FROM
        (SELECT 1 FROM lineitem
         GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
orph AS (SELECT COUNT(*) AS c FROM lineitem l
         ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT check_name, observed,
       CAST(CASE WHEN observed = 0 THEN 1 ELSE 0 END AS INTEGER) AS passed
FROM (
 SELECT 'completeness_l_orderkey' AS check_name, c_null AS observed FROM base
 UNION ALL SELECT 'bounds_quantity_1_50', c_qty FROM base
 UNION ALL SELECT 'domain_returnflag', c_flag FROM base
 UNION ALL SELECT 'nonneg_extendedprice', c_neg FROM base
 UNION ALL SELECT 'unique_pk', c FROM dup
 UNION ALL SELECT 'ref_lineitem_orders', c FROM orph
) ORDER BY check_name
"""


def q68_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 HISTORY BUILD — collapse each user's event-type
    observation stream into versioned dimension rows with
    ``valid_from`` / ``valid_to`` / ``is_current`` (the
    slowly-changing-dimension shape every warehouse load job needs;
    the reference has no temporal versioning — this extends its
    event-scan surface, reader.cc:50-63, with the classic
    gaps-and-islands rewrite).

    Plan: ONE user_id shuffle does everything. Run boundaries come
    from ``lag`` (a change = previous observation IS DISTINCT FROM
    the current one), the run index from a running SUM over the same
    window, the per-run collapse from a groupBy on (user, version) —
    same partitioning, no second exchange — and ``valid_to`` from
    ``lead`` over the per-user version sequence (again the same
    partitioning). Every window is partitioned by user_id, so no task
    ever materializes more than one user's history: the 100 TB cost
    is one key shuffle of the observation stream, which is the
    information-theoretic floor for per-entity versioning."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("int")
    runs = e.withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),  # constant within a run
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(w2)
    return g.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
        "n_obs",
    )


_Q68_SQL = """
WITH obs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS version
  FROM obs
),
g AS (
  SELECT user_id, version, MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, COUNT(*) AS n_obs
  FROM runs GROUP BY user_id, version
)
SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
       valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL
                 THEN 1 ELSE 0 END AS INTEGER) AS is_current,
       n_obs
FROM g
WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
"""


BFS_MAX_HOPS = 4  # fixed traversal depth => deterministic plan AND a
#                   bounded recursive-CTE oracle
BFS_SOURCE = 0  # start nation


def bfs_min_hops(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    max_hops: int,
) -> DataFrame:
    """Level-synchronous BFS kernel: minimum hop counts from
    ``source`` over directed ``edges`` (columns ``src``, ``dst``),
    bounded at ``max_hops`` levels → (node, hops) for every node
    reached. Per level: one edges⋈frontier key shuffle, a distinct on
    discoveries, a LEFT ANTI against the visited relation (level order
    ⇒ first discovery IS the minimum hop count), and a localCheckpoint
    of the visited state (the per-level iteration state — one row per
    reached node). Cycles and self-loops terminate naturally (their
    rediscoveries anti-join away); an empty frontier makes remaining
    levels no-ops.

    The LAZINESS CONTRACT matches `_salted_band_candidates`: per-level
    localCheckpoints are EAGER actions at plan-build time, so hand in
    a materialized (checkpointed/cached) edge relation — an expensive
    unmaterialized lineage would re-run once per level."""
    visited = spark.createDataFrame(
        [(source, 0)], "node: long, hops: int"
    )
    frontier = visited.select("node")
    for depth in range(1, max_hops + 1):
        discovered = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(depth))
        )
        visited = visited.unionByName(discovered).localCheckpoint()
        # derive the next frontier from the CHECKPOINTED state, not
        # from `discovered`'s raw plan — the latter chains back
        # through every prior level's join/distinct/anti-join, so the
        # level-d checkpoint would re-execute levels 1..d-1 (O(h²)
        # joins total) instead of the one-shuffle-per-level contract
        frontier = visited.filter(F.col("hops") == depth).select("node")
    return visited


def _trade_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEIGHTED directed nation trade graph (customer nation →
    supplier nation, weight = line count) shared by every graph
    operator (q65 PageRank, q69 BFS, q73 triangles): materialized
    ONCE from the 4-table join — lineitem⋈orders carries the two fact
    keys, both dimension paths broadcast — grouped to the |V|²-bounded
    (src, dst, w) relation, localCheckpoint'ed, and held as a RESIDENT
    ARTIFACT per (application, table version): a production deployment
    maintains its graph as a persistent structure and iterates on it;
    rebuilding the fact join per query was the anomaly (the same
    argument as the MinHash signature index and IVF/PQ quantizers).
    The probe touches the checkpoint so an executor loss evicts and
    rebuilds instead of failing every later consumer."""
    from pim_orc_spark.artifacts import cached_artifact

    def _build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        s = load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(
                F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
            )
            .join(
                F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
            )
            .groupBy(
                F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
            .localCheckpoint()
        )

    def _probe(df: DataFrame) -> bool:
        # FULL touch (count, not isEmpty): isEmpty short-circuits on
        # the first non-empty partition, so lost checkpoint blocks in
        # later partitions would pass and poison every consumer. The
        # edge relation is |V|²-bounded — a full count per cache hit
        # is metadata-priced, unlike the corpus-sized minhash index
        # where the single-partition touch is the documented trade.
        df.count()
        return True

    return cached_artifact(
        "trade_edges_w", spark, sf_dir, _build, probe=_probe
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted view of the shared trade graph: the weighted
    artifact's groupBy keys are already distinct (src, dst) pairs, so
    this is a narrow projection of the resident checkpoint — no
    second fact pass, no distinct."""
    return _trade_edges_weighted(spark, sf_dir).select("src", "dst")


def triangle_counts(und: DataFrame) -> DataFrame:
    """Degree-oriented triangle-membership kernel: ``und`` is an
    UNDIRECTED simple graph as canonical edges (columns ``a`` < ``b``,
    distinct, no self-loops); returns (node, cnt) — the number of
    triangles each participating node belongs to (nodes in no triangle
    are absent; callers zero-fill against their vertex dimension).

    Orient each edge from its lower-(degree, id) endpoint to the
    higher, self-join oriented edges on the tail to enumerate wedges
    (heads rank-ordered so each unordered head pair appears once),
    and close each wedge against the oriented edge between its heads:
    every triangle is found exactly once, at its minimum-rank vertex.
    Wedge fan-out is bounded by oriented OUT-degree — O(m^1.5) total
    (Suri & Vassilvitskii, WWW'11) — so hubs receive edges instead of
    emitting wedges; the plan is one |E| degree aggregate plus two key
    shuffles (tail u, then head pair (v,w)). Each half is one SQL
    statement, so the build pays a few Py4J round trips instead of
    several per Column operator."""
    spark = und.sparkSession
    # orient low-(degree, id) → high-(degree, id); carry the head's
    # degree so the wedge join can rank-order heads without re-joining
    oriented = spark.sql(
        """
        WITH deg AS (
          SELECT v, count(1) AS d
          FROM (SELECT explode(array(a, b)) AS v FROM {und})
          GROUP BY v
        ), e AS (
          SELECT e.a, e.b, da.d AS da, db.d AS db,
                 da.d < db.d OR (da.d = db.d AND e.a < e.b) AS a_first
          FROM {und} e
          JOIN deg da ON e.a = da.v
          JOIN deg db ON e.b = db.v
        )
        SELECT IF(a_first, a, b) AS u, IF(a_first, b, a) AS w,
               IF(a_first, db, da) AS dw
        FROM e
        """,
        und=und,
    ).localCheckpoint()
    # wedge (u→v, u→w) with rank(v) < rank(w): x.w is v, y.w is w;
    # the closing edge c is v→w
    return spark.sql(
        """
        SELECT node, count(1) AS cnt
        FROM (
          SELECT explode(array(x.u, x.w, y.w)) AS node
          FROM {o} x
          JOIN {o} y
            ON x.u = y.u
           AND (x.dw < y.dw OR (x.dw = y.dw AND x.w < y.w))
          JOIN {o} c ON c.u = x.w AND c.w = y.w
        )
        GROUP BY node
        """,
        o=oriented,
    )


def q73_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING — per-node triangle membership over the
    undirected nation trade graph: the graph-analytics primitive
    behind clustering coefficients and community density, and a graph
    shape (3-cycle closure) neither BFS (q69) nor PageRank (q65)
    exercises.

    The algorithm is the DEGREE-ORIENTED node-iterator every
    distributed triangle counter uses (cf. Suri & Vassilvitskii,
    WWW'11): orient each undirected edge from its lower-(degree, id)
    endpoint to the higher; enumerate wedges (u→v, u→w) with
    rank(v) < rank(w) by self-joining oriented edges on u; a wedge is
    a triangle iff the oriented edge v→w exists. Orientation makes
    each triangle appear EXACTLY once (at its minimum-rank vertex),
    and bounds per-vertex wedge fan-out by oriented out-degree — at
    100 TB the wedge count is O(m^1.5) instead of Σdeg² (the hub that
    dominates an unoriented wedge join generates NO wedges because
    high-degree endpoints receive edges rather than emit them).

    Plan: degrees are one |E|-sized aggregate; the wedge self-join and
    the closing join are TWO key shuffles (on u, then on the (v,w)
    pair); membership explodes each found triangle to its 3 vertices
    and aggregates — all relations |E|- or wedge-bounded, never |V|²;
    a left join from the nation dimension zero-fills the output.
    Oracle: the orientation-free canonical a<b<c 3-way
    self-join (the result is orientation-independent). The
    enumeration itself is the public ``triangle_counts`` kernel
    (property-tested against brute force on random graphs)."""
    und = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    counts = triangle_counts(und)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        nation.join(counts, nation.n_nationkey == counts.node, "left")
        .select(
            F.col("n_nationkey").alias("nationkey"),
            "n_name",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


_Q73_SQL = """
WITH e AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
), und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), members AS (
  SELECT unnest([x, y, z]) AS node FROM tri
)
SELECT n.n_nationkey AS nationkey, n.n_name,
       CAST(coalesce(m.cnt, 0) AS BIGINT) AS n_triangles
FROM nation n
LEFT JOIN (SELECT node, COUNT(*) AS cnt FROM members GROUP BY node) m
  ON m.node = n.n_nationkey
"""


def q69_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE / HIERARCHICAL QUERY surface — BFS reachability with
    minimum hop counts over the directed nation trade graph (customer
    nation → supplier nation), the query class SQL expresses as WITH
    RECURSIVE (org charts, bill-of-materials explosions, transitive
    closure) and the one family TPC-H never exercises. Spark has no
    recursive CTE, so the traversal is the level-synchronous BFS every
    distributed graph engine runs: per level, ONE edges⋈frontier
    shuffle produces candidate nodes, a LEFT ANTI against the visited
    set keeps only first-time discoveries (level order ⇒ the first
    level that reaches a node IS its minimum hop count), and the
    visited relation localCheckpoints (it is the iteration state, one
    row per reached node — metadata-sized relative to the edge set).

    100 TB shape: the edge relation is materialized ONCE from the
    4-table join (same discipline as q65's PageRank) and each level
    pays one edge⋈frontier key shuffle — the BSP floor for BFS. Depth
    is fixed at BFS_MAX_HOPS so the oracle's recursion is bounded;
    an empty frontier makes remaining levels no-ops, not errors.

    Oracle: DuckDB's native WITH RECURSIVE computes min-hops over the
    identical edge CTE — the cross-engine check that the iterative
    DataFrame plan implements exactly the declarative recursion. The
    traversal itself is the public ``bfs_min_hops`` kernel
    (property-tested on random graphs: cycles, self-loops,
    unreachable nodes)."""
    edges = _trade_edges(spark, sf_dir)
    visited = bfs_min_hops(spark, edges, BFS_SOURCE, BFS_MAX_HOPS)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        visited.join(
            F.broadcast(nation), visited.node == nation.n_nationkey
        )
        .select(
            F.col("node").alias("nationkey"),
            "n_name",
            F.col("hops").cast("long").alias("hops"),
        )
        .orderBy("hops", "nationkey")
    )


_Q69_SQL = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
bfs(node, hops) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT), 0
  UNION ALL
  SELECT e.dst, bfs.hops + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.hops < {BFS_MAX_HOPS}
),
dist AS (
  SELECT node, MIN(hops) AS hops FROM bfs GROUP BY node
)
SELECT d.node AS nationkey, n.n_name,
       CAST(d.hops AS BIGINT) AS hops
FROM dist d JOIN nation n ON n.n_nationkey = d.node
ORDER BY hops, nationkey
"""


def q70_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION window functions — percent_rank, cume_dist, and
    ntile over one window spec: the relative-standing analytics
    (account-balance percentile within nation) that close the §2.5
    window family alongside ranking (q12/q31), offset (q30/q68), and
    running frames (q13/text_pack). The ORDER BY carries c_custkey as
    a tiebreak so equal balances rank deterministically in BOTH
    engines; all three functions then ride the SAME sort — one
    nationkey shuffle, one sort, three window columns, no second
    exchange."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


_Q70_SQL = """
SELECT c_custkey, c_nationkey,
       round(percent_rank() OVER w, 9) AS pct_rank,
       round(cume_dist() OVER w, 9) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def q71_rolling_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the last §2.5 frame class (ROWS
    frames: q13/text_pack running sums; unbounded: q12; this is the
    VALUE-bounded frame): per event, the count and exact cents-sum of
    the SAME USER's events in the trailing hour, i.e.
    ``RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW`` over integer
    epoch seconds. The rolling-rate primitive behind abuse detection
    and per-user rate limiting at ingest.

    Cross-engine determinism: the ORDER key is integer epoch SECONDS
    in both engines — Spark ``cast(ts as long)`` is floorDiv(µs, 1e6),
    and the oracle FLOORS explicitly (``floor(epoch_us/1e6)``; DuckDB's
    ``//`` truncates toward zero, which would disagree for pre-1970
    timestamps — review fix). Frame membership is value-based and tie
    rows are peers in both; the summed metric is the repo's
    integer-cents contract (``cents``), immune to float summation
    order. The µs→double quotient is exact enough for the floor:
    epoch_us ≲ 9·10^15 is exactly representable and the quotient's
    nearest-double error (~2e-7 at 1e9) cannot cross an integer
    boundary a true remainder of ≥ 1 µs (1e-6) sits away from.

    Scale shape: ONE user_id shuffle + one sort carries both window
    columns; the range frame is evaluated by Spark's sliding frame
    cursor (amortized O(1) per row, state = the in-frame slice), no
    self-join — the naive formulation is an O(n·w) range self-join at
    100 TB. Skewed users degrade a partition, not the plan (the frame
    cursor is sequential either way)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("epoch_s"),
        cents("value").alias("val_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3599, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("val_cents").over(w).alias("val_1h_cents"),
    )


_Q71_SQL = """
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS epoch_s,
         CAST(round(value * 100) AS BIGINT) AS val_cents
  FROM events
)
SELECT event_id, user_id, epoch_s,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(val_cents) OVER w AS BIGINT) AS val_1h_cents
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
"""


def q72_locf_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE-NULLS window navigation — LOCF (last observation carried
    forward) and LINEAR INTERPOLATION across the gaps of the hourly
    series, the hypertable gap-handling pair (TimescaleDB ``locf()`` /
    ``interpolate()``) that q45's zero-fill doesn't express: a missing
    hour's value is carried from the last observed hour (plus a
    staleness age), and interpolated between its observed neighbours.

    Window capability exercised: ``last(col, ignorenulls=True)`` over
    the unbounded-preceding frame and ``first(col, ignorenulls=True)``
    over the unbounded-following frame — navigation that skips the
    NULL grid rows, a different evaluator path from every frame the
    suite already covers (plain running frames never skip).

    Cross-engine exactness: observations are integer cents; the
    interpolation fraction divides two exact-in-double integers, so
    ``floor(prev + (next − prev) × frac)`` is bit-identical in both
    engines (IEEE ops on identical operands); staleness divides two
    multiples of 3600. NULL outside the observation envelope (before
    the first / after the last observation), exactly the
    ``interpolate()`` contract.

    Scale shape: ONE corpus pass (the hourly aggregate, map-side
    partial, |hours|×|types| result, localCheckpoint'ed — q45's review
    discipline); everything after runs on the bounded grid: one
    event_type shuffle carries BOTH navigation frames (forward and
    backward) over the same sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        cents("value").alias("val_cents"),
    )
    obs = (
        ev.groupBy("h", "event_type")
        .agg(
            F.sum("val_cents").alias("obs_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumnRenamed("event_type", "et")
        .localCheckpoint()
    )
    bounds = obs.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    calendar = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias(
            "hour_start"
        )
    )
    types = obs.select(F.col("et").alias("event_type")).distinct()
    grid = (
        calendar.crossJoin(types)
        .join(
            obs,
            (F.col("h") == F.col("hour_start"))
            & (F.col("et") == F.col("event_type")),
            "left",
        )
        .select(
            "hour_start",
            "event_type",
            F.col("hour_start").cast("long").alias("hs"),
            "obs_cents",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hs")
    wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_h = F.when(F.col("obs_cents").isNotNull(), F.col("hs"))
    nav = grid.select(
        "hour_start",
        "event_type",
        "hs",
        "obs_cents",
        "n_events",
        F.last("obs_cents", ignorenulls=True).over(wp).alias("prev_c"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("prev_h"),
        F.first("obs_cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(obs_h, ignorenulls=True).over(wf).alias("next_h"),
    )
    frac = (F.col("hs") - F.col("prev_h")) / (
        F.col("next_h") - F.col("prev_h")
    )
    interp = (
        F.when(
            F.col("prev_h").isNull() | F.col("next_h").isNull(),
            F.lit(None),
        )
        .when(F.col("next_h") == F.col("prev_h"), F.col("prev_c"))
        .otherwise(
            F.floor(
                F.col("prev_c")
                + (F.col("next_c") - F.col("prev_c")) * frac
            )
        )
    )
    return nav.select(
        "hour_start",
        "event_type",
        "n_events",
        F.col("prev_c").cast("long").alias("locf_cents"),
        F.expr("(hs - prev_h) div 3600").cast("long").alias("staleness_h"),
        interp.cast("long").alias("interp_cents"),
    )


_Q72_SQL = """
WITH obs AS (
  SELECT date_trunc('hour', ts) AS h, event_type AS et,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS obs_cents,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(h) AS lo, MAX(h) AS hi FROM obs
), cal AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
  FROM bounds
), types AS (
  SELECT DISTINCT et AS event_type FROM obs
), grid AS (
  SELECT c.hour_start, t.event_type,
         CAST(floor(epoch_us(c.hour_start) / 1000000.0) AS BIGINT)
           AS hs,
         obs_cents,
         CAST(coalesce(n, 0) AS BIGINT) AS n_events
  FROM cal c CROSS JOIN types t
  LEFT JOIN obs ON obs.h = c.hour_start AND obs.et = t.event_type
), nav AS (
  SELECT hour_start, event_type, hs, obs_cents, n_events,
    last_value(obs_cents IGNORE NULLS) OVER wp AS prev_c,
    last_value(CASE WHEN obs_cents IS NOT NULL THEN hs END IGNORE NULLS)
      OVER wp AS prev_h,
    first_value(obs_cents IGNORE NULLS) OVER wf AS next_c,
    first_value(CASE WHEN obs_cents IS NOT NULL THEN hs END IGNORE NULLS)
      OVER wf AS next_h
  FROM grid
  WINDOW wp AS (PARTITION BY event_type ORDER BY hs
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY hs
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT hour_start, event_type, n_events,
       CAST(prev_c AS BIGINT) AS locf_cents,
       CAST((hs - prev_h) // 3600 AS BIGINT) AS staleness_h,
       CAST(CASE
              WHEN prev_h IS NULL OR next_h IS NULL THEN NULL
              WHEN next_h = prev_h THEN prev_c
              ELSE floor(prev_c + (next_c - prev_c)
                         * (CAST(hs - prev_h AS DOUBLE)
                            / (next_h - prev_h)))
            END AS BIGINT) AS interp_cents
FROM nav
"""


QUERIES = {
    "q01_flagship_sum": q01_flagship_sum,
    "q69_trade_reach": q69_trade_reach,
    "q70_window_distribution": q70_window_distribution,
    "q71_rolling_window_1h": q71_rolling_window_1h,
    "q72_locf_interpolate": q72_locf_interpolate,
    "q73_triangle_count": q73_triangle_count,
    "q74_grouping_sets_front_door": q74_grouping_sets_front_door,
    "q75_observed_metrics": q75_observed_metrics,
    "q76_cbo_join_reorder": q76_cbo_join_reorder,
    "q77_recursive_cte_front_door": q77_recursive_cte_front_door,
    "q78_variant_shred": q78_variant_shred,
    "q79_sql_udf_front_door": q79_sql_udf_front_door,
    "q80_sql_variables_front_door": q80_sql_variables_front_door,
    "q81_hll_mergeable_distinct": q81_hll_mergeable_distinct,
    "q82_unpivot_long_form": q82_unpivot_long_form,
    "q83_transpose_report": q83_transpose_report,
    "q84_listagg_within_group": q84_listagg_within_group,
    "q85_try_safe_arithmetic": q85_try_safe_arithmetic,
    "q86_parameterized_identifier": q86_parameterized_identifier,
    "q87_lateral_topk_per_group": q87_lateral_topk_per_group,
    "q88_bitmap_distinct_rollup": q88_bitmap_distinct_rollup,
    "q89_count_min_frequency": q89_count_min_frequency,
    "q90_width_bucket_histogram": q90_width_bucket_histogram,
    "q91_quantile_sketch_rollup": q91_quantile_sketch_rollup,
    "q68_scd2_history": q68_scd2_history,
    "q36_tpch_q18_large_orders": q36_tpch_q18_large_orders,
    "q51_numeric_profile": q51_numeric_profile,
    "q52_referential_audit": q52_referential_audit,
    "q53_key_skew_report": q53_key_skew_report,
    "q54_tpch_q7_nation_volume": q54_tpch_q7_nation_volume,
    "q55_tpch_q8_market_share": q55_tpch_q8_market_share,
    "q56_tpch_q9_product_profit": q56_tpch_q9_product_profit,
    "q57_tpch_q2_min_cost_supplier": q57_tpch_q2_min_cost_supplier,
    "q58_tpch_q11_important_parts": q58_tpch_q11_important_parts,
    "q59_tpch_q16_supplier_count": q59_tpch_q16_supplier_count,
    "q60_tpch_q20_excess_suppliers": q60_tpch_q20_excess_suppliers,
    "q61_tpch_q21_waiting_supplier": q61_tpch_q21_waiting_supplier,
    "q62_tpch_q22_dormant_customers": q62_tpch_q22_dormant_customers,
    "q63_tpch_q21_sql_front_door": q63_tpch_q21_sql_front_door,
    "q64_incremental_mv_maintenance": q64_incremental_mv_maintenance,
    "q65_nation_pagerank": q65_nation_pagerank,
    "q66_constraint_suite": q66_constraint_suite,
    "q67_snapshot_diff": q67_snapshot_diff,
    "q49_tpch_q17_small_quantity": q49_tpch_q17_small_quantity,
    "q50_tpch_q15_top_supplier": q50_tpch_q15_top_supplier,
    "q43_event_funnel": q43_event_funnel,
    "q44_merge_upsert_cdc": q44_merge_upsert_cdc,
    "q45_gapfill_timeseries": q45_gapfill_timeseries,
    "q46_tpch_q6_forecast_revenue": q46_tpch_q6_forecast_revenue,
    "q47_tpch_q13_order_distribution": q47_tpch_q13_order_distribution,
    "q48_tpch_q19_disjunctive_revenue": q48_tpch_q19_disjunctive_revenue,
    "q40_tpch_q4_order_priority": q40_tpch_q4_order_priority,
    "q41_tpch_q12_late_lines_by_status": q41_tpch_q12_late_lines_by_status,
    "q42_tpch_q14_promo_revenue": q42_tpch_q14_promo_revenue,
    "q37_tpch_q10_returned_items": q37_tpch_q10_returned_items,
    "q39_skew_salted_join": q39_skew_salted_join,
    "q33_outer_joins": q33_outer_joins,
    "q34_sql_scalar_subquery": q34_sql_scalar_subquery,
    "q35_map_functions": q35_map_functions,
    "q28_bag_set_ops": q28_bag_set_ops,
    "q29_array_functions": q29_array_functions,
    "q30_lag_lead_ntile": q30_lag_lead_ntile,
    "q31_tpch_q3_shipping_priority": q31_tpch_q3_shipping_priority,
    "q32_tpch_q5_local_supplier": q32_tpch_q5_local_supplier,
    "q02_null_skip_sum": q02_null_skip_sum,
    "q03_pushdown_range_filter": q03_pushdown_range_filter,
    "q04_pricing_summary": q04_pricing_summary,
    "q05_metadata_count": q05_metadata_count,
    "q06_projection_pruning": q06_projection_pruning,
    "q07_broadcast_star_join": q07_broadcast_star_join,
    "q08_fact_join_agg": q08_fact_join_agg,
    "q09_semi_anti_join": q09_semi_anti_join,
    "q10_topk": q10_topk,
    "q11_set_ops": q11_set_ops,
    "q12_window_latest_order": q12_window_latest_order,
    "q13_window_running_sum": q13_window_running_sum,
    "q14_rollup": q14_rollup,
    "q15_distinct_agg": q15_distinct_agg,
    "q16_scalar_functions": q16_scalar_functions,
    "q17_date_buckets": q17_date_buckets,
    "q18_sessionization": q18_sessionization,
    "q19_json_extract": q19_json_extract,
    "q20_cube": q20_cube,
    "q21_correlated_exists": q21_correlated_exists,
    "q22_asof_join": q22_asof_join,
    "q23_range_join": q23_range_join,
    "q24_approx_distinct": q24_approx_distinct,
    "q25_percentiles": q25_percentiles,
    "q26_pivot": q26_pivot,
    "q27_rollup_cascade": q27_rollup_cascade,
}


ORACLES = {
    "q68_scd2_history": _Q68_SQL,
    "q69_trade_reach": _Q69_SQL,
    "q70_window_distribution": _Q70_SQL,
    "q71_rolling_window_1h": _Q71_SQL,
    "q72_locf_interpolate": _Q72_SQL,
    "q73_triangle_count": _Q73_SQL,
    "q74_grouping_sets_front_door": _Q74_SQL,
    "q75_observed_metrics": _Q75_SQL,
    "q76_cbo_join_reorder": _Q76_SQL,
    "q77_recursive_cte_front_door": _Q69_SQL,
    "q78_variant_shred": _Q78_SQL,
    "q79_sql_udf_front_door": f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {exact_revenue_sql()}
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    # the sketch estimate is engine-specific; the cross-engine contract
    # is the exact counts plus the accuracy/mergeability booleans,
    # which must come out TRUE — a sketch regression flips one and
    # fails the driver's value hash
    "q81_hll_mergeable_distinct": """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_exact,
           TRUE AS est_within_tol,
           TRUE AS union_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    # dialect-portable long form: UNION ALL of one select per measure
    # (DuckDB's UNPIVOT clause exists but the union is unambiguous);
    # Spark's unpivot does this in ONE scan via Expand
    "q82_unpivot_long_form": f"""
    WITH w AS (
      SELECT l_returnflag,
             {exact_sum_sql('l_quantity', 'sum_qty')},
             {exact_sum_sql('l_extendedprice', 'sum_price')},
             {exact_sum_sql('l_discount', 'sum_disc')}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM w
    ORDER BY l_returnflag, measure
    """,
    # conditional aggregation builds the transposed sheet column by
    # column; the event_type alphabet is the fixture's fixed 5-value
    # set (TESTDATA.md), the same bound that makes transpose defined
    "q83_transpose_report": f"""
    WITH w AS (
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM({cents_sql('value')}) AS BIGINT) AS sum_cents
      FROM events GROUP BY event_type
    )
    SELECT 'n_events' AS key,
           CAST(MAX(CASE WHEN event_type = 'click' THEN n_events END) AS BIGINT) AS click,
           CAST(MAX(CASE WHEN event_type = 'error' THEN n_events END) AS BIGINT) AS error,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN n_events END) AS BIGINT) AS purchase,
           CAST(MAX(CASE WHEN event_type = 'signup' THEN n_events END) AS BIGINT) AS signup,
           CAST(MAX(CASE WHEN event_type = 'view' THEN n_events END) AS BIGINT) AS view
    FROM w
    UNION ALL
    SELECT 'sum_cents' AS key,
           MAX(CASE WHEN event_type = 'click' THEN sum_cents END) AS click,
           MAX(CASE WHEN event_type = 'error' THEN sum_cents END) AS error,
           MAX(CASE WHEN event_type = 'purchase' THEN sum_cents END) AS purchase,
           MAX(CASE WHEN event_type = 'signup' THEN sum_cents END) AS signup,
           MAX(CASE WHEN event_type = 'view' THEN sum_cents END) AS view
    FROM w
    ORDER BY key
    """,
    "q84_listagg_within_group": """
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ','
                      ORDER BY o_orderpriority) AS priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    # each try_* NULL path is modeled with a CASE — DuckDB's strict
    # operators would RAISE on the same inputs, which is the semantics
    # difference the operator exists to demonstrate
    "q85_try_safe_arithmetic": f"""
    WITH g AS (
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS sum_cents,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS denom
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_orders,
           CASE WHEN denom = 0 THEN NULL
                ELSE CAST(sum_cents AS DOUBLE) / denom END
             AS cents_per_nonf,
           CASE WHEN o_orderstatus = 'F' THEN NULL
                ELSE CAST({_I64_HALF} AS BIGINT) END AS overflow_probe,
           CASE WHEN o_orderstatus = 'F' THEN NULL
                ELSE TIMESTAMP '2024-01-02 03:04:05' END AS parsed_ts
    FROM g
    ORDER BY o_orderstatus
    """,
    # identifiers and the parameter inlined — equal hashes prove the
    # binding layer is plan-time-only
    "q86_parameterized_identifier": """
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    # the window form of the same logical ask — rn <= 2 under a total
    # order (price desc, then the unique line key) is exactly the
    # lateral probe's ORDER BY ... LIMIT 2 per outer row
    "q87_lateral_topk_per_group": """
    SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    ORDER BY flag, price_cents DESC, l_orderkey, l_linenumber
    """,
    # bitmaps are exact, so the oracle is the plain COUNT DISTINCT;
    # the OR-merge losslessness is the boolean that must hash TRUE
    "q88_bitmap_distinct_rollup": """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS merge_consistent
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    # the estimate itself is sketch-internal; the exported contract is
    # the exact counts plus CMS's two guarantees as booleans
    "q89_count_min_frequency": """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS est_at_least_exact,
           TRUE AS est_within_eps
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    # the ANSI width_bucket definition from first principles: 1 +
    # floor((x-lo)/(hi-lo)*n), clamped to the 0 / n+1 overflow bands
    "q90_width_bucket_histogram": f"""
    SELECT event_type,
           CASE WHEN value < {HIST_LO} THEN 0
                WHEN value >= {HIST_HI} THEN {HIST_N} + 1
                ELSE CAST(floor((value - {HIST_LO})
                          / (({HIST_HI} - {HIST_LO}) / {HIST_N}))
                     AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM({cents_sql('value')}) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    # exact discrete percentiles from first principles: the
    # (floor((n-1)q)+1)-th order statistic via ROW_NUMBER, all integer
    # math; the sketch-accuracy and rollup booleans must be TRUE
    "q91_quantile_sketch_rollup": f"""
    WITH v AS (
      SELECT l_returnflag AS g,
             {cents_sql('l_extendedprice')} AS val
      FROM lineitem
    ),
    r AS (
      SELECT g, val,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY val) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM v
    )
    SELECT g,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           MAX(CASE WHEN rn = ((n-1)*50) // 100 + 1 THEN val END)
             AS p50_exact_cents,
           MAX(CASE WHEN rn = ((n-1)*99) // 100 + 1 THEN val END)
             AS p99_exact_cents,
           TRUE AS p50_within_eps,
           TRUE AS p99_within_eps,
           TRUE AS rollup_within_eps
    FROM r
    GROUP BY g
    ORDER BY g
    """,
    # the variable's scalar-subquery derivation becomes a CTE; the
    # parameter slot becomes its inlined value
    "q80_sql_variables_front_door": """
    WITH cut AS (
      SELECT quantile_cont(l_quantity, 0.5) AS c FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem, cut
    WHERE l_quantity < cut.c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "q01_flagship_sum": f"""
        SELECT {exact_sum_sql('l_extendedprice', 'sum_price')} FROM lineitem
    """,
    "q02_null_skip_sum": f"""
        SELECT {exact_sum_sql('l_extendedprice', 'sum_price')},
               COUNT(*) AS n_rows
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    """,
    "q03_pushdown_range_filter": f"""
        SELECT {exact_sum_sql('l_extendedprice', 'revenue')},
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_quantity < 25.0
          AND l_returnflag = 'R'
    """,
    "q04_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {exact_sum_sql('l_quantity', 'sum_qty')},
               {exact_sum_sql('l_extendedprice', 'sum_base_price')},
               {exact_avg_sql('l_discount', 'avg_disc')},
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q05_metadata_count": "SELECT COUNT(*) AS n_rows FROM lineitem",
    "q06_projection_pruning": f"""
        SELECT l_orderkey, {exact_sum_sql('l_extendedprice', 'order_price')}
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY order_price DESC, l_orderkey
        LIMIT 100
    """,
    "q07_broadcast_star_join": f"""
        SELECT r_name,
               COUNT(*) AS n_customers,
               {exact_sum_sql('c_acctbal', 'sum_acctbal')}
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "q08_fact_join_agg": f"""
        SELECT o_orderpriority,
               {exact_revenue_sql()},
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q09_semi_anti_join": """
        SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    "q10_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    # the identical SQL text runs in both engines — the strongest
    # possible parity statement for the SQL entry surface
    "q34_sql_scalar_subquery": _Q34_SQL,
    # lookups modeled on the pair list (DuckDB's MAP key order is
    # engine-internal; the scalar outputs are what must match)
    "q35_map_functions": """
        WITH per_line AS (
          SELECT l_orderkey, l_linenumber, SUM(l_quantity) AS qty
          FROM lineitem WHERE l_orderkey <= 1000
          GROUP BY l_orderkey, l_linenumber
        ), arr AS (
          SELECT l_orderkey,
                 list_sort(list({'ln': l_linenumber, 'q': qty})) AS pairs
          FROM per_line
          GROUP BY l_orderkey
        )
        SELECT l_orderkey,
               CAST(len(pairs) AS INT) AS n_lines,
               list_filter(pairs, p -> p.ln = 1)[1].q AS qty_line_1,
               list_filter(pairs, p -> p.ln = 7)[1].q AS qty_line_7,
               list_max(list_transform(pairs, p -> p.ln)) AS max_linenumber
        FROM arr
    """,
    "q33_outer_joins": """
        WITH o AS (
          SELECT o_custkey, COUNT(*) AS n_orders
          FROM orders WHERE o_custkey >= 500 GROUP BY o_custkey
        ), c AS (
          SELECT c_custkey FROM customer WHERE c_custkey < 1000
        ), j AS (
          SELECT c.c_custkey, o.o_custkey, coalesce(o.n_orders, 0) AS n_orders
          FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        )
        SELECT CASE WHEN o_custkey IS NULL THEN 'customer_only'
                    WHEN c_custkey IS NULL THEN 'orders_only'
                    ELSE 'matched' END AS bucket,
               COUNT(*) AS n_keys,
               CAST(SUM(n_orders) AS BIGINT) AS total_orders
        FROM j GROUP BY 1 ORDER BY 1
    """,
    "q31_tpch_q3_shipping_priority": f"""
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               {exact_revenue_sql()}
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1995-03-15'
          AND l_shipdate > DATE '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q32_tpch_q5_local_supplier": f"""
        SELECT n_name,
               {exact_revenue_sql()}
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND s_nationkey = c_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC
    """,
    "q36_tpch_q18_large_orders": f"""
        WITH big AS (
          SELECT l_orderkey,
                 {exact_sum_sql('l_quantity', 'total_qty')}
          FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   > {Q18_QTY_THRESHOLD}
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice, total_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "q37_tpch_q10_returned_items": f"""
        WITH rev AS (
          SELECT o_custkey, {exact_revenue_sql()}
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= DATE '1996-01-01'
            AND o_orderdate < DATE '1996-04-01'
          GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        FROM rev
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "q49_tpch_q17_small_quantity": _Q49_SQL,
    "q52_referential_audit": "\nUNION ALL\n".join(
        f"""
        SELECT '{fact}.{fk} -> {dim}.{pk}' AS edge,
               (SELECT COUNT(*) FROM {fact}) AS n_fact,
               (SELECT COUNT(*) FROM {fact} f
                WHERE NOT EXISTS (SELECT 1 FROM {dim} d
                                  WHERE d.{pk} = f.{fk})) AS n_orphaned
        """
        for fact, fk, dim, pk in [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("customer", "c_nationkey", "nation", "n_nationkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ]
    ),
    "q53_key_skew_report": "\nUNION ALL\n".join(
        f"""
        SELECT '{key}' AS key_column,
               CAST(MAX(nk) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_group,
               CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * nk) AS BIGINT)
                             THEN cnt END) AS BIGINT) AS p99_group,
               round(CAST(SUM(CASE WHEN rn > nk - {SKEW_TOP_KEYS}
                                   THEN cnt ELSE 0 END) AS DOUBLE)
                     / SUM(cnt) * 100.0, 6) AS topk_share_pct
        FROM (
          SELECT cnt,
                 row_number() OVER (ORDER BY cnt ASC, {key} ASC) AS rn,
                 COUNT(*) OVER () AS nk
          FROM (SELECT {key}, COUNT(*) AS cnt
                FROM lineitem GROUP BY {key})
        )
        """
        for key in ("l_returnflag", "l_orderkey")
    ),
    "q54_tpch_q7_nation_volume": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {exact_revenue_sql()}
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c_nationkey
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
          AND ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
            OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    "q55_tpch_q8_market_share": f"""
        WITH base AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 {revenue_item_sql()} AS item,
                 n1.n_name AS supp_nation
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n2 ON n2.n_nationkey = c_nationkey
          JOIN region ON r_regionkey = n2.n_regionkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation n1 ON n1.n_nationkey = s_nationkey
          WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
            AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        )
        SELECT o_year,
               round(CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                                   THEN item ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(item) AS DOUBLE), 6) AS mkt_share
        FROM base GROUP BY o_year ORDER BY o_year
    """,
    "q56_tpch_q9_product_profit": f"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM({revenue_item_sql()}
                        - {cents_sql("p_retailprice")}
                          * CAST(l_quantity AS BIGINT) * {Q9_COST_PCT})
                    AS DOUBLE) / 10000.0 AS sum_profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
    "q57_tpch_q2_min_cost_supplier": f"""
        WITH region_supp AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey
          WHERE r_name = '{Q2_REGION}'
        ), offers AS (
          SELECT l_partkey AS p_partkey, s_suppkey,
                 MIN({cents_sql("l_extendedprice")}) AS cost_c
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN region_supp ON s_suppkey = l_suppkey
          WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}'
          GROUP BY 1, 2
        )
        SELECT s_acctbal, s_name, n_name, o.p_partkey, p_brand,
               CAST(cost_c AS DOUBLE) / 100.0 AS min_cost
        FROM offers o
        JOIN region_supp USING (s_suppkey)
        JOIN part ON part.p_partkey = o.p_partkey
        WHERE cost_c = (SELECT MIN(cost_c) FROM offers o2
                        WHERE o2.p_partkey = o.p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, o.p_partkey
        LIMIT 100
    """,
    "q58_tpch_q11_important_parts": f"""
        WITH value AS (
          SELECT l_partkey, SUM({cents_sql("l_extendedprice")}) AS value_c
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          WHERE n_name = '{Q11_NATION}'
          GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(value_c AS DOUBLE) / 100.0 AS value
        FROM value
        WHERE value_c > (SELECT SUM(value_c) FROM value)
                        / {Q11_FRACTION}
        ORDER BY value DESC, l_partkey
    """,
    "q59_tpch_q16_supplier_count": f"""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
          AND p_size IN {Q16_SIZES}
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q60_tpch_q20_excess_suppliers": f"""
        WITH l97 AS (
          SELECT l_partkey, l_suppkey, l_quantity
          FROM lineitem
          WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
            AND l_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE '%blue%')
        ), ps AS (
          SELECT l_partkey, l_suppkey, SUM(l_quantity) AS pair_qty
          FROM l97 GROUP BY 1, 2
        ), pt AS (
          SELECT l_partkey, SUM(l_quantity) AS part_qty
          FROM l97 GROUP BY 1
        )
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = '{Q20_NATION}'
          AND s_suppkey IN (SELECT l_suppkey FROM ps JOIN pt
                            USING (l_partkey)
                            WHERE pair_qty * 2 > part_qty)
        ORDER BY s_name
    """,
    "q61_tpch_q21_waiting_supplier": f"""
        WITH lo AS (
          SELECT l_orderkey, l_suppkey, l_shipdate
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          WHERE o_orderstatus = 'F'
        ), per_order AS (
          SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
                 COUNT(DISTINCT l_suppkey) AS n_supp
          FROM lo GROUP BY 1
        ), at_max AS (
          SELECT DISTINCT lo.l_orderkey, l_suppkey, n_supp
          FROM lo JOIN per_order
            ON lo.l_orderkey = per_order.l_orderkey
           AND l_shipdate = max_ship
        ), n_at AS (
          SELECT l_orderkey, COUNT(*) AS n_at_max
          FROM at_max GROUP BY 1
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM at_max
        JOIN n_at USING (l_orderkey)
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_at_max = 1 AND n_supp >= 2 AND n_name = '{Q21_NATION}'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    "q62_tpch_q22_dormant_customers": f"""
        WITH pool AS (
          SELECT c_custkey, c_nationkey,
                 {cents_sql("c_acctbal")} AS bal_c
          FROM customer WHERE c_nationkey IN {Q22_CODES}
        ), avg_pos AS (
          SELECT SUM(bal_c) AS sum_c, COUNT(*) AS n_c
          FROM pool WHERE bal_c > 0
        )
        SELECT c_nationkey AS cntrycode,
               COUNT(*) AS numcust,
               CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        FROM pool, avg_pos
        WHERE bal_c * n_c > sum_c
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= '{Q22_SINCE}')
        GROUP BY 1 ORDER BY 1
    """,
    "q63_tpch_q21_sql_front_door": _Q63_SQL,
    "q51_numeric_profile": "\nUNION ALL\n".join(
        f"""
        SELECT '{col}' AS column_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               round(MIN({col}), 6) AS min_v,
               round(MAX({col}), 6) AS max_v,
               round(CAST(SUM({cents_sql(col)}) AS DOUBLE)
                     / 100.0 / COUNT(*), 6) AS mean_v,
               round((CAST(SUM(CAST({cents_sql(col)} AS HUGEINT)
                               * {cents_sql(col)}) AS DOUBLE)
                      - CAST(SUM({cents_sql(col)}) AS DOUBLE)
                        * CAST(SUM({cents_sql(col)}) AS DOUBLE)
                        / COUNT(*))
                     / COUNT(*) / 1e4, 6) AS var_pop
        FROM lineitem
        """
        for col in PROFILE_COLS
    ),
    "q50_tpch_q15_top_supplier": f"""
        WITH rev AS (
          SELECT l_suppkey, {exact_revenue_sql(alias='total_revenue')}
          FROM lineitem
          WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "q46_tpch_q6_forecast_revenue": f"""
        SELECT CAST(SUM({cents_sql('l_extendedprice')}
                        * {cents_sql('l_discount')})
                    AS DOUBLE) / 10000.0 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate < DATE '1998-01-01'
          AND l_discount >= 0.02 AND l_discount <= 0.04
          AND l_quantity < 24
    """,
    "q47_tpch_q13_order_distribution": """
        WITH per_cust AS (
          SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey
        )
        SELECT n_orders, COUNT(*) AS n_customers
        FROM per_cust GROUP BY n_orders
        ORDER BY n_customers DESC, n_orders DESC
    """,
    "q48_tpch_q19_disjunctive_revenue": f"""
        SELECT {exact_revenue_sql()},
               COUNT(*) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size <= 10
               AND l_quantity >= 1 AND l_quantity <= 15)
           OR (p_brand = 'Brand#23' AND p_size <= 20
               AND l_quantity >= 10 AND l_quantity <= 25)
           OR (p_brand = 'Brand#34' AND p_size <= 30
               AND l_quantity >= 20 AND l_quantity <= 35)
    """,
    "q45_gapfill_timeseries": """
        WITH bounds AS (
          SELECT date_trunc('hour', MIN(ts)) AS lo,
                 date_trunc('hour', MAX(ts)) AS hi
          FROM events
        ), cal AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
            AS hour_start
          FROM bounds
        ), types AS (
          SELECT DISTINCT event_type FROM events
        ), counts AS (
          SELECT date_trunc('hour', ts) AS h, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT c.hour_start, t.event_type,
               CAST(coalesce(n, 0) AS BIGINT) AS n_events
        FROM cal c
        CROSS JOIN types t
        LEFT JOIN counts ON counts.h = c.hour_start
                        AND counts.event_type = t.event_type
    """,
    "q44_merge_upsert_cdc": f"""
        {_CDC_MERGED_CTE}
        SELECT segment, COUNT(*) AS n_rows,
               {exact_sum_sql('acctbal', 'sum_acctbal')},
               CAST(SUM(CASE WHEN action = 'U' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_updated,
               CAST(SUM(CASE WHEN action = 'I' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inserted
        FROM merged GROUP BY segment ORDER BY segment
    """,
    # the oracle is the FULL RECOMPUTE of the post-merge aggregate —
    # equality with the engine's incremental (MV + deltas) path is the
    # view-maintenance correctness proof
    "q64_incremental_mv_maintenance": f"""
        {_CDC_MERGED_CTE}
        SELECT segment, COUNT(*) AS n_rows,
               {exact_sum_sql('acctbal', 'sum_acctbal')}
        FROM merged GROUP BY segment ORDER BY segment
    """,
    "q65_nation_pagerank": _pagerank_sql(),
    "q66_constraint_suite": _Q66_SQL,
    "q67_snapshot_diff": f"""
        {_CDC_MERGED_CTE},
        v1 AS (SELECT c_custkey AS key, c_mktsegment AS segment,
                      c_acctbal AS acctbal FROM customer),
        v2 AS (SELECT custkey AS key2, segment AS segment2,
                      acctbal AS acctbal2 FROM merged),
        j AS (SELECT * FROM v1 FULL OUTER JOIN v2 ON key = key2),
        agg AS (SELECT
          CAST(SUM(CASE WHEN key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_added,
          CAST(SUM(CASE WHEN key2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_removed,
          CAST(SUM(CASE WHEN key IS NOT NULL AND key2 IS NOT NULL
                    AND (segment IS DISTINCT FROM segment2
                         OR acctbal IS DISTINCT FROM acctbal2)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          CAST(SUM(CASE WHEN key IS NOT NULL AND key2 IS NOT NULL
                    AND segment IS NOT DISTINCT FROM segment2
                    AND acctbal IS NOT DISTINCT FROM acctbal2
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
          CAST(SUM(CASE WHEN key IS NOT NULL AND key2 IS NOT NULL
                    AND acctbal IS DISTINCT FROM acctbal2
                   THEN 1 ELSE 0 END) AS BIGINT) AS acctbal_changed,
          CAST(SUM(CASE WHEN key IS NOT NULL AND key2 IS NOT NULL
                    AND segment IS DISTINCT FROM segment2
                   THEN 1 ELSE 0 END) AS BIGINT) AS segment_changed
          FROM j)
        SELECT metric, n FROM (
          SELECT 'n_added' AS metric, n_added AS n FROM agg
          UNION ALL SELECT 'n_removed', n_removed FROM agg
          UNION ALL SELECT 'n_changed', n_changed FROM agg
          UNION ALL SELECT 'n_unchanged', n_unchanged FROM agg
          UNION ALL SELECT 'acctbal_changed', acctbal_changed FROM agg
          UNION ALL SELECT 'segment_changed', segment_changed FROM agg
        ) ORDER BY metric
    """,
    "q43_event_funnel": f"""
        WITH t1 AS (
          SELECT user_id, MIN(ts) AS ts1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ), t2 AS (
          SELECT e.user_id, MIN(e.ts) AS ts2
          FROM events e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.ts1
            AND e.ts <= t1.ts1 + INTERVAL {FUNNEL_DEADLINE_HOURS} HOUR
          GROUP BY e.user_id
        ), t3 AS (
          SELECT e.user_id, MIN(e.ts) AS ts3
          FROM events e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
            AND e.ts <= t2.ts2 + INTERVAL {FUNNEL_DEADLINE_HOURS} HOUR
          GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM t1) AS n_step_view,
               (SELECT COUNT(*) FROM t2) AS n_step_click,
               (SELECT COUNT(*) FROM t3) AS n_step_purchase
    """,
    "q40_tpch_q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q41_tpch_q12_late_lines_by_status": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate < DATE '1998-01-01'
        GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    "q42_tpch_q14_promo_revenue": f"""
        WITH s AS (
          SELECT
            CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN {revenue_item_sql()}
                 ELSE 0 END) AS DOUBLE) AS promo_hundredths,
            CAST(SUM({revenue_item_sql()})
                 AS DOUBLE) AS total_hundredths
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= DATE '1997-09-01'
            AND l_shipdate < DATE '1997-10-01'
        )
        SELECT promo_hundredths / 1e4 AS promo_revenue,
               total_hundredths / 1e4 AS total_revenue,
               round(100.0 * promo_hundredths / total_hundredths, 6)
                 AS promo_pct
        FROM s
    """,
    # the UNSALTED join: salting must be result-invariant, so the
    # oracle is the plain equi-join the kernel claims to reproduce
    "q39_skew_salted_join": f"""
        WITH dim AS (
          SELECT l_returnflag, COUNT(*) AS flag_rows
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_returnflag,
               {exact_revenue_sql()},
               COUNT(*) AS n_items,
               MIN(flag_rows) AS flag_rows
        FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    "q30_lag_lead_ntile": """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    - lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                    AS DOUBLE) AS price_delta,
               strftime(lead(o_orderdate) OVER w, '%Y-%m-%d')
                 AS next_order_date,
               CAST(ntile(4) OVER w AS INT) AS date_quartile
        FROM orders WHERE o_custkey <= 200
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    """,
    "q29_array_functions": """
        WITH arr AS (
          SELECT l_orderkey,
                 list_transform(
                   list_sort(list({'ln': l_linenumber, 'q': l_quantity})),
                   p -> p.q) AS qtys
          FROM lineitem WHERE l_orderkey <= 1000
          GROUP BY l_orderkey
        )
        SELECT l_orderkey,
               CAST(len(qtys) AS INT) AS n_lines,
               qtys[1] AS first_qty,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qtys[1:3]),
                           (a, x) -> a + x) AS first3_sum,
               qtys[2] AS second_qty,
               list_contains(qtys, 1.0) AS has_qty_1,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qtys),
                           (a, x) -> a + x) AS qty_sum,
               list_max(qtys) AS qty_max
        FROM arr
    """,
    "q28_bag_set_ops": """
        SELECT 'intersect_all' AS tag, nk FROM
          (SELECT c_nationkey AS nk FROM customer
           INTERSECT ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'except_all' AS tag, nk FROM
          (SELECT c_nationkey AS nk FROM customer
           EXCEPT ALL SELECT s_nationkey FROM supplier)
    """,
    "q11_set_ops": """
        SELECT 'both' AS tag, nk FROM
          (SELECT c_nationkey AS nk FROM customer
           INTERSECT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'customer_only' AS tag, nk FROM
          (SELECT DISTINCT c_nationkey AS nk FROM customer
           EXCEPT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'any' AS tag, nk FROM
          (SELECT c_nationkey AS nk FROM customer
           UNION SELECT s_nationkey FROM supplier)
    """,
    "q12_window_latest_order": """
        SELECT o_custkey,
               o_orderkey AS latest_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS latest_date
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
    "q13_window_running_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_total
        FROM orders
    """,
    "q14_rollup": f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               {exact_sum_sql('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "q15_distinct_agg": f"""
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts,
               {exact_sum_sql(
                   "CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END",
                   'returned_revenue')}
        FROM lineitem
    """,
    "q16_scalar_functions": """
        SELECT p_partkey,
               lower(p_brand) AS brand_lower,
               substr(p_name, 1, 8) AS name_prefix,
               length(p_name) AS name_len,
               coalesce(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS type_head,
               concat_ws('|', p_brand, p_type) AS brand_type,
               round(p_retailprice * 1.1, 2) AS marked_up,
               p_size % 7 AS size_mod
        FROM part ORDER BY p_partkey LIMIT 500
    """,
    "q17_date_buckets": f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value', 'sum_value')}
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q18_sessionization": """
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), indexed AS (
      SELECT user_id, value, event_id,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_idx
      FROM ordered
    ), per_session AS (
      SELECT user_id, session_idx,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM indexed GROUP BY user_id, session_idx
    )
    -- session_idx is a windowed SUM → HUGEINT in DuckDB, and
    -- SUM(BIGINT) → HUGEINT; cast both to BIGINT to match Spark's types
    SELECT user_id,
           CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(CAST(session_value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM per_session GROUP BY user_id
    """,
    "q19_json_extract": """
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ) GROUP BY event_type
    """,
    "q20_cube": f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {exact_sum_sql('l_extendedprice', 'sum_price')}
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q21_correlated_exists": """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 50000
    )
    GROUP BY o_orderpriority
    """,
    "q22_asof_join": """
    WITH o AS (
      SELECT o_custkey AS k, o_orderdate AS t,
             max(o_orderkey) AS order_key,
             max_by(o_totalprice, o_orderkey) AS order_price
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, o.order_key, o.order_price
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.k AND e.ts >= o.t
    """,
    "q23_range_join": """
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 60000000
    """,
    "q24_approx_distinct": """
    SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct,
           TRUE AS within_10pct
    FROM lineitem
    """,
    # quantile_cont == Spark's exact interpolated percentile
    "q25_percentiles": """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50_price,
           quantile_cont(l_extendedprice, 0.95) AS p95_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    # the ANSI rewrite of the pinned pivot — identical to what Spark
    # plans internally for pivot() with explicit values
    "q26_pivot": """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS f_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS o_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS p_total
    FROM orders GROUP BY o_orderpriority
    """,
    # the oracle computes the DAILY result directly from raw events —
    # the cascade (10min -> hour -> day) must be indistinguishable
    "q27_rollup_cascade": """
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
}
