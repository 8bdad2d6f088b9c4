"""Differential tests: every relational query vs its DuckDB oracle."""

from __future__ import annotations

import pytest

from pim_orc_spark.operators import relational
from pim_orc_spark.oracle import compare


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = relational.QUERIES[name](spark, sf_dir)
    sql = relational.ORACLES[name]
    ok, msg = compare(df, sql, sf_dir)
    assert ok, f"{name}: {msg}"


def test_salted_join_invariant_under_salt_count(spark):
    """Property: salted_join(large, small, key) equals the plain inner
    join for ANY salt count and ANY key/row distribution — the salt
    may never change the result, only the shuffle layout. Random
    small corpora with duplicate and missing keys on both sides."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from pim_orc_spark.operators.relational import salted_join

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        large_keys=st.lists(
            st.integers(min_value=0, max_value=5), min_size=1, max_size=40
        ),
        small_keys=st.lists(
            st.integers(min_value=0, max_value=5), min_size=1, max_size=6
        ),
        n_salts=st.integers(min_value=1, max_value=9),
    )
    def check(large_keys, small_keys, n_salts):
        large = spark.createDataFrame(
            [(k, i) for i, k in enumerate(large_keys)], "k long, lval long"
        )
        # dedupe small side: salted_join replicates it per salt, and a
        # dim with duplicate keys duplicates matches in ANY join — keep
        # the property about salting, not dim hygiene
        small = spark.createDataFrame(
            [(k, k * 10) for k in sorted(set(small_keys))], "k long, sval long"
        )
        plain = {
            tuple(r)
            for r in large.join(small, "k").select("k", "lval", "sval").collect()
        }
        salted = {
            tuple(r)
            for r in salted_join(
                large,
                small,
                key="k",
                salt_expr=F.xxhash64("lval"),
                n_salts=n_salts,
            )
            .select("k", "lval", "sval")
            .collect()
        }
        assert salted == plain

    check()


def test_q44_merge_conserves_rows(spark, sf_dir):
    """Row-conservation invariant the oracle CANNOT check (a mirrored
    resolution bug passes the oracle): merged row count must equal
    |base| − |delete keys| + |fresh insert keys|, i.e. no base row may
    vanish except by an explicit delete — the round-5 review found an
    insert-key collision silently dropping base rows."""
    import duckdb

    from pim_orc_spark.operators.relational import q44_merge_upsert_cdc

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    n_base = con.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
    n_del = con.execute(
        "SELECT COUNT(*) FROM customer WHERE c_custkey % 97 = 0"
    ).fetchone()[0]
    n_fresh_ins = con.execute(
        """
        SELECT COUNT(*) FROM customer i
        WHERE i.c_custkey % 11 = 0
          AND NOT EXISTS (SELECT 1 FROM customer b
                          WHERE b.c_custkey = i.c_custkey + 1000000)
        """
    ).fetchone()[0]
    got = sum(
        r["n_rows"]
        for r in q44_merge_upsert_cdc(spark, sf_dir).collect()
    )
    assert got == n_base - n_del + n_fresh_ins


def test_pagerank_is_a_probability_vector(spark, sf_dir):
    """Invariants a correct damped PageRank must satisfy regardless of
    graph shape: ranks form a (rounding-tolerant) probability vector,
    and every node holds at least the teleport floor (1-d)/n."""
    out = relational.q65_nation_pagerank(spark, sf_dir).collect()
    n = len(out)
    assert n > 0
    total = sum(r["rank"] for r in out)
    assert abs(total - 1.0) < 1e-6, total
    floor = (1 - relational.PR_DAMP) / n
    assert all(r["rank"] >= floor - 1e-9 for r in out)


def test_pycms_cross_validates_against_jvm_sketch(spark):
    """The pure-Python CountMinSketch reader (functions/pycms.py) is
    validated against the independent JVM implementation whose output
    it parses: a sketch built by ``F.count_min_sketch`` must yield the
    SAME estimate from the Python reader and from Spark's own
    ``CountMinSketch.readFrom`` — for string keys (present, absent,
    multi-byte UTF-8 with 1/2/3-byte tails exercising murmur3's
    byte-at-a-time tail path) and for long keys (the hashA path,
    including negatives and 63-bit magnitudes). The q89 operator
    consumes only the Python reader; this test is what keeps it honest
    (the pysnappy/snappy-java discipline)."""
    import random

    from pyspark.sql import functions as F

    from pim_orc_spark.functions.pycms import CountMinSketchReader

    rnd = random.Random(20260816)
    alphabet = ["alpha", "beta", "γ-gamma", "δδ", "ключ", "x" * 7, "y"]
    rows = [(rnd.choice(alphabet),) for _ in range(400)]
    blob = bytes(
        spark.createDataFrame(rows, "s string")
        .agg(
            F.count_min_sketch(
                "s", F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("cms")
        )
        .collect()[0]["cms"]
    )
    py = CountMinSketchReader.from_bytes(blob)
    jvm = spark._jvm
    jv = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(blob)
    )
    assert py.total_count == jv.totalCount()
    for key in [*alphabet, "absent", "ab", "abc", "абвгд"]:
        assert py.estimate_binary(key.encode("utf-8")) == jv.estimateCount(
            key
        ), key

    lrows = [(rnd.randint(-(2**62), 2**62),) for _ in range(200)]
    lrows += [(424242,)] * 13
    lblob = bytes(
        spark.createDataFrame(lrows, "v long")
        .agg(
            F.count_min_sketch(
                "v", F.lit(0.01), F.lit(0.9), F.lit(7)
            ).alias("cms")
        )
        .collect()[0]["cms"]
    )
    lpy = CountMinSketchReader.from_bytes(lblob)
    ljv = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(lblob)
    )
    probes = [424242, 0, -1, 2**62, -(2**62), lrows[0][0]]
    for v in probes:
        assert lpy.estimate_long(v) == ljv.estimateCount(
            jvm.java.lang.Long(v)
        ), v


def test_pycms_rejects_malformed_payloads():
    """Version and length are validated before any probe — a truncated
    or foreign blob fails loudly, never with a wrong estimate."""
    import struct

    import pytest as _pytest

    from pim_orc_spark.functions.pycms import CountMinSketchReader

    depth, width = 2, 3
    good = struct.pack(">iqii", 1, 0, depth, width)
    good += struct.pack(f">{depth}q", 11, 13)
    good += struct.pack(f">{depth * width}q", *range(depth * width))
    r = CountMinSketchReader.from_bytes(good)
    assert r.depth == depth and r.width == width
    with _pytest.raises(ValueError, match="version"):
        CountMinSketchReader.from_bytes(
            struct.pack(">iqii", 9, 0, depth, width) + good[20:]
        )
    with _pytest.raises(ValueError, match="bytes"):
        CountMinSketchReader.from_bytes(good[:-8])


def test_qsk_segment_sketch_invariants_and_merged_error_bound():
    """The q91 quantile summary's deterministic contract, checked off-
    Spark on adversarial corpora (heavy ties, zipf-ish skew, tiny and
    unbalanced segments): per segment, kept values are sorted, weights
    sum to n, and each point's cumulative weight equals the exact count
    of segment values ≤ it (the property the merge relies on); after
    concatenating segments, the estimate chosen the way the operator
    chooses it (min val whose cumweight reaches k) has an exact rank
    interval within the HARD slack Σ_seg (n_seg div 100 + 1) of the
    target — for every q in {1, 25, 50, 75, 99} and every corpus."""
    import numpy as np
    import pandas as pd

    from pim_orc_spark.operators.relational import _qsk_segment_sketch

    rng = np.random.default_rng(20260816)
    corpora = {
        "ties": np.repeat([5, 5, 7, 7, 7, 9], 200),
        "zipf": (1000.0 / (1 + rng.integers(0, 50, 3000))).astype(int),
        "tiny_segments": rng.integers(0, 10**6, 23),
        "one": np.array([42]),
        "unbalanced": np.concatenate(
            [rng.integers(0, 100, 2500), rng.integers(10**6, 10**7, 3)]
        ),
    }
    for name, vals in corpora.items():
        n_segs = 4 if len(vals) > 8 else 1
        segs = np.arange(len(vals)) % n_segs
        points, slack = [], 0
        for s in range(n_segs):
            seg_vals = vals[segs == s]
            if not len(seg_vals):
                continue
            pdf = pd.DataFrame(
                {"g": "x", "seg": s, "val": seg_vals}
            )
            out = _qsk_segment_sketch(pdf)
            w = out["w"].to_numpy()
            kept = out["val"].to_numpy()
            assert w.sum() == len(seg_vals), name
            assert (np.diff(kept) >= 0).all(), name
            sv = np.sort(seg_vals)
            spacing = len(seg_vals) // 100 + 1
            assert (w <= spacing).all(), name
            for cw, kv in zip(np.cumsum(w), kept):
                # cumweight == exact # of segment values at sorted
                # positions ≤ the point's own slot; ties above the
                # point are the interval form's job, not the build's
                assert sv[cw - 1] == kv, name
            points.append(out)
            slack += spacing
        merged = pd.concat(points).sort_values(["val", "seg"])
        cw = merged["w"].cumsum().to_numpy()
        mv = merged["val"].to_numpy()
        n = len(vals)
        assert cw[-1] == n, name
        for q in (1, 25, 50, 75, 99):
            k = (n - 1) * q // 100 + 1
            est = mv[int(np.searchsorted(cw, k))]
            lt = int((vals < est).sum())
            le = int((vals <= est).sum())
            assert le >= k - slack and lt + 1 <= k + slack, (
                name,
                q,
                (lt + 1, le),
                (k - slack, k + slack),
            )
            # r15: the sketch-guided exact-refinement brackets the
            # operator's certification path relies on. Brackets read
            # off the per-VALUE cumweight CW(v) = max running cw among
            # a value's tie points (a per-point cw misses same-valued
            # points merged after it — this exact test, on the ties
            # corpus, caught that bug in the first implementation):
            #   hi = min val with CW ≥ k            ⇒ hi ≥ x_k
            #   lo = max val with CW ≤ k−slack−1    ⇒ lo < x_k
            # and the two-pass reconstruction (count ≤ lo, then the
            # value-histogram cumsum of (lo, hi]) returns x_k exactly
            x_k = int(np.sort(vals)[k - 1])
            uvals = np.unique(mv)
            cwv = np.array(
                [int(cw[(mv == u).nonzero()[0][-1]]) for u in uvals]
            )
            hi = int(uvals[int(np.searchsorted(cwv, k))])
            lo_mask = cwv <= k - slack - 1
            lo = (
                int(uvals[lo_mask.nonzero()[0][-1]])
                if lo_mask.any()
                else None
            )
            assert hi >= x_k, (name, q)
            if lo is not None:
                assert lo < x_k, (name, q)
            lo_eff = lo if lo is not None else -(1 << 62)
            below = int((vals <= lo_eff).sum())
            mid = np.sort(vals[(vals > lo_eff) & (vals <= hi)])
            mvals, mcnts = np.unique(mid, return_counts=True)
            mcum = np.cumsum(mcnts)
            hit = mvals[np.searchsorted(below + mcum, k)]
            assert int(hit) == x_k, (name, q, hit, x_k)


def test_pycms_rejects_degenerate_geometry():
    """depth/width < 1 must fail at parse time, not as an obscure
    empty-min() or a silent None during a probe."""
    import struct

    import pytest as _pytest

    from pim_orc_spark.functions.pycms import CountMinSketchReader

    with _pytest.raises(ValueError, match="degenerate"):
        CountMinSketchReader.from_bytes(struct.pack(">iqii", 1, 0, 0, 5))


def test_q91_exact_percentiles_survive_heavy_ties_end_to_end(
    spark, tmp_path
):
    """The tie regime the fixture can never exercise (lineitem prices
    are near-unique), run through the REAL operator end-to-end: a
    synthetic lineitem whose prices form long cross-segment tie runs —
    exactly the shape where a per-point-cumweight bracket misplaces lo
    ON the answer (the bug the off-Spark property test caught). The
    exact percentiles must equal numpy's order statistics and every
    envelope boolean must hold."""
    import numpy as np
    from pyspark.sql import functions as F

    from pim_orc_spark.operators.relational import (
        q91_quantile_sketch_rollup,
    )

    # 3 groups × 2000 rows; prices drawn from 7 tied levels with skew,
    # orderkeys spread rows across all QSK_SEGMENTS segments
    n_per = 2000
    levels = [500, 500, 500, 999, 999, 2500, 10000]
    rows = []
    for gi, g in enumerate(("A", "N", "R")):
        for i in range(n_per):
            price_cents = levels[(i * 7 + gi) % len(levels)]
            rows.append((i + gi, g, "O", price_cents / 100.0))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_returnflag string, l_linestatus string, "
        "l_extendedprice double",
    )
    sf = str(tmp_path / "ties_sf")
    df.write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")

    out = {
        r["g"]: r for r in q91_quantile_sketch_rollup(spark, sf).collect()
    }
    assert set(out) == {"A", "N", "R"}
    for gi, g in enumerate(("A", "N", "R")):
        vals = np.sort(
            np.array(
                [
                    round(levels[(i * 7 + gi) % len(levels)])
                    for i in range(n_per)
                ]
            )
        )
        r = out[g]
        assert r["n_rows"] == n_per
        k50 = (n_per - 1) * 50 // 100 + 1
        k99 = (n_per - 1) * 99 // 100 + 1
        assert r["p50_exact_cents"] == int(vals[k50 - 1]), g
        assert r["p99_exact_cents"] == int(vals[k99 - 1]), g
        assert r["p50_within_eps"] and r["p99_within_eps"], g
        assert r["rollup_within_eps"], g


def _cents_mismatches(df, col, ours):
    """Rows of ``df`` where ``ours`` (a Column over ``col``) and Spark's
    own ``CAST(round(...) AS BIGINT)`` disagree (null-safe), and the
    rows where HALF_UP differs from rint's ties-to-even."""
    from pyspark.sql import functions as F

    y = f"{col}" if col == "y" else f"{col} * 100"
    got = df.select(
        ours.alias("c"),
        F.expr(f"CAST(round({y}) AS BIGINT)").alias("r"),
        F.expr(f"CAST(rint({y}) AS BIGINT)").alias("e"),
    )
    wrong = got.where(~F.col("c").eqNullSafe(F.col("r"))).count()
    return wrong, got.where(F.col("r") != F.col("e")).count()


def test_cents_matches_spark_round(spark):
    """``cents`` replaces ``CAST(round(x * 100) AS BIGINT)`` — a
    BigDecimal per row — with rint/abs/signum double arithmetic
    (numeric._half_up_text). It must equal Spark's own round on every
    double, not only 2-dp ones: every cent value over ±10⁷ cents, every
    half-cent over ±10⁶ (products that land next to a tie), a seeded
    random sweep of non-2-dp values up to 1e16, exact ties at the
    bottom and top of the < 2⁵² range, and the edges. On NaN, ±inf
    and |y| > 2⁶³ both forms raise CAST_OVERFLOW."""
    from pyspark.sql import functions as F

    from pim_orc_spark.functions.numeric import _half_up_text, cents

    grids = {
        "cents": spark.range(-(10**7), 10**7 + 1).selectExpr("id / 100 AS x"),
        "half_cents": spark.range(-(10**6), 10**6).selectExpr(
            "(id + 0.5D) / 100 AS x"
        ),
        "random": spark.range(400_000).selectExpr(
            "(rand(11) - 0.5D) * pow(10D, floor(rand(12) * 17)) AS x"
        ),
    }
    for name, df in grids.items():
        wrong, ties = _cents_mismatches(df, "x", cents("x"))
        assert wrong == 0, name
        assert name != "half_cents" or ties > 0  # the tie branch is hit
    top = 2.0**52
    tie_ys = spark.createDataFrame(
        [(s * (top - 0.5 - k),) for k in range(2000) for s in (1, -1)], "y double"
    ).unionByName(spark.range(-(10**5), 10**5).selectExpr("id + 0.5D AS y"))
    wrong, ties = _cents_mismatches(tie_ys, "y", F.expr(_half_up_text("y")))
    assert wrong == 0 and ties > 0

    edges = [None, 0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
             0.49999999999999994, -0.49999999999999994,
             top - 0.5, -(top - 0.5), top + 1, 2.0**53 + 1, 9.2e16, -9.2e16]
    for col in ("x", "y"):
        # y = 2⁶³ itself saturates to Long.MaxValue in both forms
        vals = edges + ([2.0**63, -(2.0**63)] if col == "y" else [])
        df = spark.createDataFrame([(v,) for v in vals], f"{col} double")
        ours = cents("x") if col == "x" else F.expr(_half_up_text("y"))
        assert _cents_mismatches(df, col, ours)[0] == 0, col
    # the naive floor(|y| + 0.5) form is wrong here; round says 0
    half = spark.createDataFrame([(0.49999999999999994,)], "y double")
    assert half.selectExpr(
        "CAST(round(y) AS BIGINT)",
        "CAST(signum(y) * floor(abs(y) + 0.5D) AS BIGINT)",
        _half_up_text("y"),
    ).first() == (0, 1, 0)

    overflow = [float("nan"), float("inf"), float("-inf"), 1e19, -1e19, 2.0**64]
    for v in overflow:
        df = spark.createDataFrame([(v, v / 100)], "y double, x double")
        for ours in (F.expr(_half_up_text("y")), cents("x")):
            with pytest.raises(Exception, match="CAST_OVERFLOW"):
                df.select(ours).collect()
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.selectExpr("CAST(round(y) AS BIGINT)").collect()


def test_no_inline_cents_outside_numeric():
    """``numeric.cents`` is the one Spark-side cents conversion: outside
    numeric.py no Column ``F.round(<expr> * 100)`` (to 0 places) may
    remain, since Spark's round pays a BigDecimal per row. SQL strings
    (the DuckDB ORACLES and the shared-text queries) are not scanned."""
    import ast
    import pathlib

    import pim_orc_spark

    def hundred(n):
        return isinstance(n, ast.Constant) and n.value in (100, 100.0)

    found = []
    root = pathlib.Path(pim_orc_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        if path.name == "numeric.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "round"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.args
            ):
                continue
            arg, scale = node.args[0], node.args[1:] + [k.value for k in node.keywords]
            if (
                isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Mult)
                and (hundred(arg.left) or hundred(arg.right))
                and all(isinstance(s, ast.Constant) and s.value == 0 for s in scale)
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert found == []
