"""One-decade-UP scale slope (r11 verdict #6): the sf0.01→sf0.1 slope
pass in bench.py bounds superlinearity BELOW fixture scale; this test
extends the method one decade ABOVE it. A synthetic sf1 is materialized
(10× the data of sf0.1), and the five most expensive bench slots are
timed at both scales. A linear operator lands near the data ratio (≈10)
minus fixed overhead; a superlinear constant hiding above fixture scale
shows up as a ratio well past it.

Corpus semantics (each slot must scale over an IN-CLASS corpus, or the
"slope" measures the corpus, not the operator):

- lineitem/orders/customer/supplier: ten key-shifted replicas of sf0.1
  — the join graph becomes 10 disjoint copies (no cross-replica
  fan-out); nation keys kept, so the graph slots aggregate 10× facts
  onto the same 25-vertex graph. Exactly the 100 TB shape where
  dimensions are metadata and facts grow.
- documents (feeds dedup_minhash_lsh): a GENERATED diverse corpus at
  both scales — hash-derived tokens from a 50k-word vocabulary with a
  planted near-duplicate in every DUP_EVERY-th doc — NOT the fixture
  documents table. The fixture corpus is the documented
  LSH-adversarial case (≈30-word vocabulary, background 3-gram
  J ≈ 0.6): banding admits ~all pairs there, so its LSH output — and
  therefore its cost — is Θ(n²) IN-DISTRIBUTION, the
  information-theoretic floor the operator's own docstring concedes.
  A linearity assertion on it is ill-posed at any normalization
  (measured ~300× for 10× docs: candidates ×10 × dictionary-width
  ×5 × per-candidate fallback-evaluator costs; see SURVEY round-12
  notes). On the diverse corpus the gram dictionary SATURATES at both
  scales and candidates track planted pairs — the regime LSH exists
  for, and the regime a 100 TB deployment is in.

Two earlier false starts, kept as warnings: (1) replicating the
fixture docs with per-token replica prefixes left interior grams
shared (cross-replica J ≈ 0.5 → quadratic candidates — the "slope"
measured a malformed corpus); (2) a per-replica character bijection
fixed cross-replica overlap but not the corpus's intrinsic
within-replica candidate density.

perf-marked: wall-clock facts on a co-tenant host; run with
``pytest -m perf tests/test_scale_slope.py``. Co-tenancy guidance from
bench.py applies — min-of-N is the contention-immune statistic.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

# the slope is measured from the BENCH scale (sf0.1) one decade up,
# matching the verdict's protocol — not from the test sweep's sf0.01
BASE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_SLOPE_BASE_DIR", "/root/testdata/sf0.1"
)

SLOTS = [
    "q01_flagship_sum",
    "q04_pricing_summary",
    "dedup_minhash_lsh",
    "q65_nation_pagerank",
    "q73_triangle_count",
]
REPS = 10
# 10× data + fixed overhead; past this a superlinear constant is the
# simplest explanation (the r3 LSH cliff was ~100× at one decade)
MAX_RATIO = 12.0
# the LSH slot's multi-join pipeline repeats at 11-12.5× across runs
# (min-of-N on a co-tenant host); its bound carries that noise band.
# Known regressions it must still catch, by measurement: hauling the
# band-key arrays through the self-join = 16.25×; any quadratic
# candidate path = 50×+. Since round 16 the bound applies to the
# CALIBRATION-NORMALIZED ratio (r15 verdict #2: a raw 14.98 against
# this bound was pure host profile — the probe-priced drift between
# the small and big timing blocks is divided out before asserting).
LSH_MAX_RATIO = 15.0
TIMED_PASSES = int(os.environ.get("SPARK_GRAFT_SLOPE_PASSES", "3"))
# Counting invariant on the candidate set (r12 verdict #1, form
# corrected by round-13 measurement). The verdict proposed
# "candidates ≤ c × planted", but that form is information-
# theoretically unattainable for fixed banding parameters: banding is
# an i.i.d. per-pair filter with admission probability
# p ≈ Σ_bands E[J⁴] over the BACKGROUND pair-J distribution, so the
# candidate count is p·n²/2 + planted — quadratic with a tiny
# constant on ANY corpus with nonzero background admission. Measured
# here (r13): 47,761 candidates at 5k docs, 4,659,996 at 50k — a
# flat 0.37-0.38% of all pairs at both scales, because this corpus's
# char-3-gram universe SATURATES its 27-char-alphabet ceiling
# (27³ = 19,683) and per-doc coverage (~2.5%) fixes the background J
# tail. The counting invariant that IS scale-stable — and that host
# noise cannot move — is the admission RATE: it must not grow across
# the decade (a quadratic REGRESSION, banding admitting ~all pairs,
# moves it from ~0.4% toward 30-100%: the fixture corpus measures
# ~98% admission), and it must stay far below the adversarial regime.
CAND_RATE_MAX = 0.02  # ≤2% of all pairs admitted (adversarial ≈ 98%)
CAND_RATE_GROWTH = 1.5  # rate_big ≤ 1.5 × rate_small (flat ⇒ ~1.0)

# ------------------------------------------------ diverse doc corpus
DOCS_SMALL = 5_000  # matches the fixture documents row count at sf0.1
VOCAB = 50_000
DOC_TOKENS = 120
DUP_EVERY = 20  # doc i with i % DUP_EVERY == 1 near-duplicates doc i-1
PERTURB_EVERY = 25  # the near-dup differs in every 25th token (J≈0.95)


def _synth_docs(spark, n_docs: int, out: str, vocab: int = VOCAB) -> None:
    """Deterministic diverse corpus: doc i is DOC_TOKENS hash-derived
    words from a ``vocab``-word vocabulary; every DUP_EVERY-th doc
    copies its predecessor except every PERTURB_EVERY-th token,
    planting near-dup pairs (3-gram J ≈ 0.95 ≥ the 0.8 threshold; word
    containment ≈ 115/120 ≥ 0.9) at a fixed rate so pair output — and
    hence cost — scales linearly with the corpus. All-Catalyst
    generation, no Python row funcs. The containment slope block uses
    a much larger vocab (word df stays tiny — the df-light regime the
    words engine exists for)."""
    base_id = F.col("id") - F.when(
        F.col("id") % DUP_EVERY == 1, F.lit(1)
    ).otherwise(F.lit(0))
    is_dup = F.col("id") % DUP_EVERY == 1

    def word(seed_col, vocab=vocab):
        # base-26 word encoding, NOT decimal: "w"+digits words live in
        # a 12-char alphabet whose 3-gram universe is ~1.4k, so every
        # doc covers ~half of it and background J lands at ~0.33 —
        # banding then admits ~a third of ALL pairs (quadratic, the
        # same disease as the fixture corpus, measured as a stuck
        # signature/pair stage). conv(...,10,26) words draw from a
        # 27-char alphabet (~20k gram universe): docs cover ~3% of it,
        # background J ≈ 0.02, band-collision probability ~1e-7 —
        # the coverage profile of real text.
        return F.lower(
            F.conv(
                F.pmod(F.xxhash64(seed_col), F.lit(vocab)).cast("string"),
                10,
                26,
            )
        )

    tokens = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
        lambda j: F.when(
            is_dup & (j % PERTURB_EVERY == 0),
            word(F.col("id") * DOC_TOKENS + j + F.lit(10**12)),
        ).otherwise(word(base_id * DOC_TOKENS + j)),
    )
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", tokens).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("synth").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )


def _build_sf1(spark, sf_dir: str, out: str) -> None:
    reps = F.broadcast(
        spark.range(REPS).select(F.col("id").cast("long").alias("rep"))
    )

    def load(t):
        return spark.read.parquet(f"{sf_dir}/{t}.parquet")

    def shift(col, span):
        return (F.col(col) + F.col("rep") * F.lit(span)).alias(col)

    def span_of(df, col):
        return int(df.agg(F.max(col)).collect()[0][0]) + 1

    li, od, cu, su = (
        load("lineitem"),
        load("orders"),
        load("customer"),
        load("supplier"),
    )
    ok_span = span_of(od, "o_orderkey")
    ck_span = span_of(cu, "c_custkey")
    sk_span = span_of(su, "s_suppkey")

    def rep_all(df, *shifted):
        names = {c for c, _ in shifted}
        cols = [shift(c, s) for c, s in shifted] + [
            c for c in df.columns if c not in names
        ]
        return df.crossJoin(reps).select(*cols)

    rep_all(li, ("l_orderkey", ok_span), ("l_suppkey", sk_span)).write.mode(
        "overwrite"
    ).parquet(f"{out}/lineitem.parquet")
    rep_all(od, ("o_orderkey", ok_span), ("o_custkey", ck_span)).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    rep_all(cu, ("c_custkey", ck_span)).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )
    rep_all(su, ("s_suppkey", sk_span)).write.mode("overwrite").parquet(
        f"{out}/supplier.parquet"
    )
    for t in ("nation", "region"):
        load(t).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    _synth_docs(spark, REPS * DOCS_SMALL, out)


@pytest.fixture(scope="module")
def slope_json(tmp_path_factory):
    """Where this run's slope evidence goes: a file under pytest's temp
    dir, so a perf run never rewrites the repo's tracked records."""
    return tmp_path_factory.mktemp("slope") / "SLOPE.json"


def _persist_slope(path, update: dict) -> None:
    """Merge one test's evidence block into the run's SLOPE file (the
    perf tests share it; a wholesale write from one would drop the
    others' blocks)."""
    import json

    data = json.loads(path.read_text()) if path.exists() else {}
    data.update(update)
    path.write_text(json.dumps(data, indent=1))
    print(f"slope evidence: {path}")


def _time_slots(
    qs, spark, dirs: dict[str, str]
) -> tuple[dict[str, float], dict[str, float]]:
    """Returns (best_warm, cold). The warmup pass — codegen + resident
    artifact builds (signature index, trade edges), exactly like
    bench.py's untimed pass 0 — is ALSO captured as ``cold``: the
    asserted slope compares steady-state costs (artifacts resident,
    matching how the bench and a resident cluster run), but the cold
    times are printed so a reviewer can see the BUILD side — the part
    that scans the facts — scaling sanely too. Cold is one sample per
    slot (no min-of-N), so it is reported, not asserted."""
    cold: dict[str, float] = {}
    for name in SLOTS:
        t0 = time.perf_counter()
        qs[name](spark, dirs[name]).write.format("noop").mode(
            "overwrite"
        ).save()
        cold[name] = time.perf_counter() - t0
    best: dict[str, float] = {}
    for _ in range(TIMED_PASSES):
        for name in SLOTS:
            t0 = time.perf_counter()
            qs[name](spark, dirs[name]).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, float("inf")), dt)
    return best, cold


@pytest.mark.perf
def test_top_slots_scale_linearly_one_decade_up(spark, tmp_path, slope_json):
    import __spark_entry__ as entry

    sf_dir = BASE_SF_DIR
    sf1 = str(tmp_path / "sf1")
    docs_small = str(tmp_path / "docs_small")
    _build_sf1(spark, sf_dir, sf1)
    _synth_docs(spark, DOCS_SMALL, docs_small)
    n_small = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    n_big = spark.read.parquet(f"{sf1}/lineitem.parquet").count()
    assert n_big == REPS * n_small

    qs = entry.all_queries()
    small_dirs = {name: sf_dir for name in SLOTS}
    small_dirs["dedup_minhash_lsh"] = docs_small
    big_dirs = {name: sf1 for name in SLOTS}
    # Calibration probes bracket each timing block (r15 verdict #2:
    # the LSH warm ratio landed at 14.98 vs bound 15.0 on pure host
    # profile — the raw wall ratio must not be the asserted number).
    # The bench's own fixed CPU-bound probe prices the host during the
    # small and big blocks separately; the ASSERTED ratio divides out
    # the drift between them: ratio_norm = (big/cal_big)/(small/cal_s).
    # A host that slowed for the big block no longer false-fails the
    # bound; a real superlinear slope moves data-proportionally and is
    # untouched by the probe. Counting invariants below stay primary.
    from bench import calibration

    cal0, _ = calibration(spark)
    small, cold_small = _time_slots(qs, spark, small_dirs)
    cal1, _ = calibration(spark)
    big, cold_big = _time_slots(qs, spark, big_dirs)
    cal2, _ = calibration(spark)
    cal_small, cal_big = min(cal0, cal1), min(cal1, cal2)
    host_drift = round(cal_big / cal_small, 3) if cal_small > 0 else 1.0
    ratios = {n: round(big[n] / small[n], 2) for n in SLOTS}
    ratios_norm = {
        n: round(r / host_drift, 2) for n, r in ratios.items()
    }
    cold_ratios = {
        n: round(cold_big[n] / cold_small[n], 2) for n in SLOTS
    }
    print(
        f"\nscale_slope sf0.1→sf1 warm raw: {ratios}; "
        f"cal-normalized (asserted): {ratios_norm} "
        f"[cal {cal_small:.3f}s→{cal_big:.3f}s, drift {host_drift}×]"
    )
    print(f"  cold incl. artifact builds (reported): {cold_ratios}")
    print(f"  small={ {n: round(t, 3) for n, t in small.items()} }")
    print(f"  big={ {n: round(t, 3) for n, t in big.items()} }")

    # the planted near-dups must actually come out at both scales —
    # otherwise the LSH timing measured an empty pair path (runs after
    # the timing so the cold pass above captures the artifact builds)
    from pim_orc_spark.operators.dedup import (
        dedup_minhash_lsh,
        lsh_band_candidates,
    )

    n_pairs_small = dedup_minhash_lsh(spark, docs_small).count()
    n_pairs_big = dedup_minhash_lsh(spark, sf1).count()
    assert n_pairs_small >= DOCS_SMALL // DUP_EVERY
    # pair output scales with the corpus (±: band-collision extras)
    assert n_pairs_big >= REPS * (DOCS_SMALL // DUP_EVERY)
    assert n_pairs_big <= 3 * REPS * n_pairs_small

    # STRUCTURAL invariant (r12 verdict #1): the widened wall-clock
    # bound on the LSH slot needs counted evidence host noise cannot
    # move. See CAND_RATE_* above for why the invariant is an
    # admission-RATE bound (flat across the decade, far below the
    # adversarial regime) rather than a multiple of the planted pairs
    # — a quadratic regression (banding admitting the background
    # wholesale) blows the rate by two orders of magnitude long
    # before wall clock is even consulted.
    planted_small = DOCS_SMALL // DUP_EVERY
    n_cand_small = lsh_band_candidates(
        spark, spark.read.parquet(f"{docs_small}/documents.parquet")
    ).count()
    n_cand_big = lsh_band_candidates(
        spark, spark.read.parquet(f"{sf1}/documents.parquet")
    ).count()
    n_docs_big = REPS * DOCS_SMALL
    rate_small = n_cand_small / (DOCS_SMALL * (DOCS_SMALL - 1) / 2)
    rate_big = n_cand_big / (n_docs_big * (n_docs_big - 1) / 2)
    print(
        f"  candidates: small={n_cand_small} (rate {rate_small:.4%}), "
        f"big={n_cand_big} (rate {rate_big:.4%}); "
        f"planted {planted_small}/{REPS * planted_small}"
    )
    # every planted pair must be among the candidates (recall floor)
    assert n_cand_small >= planted_small
    assert n_cand_big >= REPS * planted_small
    assert rate_small <= CAND_RATE_MAX, rate_small
    assert rate_big <= CAND_RATE_MAX, rate_big
    assert rate_big <= CAND_RATE_GROWTH * rate_small, (
        rate_big,
        rate_small,
    )

    bounds = {n: MAX_RATIO for n in SLOTS}
    bounds["dedup_minhash_lsh"] = LSH_MAX_RATIO
    offenders = {
        n: (r, bounds[n]) for n, r in ratios_norm.items() if r > bounds[n]
    }

    # Persist the run's slope evidence (r12 verdict #1: the ratios
    # were printed, not persisted — a widened bound needs a trail).
    artifact = {
        "base_sf_dir": sf_dir,
        "warm_ratios": ratios,
        # the ASSERTED numbers (r15 verdict #2): raw ratios divided by
        # the probe-measured host drift between the two timing blocks
        "warm_ratios_cal_normalized": ratios_norm,
        "calibration_small_sec": round(cal_small, 4),
        "calibration_big_sec": round(cal_big, 4),
        "calibration_host_drift": host_drift,
        "cold_ratios": cold_ratios,
        "warm_small_sec": {n: round(t, 3) for n, t in small.items()},
        "warm_big_sec": {n: round(t, 3) for n, t in big.items()},
        "bounds": bounds,
        "bounds_apply_to": "warm_ratios_cal_normalized",
        "lsh": {
            "pairs_small": n_pairs_small,
            "pairs_big": n_pairs_big,
            "candidates_small": n_cand_small,
            "candidates_big": n_cand_big,
            "admission_rate_small": round(rate_small, 6),
            "admission_rate_big": round(rate_big, 6),
            "planted_small": planted_small,
            "planted_big": REPS * planted_small,
            "candidate_bound": (
                f"rate <= {CAND_RATE_MAX} at both scales and "
                f"rate_big <= {CAND_RATE_GROWTH} * rate_small"
            ),
        },
    }
    _persist_slope(slope_json, artifact)

    assert not offenders, (
        f"superlinear one-decade slope (cal-normalized ratio, bound): "
        f"{offenders}; raw {ratios}, normalized {ratios_norm}, "
        f"host drift {host_drift}x"
    )


# ---------------------------------------------- containment prefix slope
# (r14 verdict #1/#2: the containment engine's linear-regime evidence —
# wall clock + counted candidates — lived only in a fixed-size pytest;
# this puts it in the slope harness beside the LSH invariant.)
#
# Corpus: the same diverse generator with a 2M-word vocabulary — the
# df-LIGHT regime the words engine (`containment_pairs_prefix_words`,
# exported this round) exists for: word df at the big scale ≈
# n·tokens/vocab ≈ 1.2, so the prefix join's posting lists stay near
# singleton. As with LSH, the scale-stable counting invariant is the
# ADMISSION RATE (≈ prefix_size·tokens/vocab, independent of n): a
# regression that breaks the rare-first order or the pigeonhole bound
# moves it toward 100%; growth across the decade means the filter is
# widening with the corpus. The char-gram engine on the FIXTURE corpus
# is the documented dense boundary (52% admission at sf0.1, priced per
# round by the bench slot) — in-class slope evidence belongs to the
# sparse regime, which is this corpus.
CONT_DOCS_SMALL = 2_000
CONT_REPS = 10  # one decade: 2k → 20k docs
CONT_VOCAB = 2_000_000
CONT_RATE_MAX = 0.005  # ≤0.5% of ordered pairs admitted (measured ~0.1%)
CONT_RATE_GROWTH = 1.5  # rate_big ≤ 1.5 × rate_small (flat ⇒ ~1.0)
CONT_PASSES = int(os.environ.get("SPARK_GRAFT_SLOPE_PASSES", "3"))


@pytest.mark.perf
def test_containment_prefix_scales_one_decade_up(spark, tmp_path, slope_json):
    from pim_orc_spark.operators.dedup import (
        _containment_prefix_candidates,
        containment_pairs_prefix_words,
    )
    from pim_orc_spark.functions.textfns import tokens
    from pim_orc_spark.operators.dedup import spread

    import time as _time

    dirs = {}
    for label, n in (("small", CONT_DOCS_SMALL),
                     ("big", CONT_REPS * CONT_DOCS_SMALL)):
        out = str(tmp_path / f"cont_{label}")
        _synth_docs(spark, n, out, vocab=CONT_VOCAB)
        dirs[label] = out

    def docs_of(label):
        return spark.read.parquet(f"{dirs[label]}/documents.parquet")

    # counted invariant: candidates surviving the pigeonhole prefix
    # join + size gate, over ordered pairs n·(n−1)
    n_small = CONT_DOCS_SMALL
    n_big = CONT_REPS * CONT_DOCS_SMALL
    cands, rates = {}, {}
    for label, n in (("small", n_small), ("big", n_big)):
        g = (
            spread(spark, docs_of(label))
            .select("doc_id", F.array_distinct(tokens("text")).alias("grams"))
            .localCheckpoint()
        )
        cands[label] = _containment_prefix_candidates(g).count()
        rates[label] = cands[label] / (n * (n - 1))

    # wall clock: full engine (index build + candidates + verify),
    # min-of-N at both scales — the contention-immune statistic;
    # calibration probes bracket each block so the persisted ratio has
    # a host-drift-corrected twin (r15 verdict #2, same method as the
    # asserted top-slots bound)
    from bench import calibration

    wall, cals = {}, [calibration(spark)[0]]
    for label in ("small", "big"):
        best = float("inf")
        for _ in range(CONT_PASSES):
            t0 = _time.perf_counter()
            containment_pairs_prefix_words(
                spark, docs_of(label)
            ).write.format("noop").mode("overwrite").save()
            best = min(best, _time.perf_counter() - t0)
        wall[label] = best
        cals.append(calibration(spark)[0])
    cal_s, cal_b = min(cals[0], cals[1]), min(cals[1], cals[2])
    drift = round(cal_b / cal_s, 3) if cal_s > 0 else 1.0
    wall_ratio = round(wall["big"] / wall["small"], 2)
    wall_ratio_norm = round(wall_ratio / drift, 2)

    # recall floor: every planted near-dup is a containment pair in
    # BOTH directions (115/120 shared tokens ⇒ C ≈ 0.958 ≥ 0.9)
    planted_small = CONT_DOCS_SMALL // DUP_EVERY
    planted_big = n_big // DUP_EVERY
    pairs_small = containment_pairs_prefix_words(
        spark, docs_of("small")
    ).count()
    pairs_big = containment_pairs_prefix_words(
        spark, docs_of("big")
    ).count()
    print(
        f"\ncontainment slope {n_small}→{n_big} docs: "
        f"wall {wall['small']:.2f}s→{wall['big']:.2f}s ({wall_ratio}×, "
        f"cal-normalized {wall_ratio_norm}× at drift {drift}×); "
        f"candidates {cands['small']}→{cands['big']} "
        f"(rates {rates['small']:.4%}→{rates['big']:.4%}); "
        f"pairs {pairs_small}/{pairs_big} "
        f"(planted ≥{2 * planted_small}/≥{2 * planted_big})"
    )

    _persist_slope(
        slope_json,
        {
            "containment": {
                "engine": "containment_pairs_prefix_words",
                "docs_small": n_small,
                "docs_big": n_big,
                "vocab": CONT_VOCAB,
                "wall_small_sec": round(wall["small"], 3),
                "wall_big_sec": round(wall["big"], 3),
                "wall_ratio": wall_ratio,
                "wall_ratio_cal_normalized": wall_ratio_norm,
                "calibration_small_sec": round(cal_s, 4),
                "calibration_big_sec": round(cal_b, 4),
                "calibration_host_drift": drift,
                "candidates_small": cands["small"],
                "candidates_big": cands["big"],
                "admission_rate_small": round(rates["small"], 6),
                "admission_rate_big": round(rates["big"], 6),
                "pairs_small": pairs_small,
                "pairs_big": pairs_big,
                "planted_small": 2 * planted_small,
                "planted_big": 2 * planted_big,
                "candidate_bound": (
                    f"rate <= {CONT_RATE_MAX} at both scales and "
                    f"rate_big <= {CONT_RATE_GROWTH} * rate_small"
                ),
            }
        }
    )

    assert pairs_small >= 2 * planted_small
    assert pairs_big >= 2 * planted_big
    assert rates["small"] <= CONT_RATE_MAX, rates
    assert rates["big"] <= CONT_RATE_MAX, rates
    assert rates["big"] <= CONT_RATE_GROWTH * rates["small"], rates


# ------------------------------------------------------- IVF ANN slope
# (completes the family coverage: LSH and containment carry persisted
# two-scale counted invariants above; the ANN probe was the remaining
# banded/bucketed engine whose scale evidence lived only in docstrings.)
#
# Corpus: hash-derived uniform vectors — the diverse regime where the
# capped coarse quantizer's lists stay near-balanced. Sizes are chosen
# so the quantizer is CAPPED at both scales (n ≥ stride-switch point
# 4096·61 ≈ 250k): that is the 100 TB regime — centroid count pinned
# at ~IVF_MAX_CENTROIDS, so per-query probed work is a FLAT fraction
# ~N_PROBE/IVF_MAX_CENTROIDS of the corpus and total cost is one
# linear assignment pass. Below the cap the centroid count grows as
# n/61 and assignment flops are quadratic — measuring the slope there
# would measure the build-out phase, not the deployed regime. The
# counted invariant host noise cannot move is the probed-scan
# FRACTION (ivf_scan_stats: exactly the lists _ivf_search scans): a
# degenerate quantizer (all rows one centroid) moves it toward 1.0,
# and growth across the decade means the probe is widening with the
# corpus. Planted near-twins of every query (cos ≈ 0.9999) give the
# recall floor: the probe must still FIND everything it exists to
# find at both scales.
IVF_VECS_SMALL = 250_000
IVF_REPS = 10  # one decade: 250k → 2.5M vectors
IVF_FRAC_MAX = 0.02  # ≤2% of per-query corpus work (expected ~0.05%)
IVF_FRAC_GROWTH = 1.5  # fraction_big ≤ 1.5 × fraction_small
# Capped regime ⇒ ~linear (cost model predicts ~10.15× for the decade:
# n·centroids 250k·4033 → 2.5M·4092). Measured 5.58× (run 1) and
# 10.02× (run 2, big block ~2× contended — within-block contention is
# invisible to the bracketing probes, which min across block edges),
# so the bound carries the LSH slot's noise band rather than hugging
# the model: a quadratic regression (centroid cap broken, probe
# widening with n) measures ~100×, far past either bound, and the
# scan-fraction counting invariant below catches it first anyway.
IVF_MAX_RATIO = 15.0
IVF_PASSES = int(os.environ.get("SPARK_GRAFT_SLOPE_PASSES", "3"))


def _synth_vecs(spark, n_vecs: int, out: str) -> None:
    """Deterministic diverse vector corpus: component j of vector i is
    hash-derived uniform in [-1, 1]. The LAST N_QUERIES ids are planted
    near-twins of the query vectors (ids 0..N_QUERIES-1): identical
    hash components with +0.01 on component 0, so cos(query, twin)
    ≈ 0.9999 — far above the N(0, 1/DIM) background — and recall of
    every twin is a scale-independent correctness floor. All-Catalyst
    generation, no Python row funcs (the _synth_docs pattern)."""
    from pim_orc_spark.operators.similarity import DIM, N_QUERIES

    is_twin = F.col("id") >= n_vecs - N_QUERIES
    base = F.when(
        is_twin, F.col("id") - (n_vecs - N_QUERIES)
    ).otherwise(F.col("id"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            (
                F.pmod(F.xxhash64(base * DIM + j), F.lit(2_000_001))
                - F.lit(1_000_000)
            )
            / F.lit(1_000_000.0)
            + F.when(is_twin & (j == F.lit(0)), F.lit(0.01)).otherwise(
                F.lit(0.0)
            )
        ).cast("float"),
    )
    (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            emb.alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )


@pytest.mark.perf
def test_ivf_scan_scales_one_decade_up(spark, tmp_path, slope_json):
    from bench import calibration
    from pim_orc_spark.operators.similarity import (
        IVF_MAX_CENTROIDS,
        N_QUERIES,
        ann_ivf_topk,
        ivf_scan_stats,
    )

    import time as _time

    dirs, n_of = {}, {}
    for label, n in (
        ("small", IVF_VECS_SMALL),
        ("big", IVF_REPS * IVF_VECS_SMALL),
    ):
        out = str(tmp_path / f"ivf_{label}")
        _synth_vecs(spark, n, out)
        dirs[label], n_of[label] = out, n

    # counted invariant first — this also builds + caches the shipped
    # quantizer artifact, so the timed passes below measure the warm
    # query path (artifact resident), matching the bench protocol
    stats = {
        label: ivf_scan_stats(spark, dirs[label])
        for label in ("small", "big")
    }
    for label in ("small", "big"):
        # the assignment pass must partition the corpus exactly, and
        # the corpus sizing must actually engage the centroid cap
        assert stats[label]["n"] == n_of[label], stats[label]
        assert (
            0.9 * IVF_MAX_CENTROIDS
            <= stats[label]["n_centroids"]
            <= IVF_MAX_CENTROIDS + 1
        ), stats[label]

    # wall clock: warm probe+scan, min-of-N at both scales, bracketed
    # by calibration probes (r15 verdict #2 method — the asserted
    # ratio divides out probe-measured host drift between blocks)
    wall, cals = {}, [calibration(spark)[0]]
    for label in ("small", "big"):
        best = float("inf")
        for _ in range(IVF_PASSES):
            t0 = _time.perf_counter()
            ann_ivf_topk(spark, dirs[label]).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, _time.perf_counter() - t0)
        wall[label] = best
        cals.append(calibration(spark)[0])
    cal_s, cal_b = min(cals[0], cals[1]), min(cals[1], cals[2])
    drift = round(cal_b / cal_s, 3) if cal_s > 0 else 1.0
    wall_ratio = round(wall["big"] / wall["small"], 2)
    wall_ratio_norm = round(wall_ratio / drift, 2)

    # recall floor: every query's planted twin (id n − N_QUERIES + q,
    # cos ≈ 0.9999) must appear in its IVF top-k at both scales
    hits = {}
    for label in ("small", "big"):
        hits[label] = (
            ann_ivf_topk(spark, dirs[label])
            .filter(
                F.col("neighbor_id") - F.col("query_id")
                == n_of[label] - N_QUERIES
            )
            .count()
        )

    print(
        f"\nivf slope {n_of['small']}→{n_of['big']} vecs: "
        f"wall {wall['small']:.2f}s→{wall['big']:.2f}s ({wall_ratio}×, "
        f"cal-normalized {wall_ratio_norm}× at drift {drift}×); "
        f"centroids {stats['small']['n_centroids']}→"
        f"{stats['big']['n_centroids']}; scan fraction "
        f"{stats['small']['scan_fraction']:.4%}→"
        f"{stats['big']['scan_fraction']:.4%}; "
        f"planted twins recalled {hits['small']}/{hits['big']} of "
        f"{N_QUERIES}/{N_QUERIES}"
    )

    _persist_slope(
        slope_json,
        {
            "ivf": {
                "engine": "ann_ivf_topk",
                "vecs_small": n_of["small"],
                "vecs_big": n_of["big"],
                "wall_small_sec": round(wall["small"], 3),
                "wall_big_sec": round(wall["big"], 3),
                "wall_ratio": wall_ratio,
                "wall_ratio_cal_normalized": wall_ratio_norm,
                "calibration_small_sec": round(cal_s, 4),
                "calibration_big_sec": round(cal_b, 4),
                "calibration_host_drift": drift,
                "n_centroids_small": stats["small"]["n_centroids"],
                "n_centroids_big": stats["big"]["n_centroids"],
                "probed_rows_small": stats["small"]["probed_rows"],
                "probed_rows_big": stats["big"]["probed_rows"],
                "scan_fraction_small": round(
                    stats["small"]["scan_fraction"], 6
                ),
                "scan_fraction_big": round(
                    stats["big"]["scan_fraction"], 6
                ),
                "planted_recalled_small": hits["small"],
                "planted_recalled_big": hits["big"],
                "planted_each": N_QUERIES,
                "wall_ratio_bound": IVF_MAX_RATIO,
                "wall_bound_applies_to": "wall_ratio_cal_normalized",
                "fraction_bound": (
                    f"scan_fraction <= {IVF_FRAC_MAX} at both scales "
                    f"and fraction_big <= {IVF_FRAC_GROWTH} * "
                    f"fraction_small"
                ),
            }
        }
    )

    assert hits["small"] == N_QUERIES, hits
    assert hits["big"] == N_QUERIES, hits
    assert stats["small"]["scan_fraction"] <= IVF_FRAC_MAX, stats
    assert stats["big"]["scan_fraction"] <= IVF_FRAC_MAX, stats
    assert (
        stats["big"]["scan_fraction"]
        <= IVF_FRAC_GROWTH * stats["small"]["scan_fraction"]
    ), stats
    assert wall_ratio_norm <= IVF_MAX_RATIO, (
        wall_ratio,
        wall_ratio_norm,
        drift,
    )


# ---------------------------------------------- phash Hamming slope
# (the image family's banded engine: block-pigeonhole candidates over
# 64-bit perceptual hashes. Like the LSH block, banding is an i.i.d.
# per-pair filter over the background hash distribution, so the
# candidate count is rate·n²/2 + planted and the scale-stable
# counting invariant host noise cannot move is the admission RATE.
# For ideal uniform hashes the rate would be the block birthday
# 1−(1−1/512)^7 ≈ 1.4%; this image family's hashes carry ~6.5 bits
# of corpus entropy per 9-bit block (shared gradient structure), so
# the measured floor is ~12% under the stride-7 interleaved
# partition (26% under the naive contiguous one — the measurement
# that motivated the interleave, see PHASH_BLOCKS). The invariant:
# flat across the decade and far below a degenerate-hash regime
# (pre-round-13 linear-gradient pixels concentrated the hash space so
# badly that 32% of ALL pairs verified within Hamming 6). The corpus
# is the operator's own closed-form image family — content is a
# function of doc_id, so scaling the corpus IS scaling the id range;
# every PHASH_DUP_EVERY-th doc renders its predecessor's image with a
# +1 checkerboard retouch (Hamming ≤2), giving the planted recall
# floor. Wall is persisted, not asserted (the containment
# precedent): at the top scale the rate·n²/2 verify join dominates by
# design, so a wall "linearity" bound would be ill-posed — the
# counted rate is the regression tripwire.)
PHASH_DOCS_SMALL = 5_000  # matches the fixture documents count at sf0.1
PHASH_REPS = 10  # one decade: 5k → 50k images
PHASH_RATE_MAX = 0.20  # measured ~12.4% + headroom; uniform ideal 1.4%
PHASH_RATE_GROWTH = 1.5  # rate_big ≤ 1.5 × rate_small (flat ⇒ ~1.0)
PHASH_PASSES = int(os.environ.get("SPARK_GRAFT_SLOPE_PASSES", "3"))


@pytest.mark.perf
def test_phash_hamming_scales_one_decade_up(spark, slope_json):
    from bench import calibration
    from pim_orc_spark.operators.dedup import hamming_candidates
    from pim_orc_spark.operators.multimodal import (
        PHASH_BLOCKS,
        PHASH_DUP_EVERY,
        phash_hashes,
        phash_pairs_from_ids,
    )

    import time as _time

    n_of = {
        "small": PHASH_DOCS_SMALL,
        "big": PHASH_REPS * PHASH_DOCS_SMALL,
    }
    ids = {
        label: spark.range(n).select(F.col("id").alias("doc_id"))
        for label, n in n_of.items()
    }

    # counted invariant: distinct pairs surviving the pigeonhole
    # block join, over unordered pairs n·(n−1)/2
    cands, rates = {}, {}
    for label, n in n_of.items():
        hashed = phash_hashes(spark, ids[label])
        cands[label] = hamming_candidates(
            hashed, "phash", PHASH_BLOCKS
        ).count()
        rates[label] = cands[label] / (n * (n - 1) / 2)

    # wall: full engine (encode → decode → hash → candidates →
    # verify), min-of-N, calibration-bracketed — persisted beside the
    # asserted counting invariants
    wall, cals = {}, [calibration(spark)[0]]
    for label in ("small", "big"):
        best = float("inf")
        for _ in range(PHASH_PASSES):
            t0 = _time.perf_counter()
            phash_pairs_from_ids(spark, ids[label]).write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, _time.perf_counter() - t0)
        wall[label] = best
        cals.append(calibration(spark)[0])
    cal_s, cal_b = min(cals[0], cals[1]), min(cals[1], cals[2])
    drift = round(cal_b / cal_s, 3) if cal_s > 0 else 1.0
    wall_ratio = round(wall["big"] / wall["small"], 2)
    wall_ratio_norm = round(wall_ratio / drift, 2)

    # recall floor: every planted retouch pair (i−1, i), i ≡ 1 mod
    # PHASH_DUP_EVERY, must be in the OUTPUT at both scales
    hits = {}
    for label in ("small", "big"):
        hits[label] = (
            phash_pairs_from_ids(spark, ids[label])
            .filter(
                (F.col("doc_b") - F.col("doc_a") == 1)
                & (F.col("doc_a") % PHASH_DUP_EVERY == 0)
            )
            .count()
        )
    planted = {label: n // PHASH_DUP_EVERY for label, n in n_of.items()}

    print(
        f"\nphash slope {n_of['small']}→{n_of['big']} images: "
        f"wall {wall['small']:.2f}s→{wall['big']:.2f}s ({wall_ratio}×, "
        f"cal-normalized {wall_ratio_norm}× at drift {drift}×); "
        f"candidates {cands['small']}→{cands['big']} "
        f"(rates {rates['small']:.4%}→{rates['big']:.4%}); "
        f"planted recalled {hits['small']}/{planted['small']} and "
        f"{hits['big']}/{planted['big']}"
    )

    _persist_slope(
        slope_json,
        {
            "phash": {
                "engine": "phash_pairs_from_ids",
                "docs_small": n_of["small"],
                "docs_big": n_of["big"],
                "wall_small_sec": round(wall["small"], 3),
                "wall_big_sec": round(wall["big"], 3),
                "wall_ratio": wall_ratio,
                "wall_ratio_cal_normalized": wall_ratio_norm,
                "wall_asserted": False,
                "wall_note": (
                    "rate*n^2/2 verify join dominates the top scale "
                    "by design; the admission rate is the asserted "
                    "invariant (containment-block precedent)"
                ),
                "calibration_small_sec": round(cal_s, 4),
                "calibration_big_sec": round(cal_b, 4),
                "calibration_host_drift": drift,
                "candidates_small": cands["small"],
                "candidates_big": cands["big"],
                "admission_rate_small": round(rates["small"], 6),
                "admission_rate_big": round(rates["big"], 6),
                "planted_recalled_small": hits["small"],
                "planted_recalled_big": hits["big"],
                "planted_small": planted["small"],
                "planted_big": planted["big"],
                "candidate_bound": (
                    f"rate <= {PHASH_RATE_MAX} at both scales and "
                    f"rate_big <= {PHASH_RATE_GROWTH} * rate_small"
                ),
            }
        }
    )

    assert hits["small"] == planted["small"], hits
    assert hits["big"] == planted["big"], hits
    assert rates["small"] <= PHASH_RATE_MAX, rates
    assert rates["big"] <= PHASH_RATE_MAX, rates
    assert rates["big"] <= PHASH_RATE_GROWTH * rates["small"], rates
