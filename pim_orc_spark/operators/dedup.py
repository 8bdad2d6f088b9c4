"""Deduplication operators over `documents` / `embeddings` (north star:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine).

Scale design:

- ``dedup_exact`` — hash-groupBy on the normalized text: one shuffle on
  the fingerprint, linear at any scale. This is THE 100 TB exact-dedup
  plan (shuffle keys are fingerprints, not documents).
- ``dedup_minhash_lsh`` — the 100 TB near-dedup plan: shingle →
  128-perm MinHash signature (map-side, no shuffle) → band → bucket
  self-join (shuffle on band keys only) → exact-Jaccard verification of
  candidates. With r=4, b=32 a pair at J=0.8 is missed with probability
  (1-0.8^4)^32 ≈ 5e-8, so its output equals the exact baseline's and is
  oracle-checked against the same SQL.
- ``dedup_ngram_jaccard`` — exact all-pairs baseline (array_intersect
  over a bounded-size candidate cross join). Quadratic: correct at
  fixture scale, exists to define the oracle semantics the LSH path
  must reproduce. Not the scale path, and says so.
- ``dedup_simhash`` — 32-bit SimHash per doc from the portable rolling
  hash, fmix32-finalized (raw poly_hash of short tokens leaves the
  high bits dead — see the dedup_simhash docstring). Map-only + one
  groupBy shuffle. ``dedup_simhash_pairs`` finds its Hamming ball
  through ``hamming_pairs``, the one block-pigeonhole pair kernel the
  SimHash and image pHash (multimodal.py) engines share; each family
  keeps only its block partition.
- ``dedup_embedding_cosine`` — cosine near-dup pairs; all-pairs at
  fixture scale, LSH-bucketed variant in similarity.py for scale.

Every Jaccard and containment engine (MinHash narrow and wide, the
bitset and n-gram twins, the all-pairs and both prefix containment
engines) shares one verify kernel: ``_inter`` counts a bitset
intersection by AND+popcount, ``_size_gate`` is the lossless size-ratio
prefilter, and ``_verified`` decides ``round(ratio, 6) >= T`` with an
exact long compare (``_round6_boundary``), so ``round()`` runs once per
output pair, in the final projection, never in a join condition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pim_orc_spark.catalog import load_table
from pim_orc_spark.session import default_parallelism
from pim_orc_spark.functions.hashing import (
    MOD,
    fmix32_spark_sql,
    fmix32_sql,
    minhash_params,
    poly_hash,
    poly_hash_sql,
)
from pim_orc_spark.functions.textfns import char_ngrams, char_ngrams_sql, tokens, tokens_sql
from pim_orc_spark.functions.vector import (
    as_double_vec,
    cosine_sql,
    dot_unrolled_sql,
    unit_vec,
)
from pim_orc_spark.plans import explode_nonempty, spread

NGRAM_N = 3
JACCARD_T = 0.8
COSINE_T = 0.45
EMB_DIM = 64  # fixture embedding dimension (TESTDATA.md)
MINHASH_K = 128
LSH_BANDS = 32  # r = MINHASH_K / LSH_BANDS = 4 rows per band
LSH_SALT = 8  # sub-buckets a hot band key is split into
# Band-bucket size above which salting kicks in. Calibrated by WORK,
# not row count: a bucket of n docs costs ~n²/2 pair evaluations in one
# join task, and salting only pays once that exceeds several
# task-seconds (~1e8 evals ⇒ n ≈ 10k). Below that, the salted plan's
# overhead — the ×salt explode of every hot right-side row, each
# carrying its 32-key array + mask through the shuffle — costs more
# than the straggler it removes (measured at sf0.1: the old 1000-doc
# threshold salted this corpus's template buckets and ran 2-5× slower
# than the unsalted join of the same pairs).
LSH_HOT_BUCKET = 10_000
# The MinHash engine's narrow/wide bound: a gram dictionary of at most
# this many 64-bit words (4096 grams, a 512 B mask) is built as bit_or
# words inside the fused signature aggregate and rides the banded rows
# as flat long columns, so Jaccard verification is inline in the band
# join; a wider dictionary collects exact index sets instead and
# attaches them to the (smaller-per-row) candidate set with two
# doc-keyed joins. See dedup_minhash_lsh. It also bounds that
# aggregate's width at 1 + MINHASH_K + 64 = 193 output fields, which
# spark.sql.codegen.maxFields (session.PARITY_RUNTIME_CONFS) must cover
# for the aggregate to stay in whole-stage codegen.
CARRY_MASK_MAX_WORDS = 64
# Posting-mask attach strategy bound (r17): the containment engine's
# index-space join attaches the posting side's verify bitset AFTER the
# candidate join with a doc_b-keyed join against the doc-sized encoded
# index. When the index's estimated footprint (docs × mask row bytes)
# fits below this bound it is broadcast — a map-side probe, zero
# additional shuffle; past it the join is left to the planner (on the
# sparse corpora that reach that size the gated candidate set is ≈ the
# true pair set, so a keyed attach shuffles pair-sized, not
# posting-sized, rows). Same deliberate size-keyed strategy choice
# Spark's own autoBroadcastJoinThreshold makes (guide §3.1), made
# explicit because the localCheckpoint'd index has no catalog stats.
MASK_ATTACH_BROADCAST_BYTES = 64 << 20


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: keep min doc_id per
    group. GroupBy on md5 — the shuffle moves (hash, id) pairs only."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", tokens("text"))
    return (
        d.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def _grams_of(spark: SparkSession, docs: DataFrame) -> DataFrame:
    # Shingling costs ~100× a scan per byte — spread beyond file splits.
    d = spread(spark, docs)
    return d.select("doc_id", char_ngrams("text", NGRAM_N).alias("grams"))


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _grams_of(spark, load_table(spark, sf_dir, "documents"))


def _gram_dictionary(
    g: DataFrame, rare_first: bool = False
) -> tuple[DataFrame, int]:
    """Global gram → bit-index dictionary: a bounded distinct (char-
    3-gram alphabet ≲ 47k entries) with ids assigned by a window over
    that bounded dictionary, never over documents. Returns the cached
    dictionary and its cardinality (the count is a metadata-scale
    action over ≲47k rows).

    ``rare_first=True`` assigns indices in ascending (document
    frequency, gram) order instead of alphabetical — the containment
    engine's global prefix order baked INTO the index space (r16): a
    doc's p rarest grams are then simply its p smallest indices, so
    prefix extraction becomes a map-side array slice instead of a
    corpus-wide rank window. Bitset semantics are layout-invariant
    (AND+popcount doesn't care which gram owns which bit), so masks
    built over either ordering verify identically."""
    base = g.select(explode_nonempty("grams").alias("gram"))
    if rare_first:
        order = (
            base.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                "gram",
                (
                    F.row_number().over(Window.orderBy("df", "gram")) - 1
                ).alias("idx"),
            )
        )
    else:
        order = base.distinct().select(
            "gram",
            (F.row_number().over(Window.orderBy("gram")) - 1).alias("idx"),
        )
    grams_dict = order.cache()  # bounded; reused by the encode join
    return grams_dict, grams_dict.count()


def _mask_expr(nb: int) -> str:
    """SQL fragment folding an ``idxs`` int-array column into a fixed-
    width ``nb``-word bitset (array of longs)."""
    return (
        f"transform(sequence(0, {nb - 1}), w -> "
        "aggregate(filter(idxs, i -> i div 64 = w), 0L, "
        "(a, i) -> a | shiftleft(1L, i % 64)))"
    )


def _bitset_encode(
    spark: SparkSession,
    g: DataFrame,
    rare_first: bool = False,
    keep_idxs: bool = False,
) -> tuple[DataFrame, int]:
    """Dictionary-encode each doc's gram set as a fixed-width bitset
    (array of longs), so set intersection is AND+popcount instead of
    string-array intersect (~100× less work per pair).

    Returns ``(enc, nb)``: ``enc`` has (doc_id, mask array<long>, sz),
    ``nb`` is the number of 64-bit words. ``rare_first`` picks the
    dictionary's index order (see _gram_dictionary); ``keep_idxs``
    additionally materializes each doc's SORTED index array on the
    row — with a rare-first dictionary that array's prefix IS the
    containment engine's pigeonhole prefix.
    """
    grams_dict, n_grams = _gram_dictionary(g, rare_first=rare_first)
    nb = (n_grams + 63) // 64

    # The collect_set form is the MEASURED winner here (r17 A/B, guide
    # §1.1's "the ideal plan is usually slower at first"): a bit_or
    # word-aggregate variant (the minhash fused build's formulation,
    # with idxs re-derived from the mask map-side) produced identical
    # output but ran 1.31 s vs 0.97 s median interleaved at sf0.1 —
    # this aggregate's input is one narrow (doc_id, idx) row per gram
    # occurrence and its groups are doc-sized, where the minhash case
    # fuses the bit_ors beside 128 min() columns whose codegen the
    # single collect_set would demote. Reverted, recorded here so the
    # next round doesn't re-try it.
    doc_idx = (
        g.select("doc_id", explode_nonempty("grams").alias("gram"))
        .join(F.broadcast(grams_dict), "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("idxs"))
    )
    cols = ["doc_id", f"{_mask_expr(nb)} AS mask", "size(idxs) AS sz"]
    if keep_idxs:
        cols.append("sort_array(idxs) AS idxs")
    enc = doc_idx.selectExpr(*cols)
    # Both consumers attach masks to BOTH pair sides; without a
    # materialization Spark re-runs the whole explode→join→encode
    # pipeline once per side. One row of a few mask words per doc
    # — executor-local storage linear in the corpus, the same trade as
    # the `g` checkpoint — and the materialized stats let AQE pick a
    # broadcast attach when the encoded table is small.
    return enc.localCheckpoint(), nb


def _tree_sum_sql(terms: list[str]) -> str:
    """Sum SQL terms as a BALANCED parenthesized tree (depth log₂ n),
    not a left-nested chain (depth n): a wide-dictionary corpus makes
    these sums hundreds of terms (containment's ``_inter`` runs at
    hundreds of words), and the parser and analyzer recurse once per
    nesting level, so a chain that deep overflows the JVM stack before
    the query even runs."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _gate_fraction(threshold: float | None = None):
    """Rational lower bound fr ≤ threshold for the size gate's integer
    math. ``limit_denominator`` alone can round ABOVE the threshold
    (0.4999 → 1/2), which would make the "lossless" gate lossy — a pair
    with J ≥ t but size ratio in (fr', t) would be wrongly pruned. When
    the compact fraction rounds up, fall back to the exact-or-below
    10⁻⁶-grid truncation; the assert below pins the invariant on
    every call. Guarantees: fr ≤ t always
    (losslessness — the correctness property), and fr > t − 1/1000
    (limit_denominator(1000)'s worst-case gap, hit when the nearest
    small-denominator fraction sits below t — e.g. 71/126 at
    t ≈ 0.5634961; a slightly loose gate only admits a few extra
    candidates to exact verification, never loses a pair).
    Hypothesis-tested over arbitrary thresholds."""
    from fractions import Fraction

    t = JACCARD_T if threshold is None else threshold
    fr = Fraction(t).limit_denominator(1000)
    if fr > Fraction(t):
        num = int(t * 10**6)  # truncated decimal grid, ≤ t up to the
        if Fraction(num, 10**6) > Fraction(t):  # float-multiply round-up
            num -= 1
        fr = Fraction(num, 10**6)
    assert fr <= Fraction(t), f"size-gate fraction {fr} exceeds {t}"
    return fr


def _round6_boundary(threshold: float) -> int:
    """The exact integer-arithmetic form of the verify predicate
    ``round(n / d, 6) >= threshold`` (Spark HALF_UP double round):
    returns ``B`` such that the predicate ⟺ ``2_000_000·n > B·d`` for
    every pair of integers 0 ≤ n ≤ d < 2·10⁶ — containment's d = |A|
    and Jaccard's d = |A| + |B| − n both sit far inside that range.

    Derivation: round(x, 6) ≥ T compares the double nearest k/10⁶
    (k = half-up of x·10⁶) against the double T; by monotonicity that
    holds iff k ≥ K, where K is the smallest integer with
    double(K/10⁶) ≥ T (found below by direct search — Python and Java
    both produce the correctly-rounded double for k/10⁶), iff
    x ≥ B/(2·10⁶) with B = 2K − 1 and x = double(n/d). B is odd and,
    by the assert, not a multiple of 5, so gcd(B, 2·10⁶) = 1: the
    exact rational n/d equals B/(2·10⁶) only if 2·10⁶ | d, impossible
    for 0 < d < 2·10⁶. It therefore sits ≥ 1/(2·10⁶·d) > 2.5·10⁻¹³
    from the boundary, far beyond the ≤ 2⁻⁵³ error of the double
    division, so the EXACT integer compare and the double compare
    agree on every pair. Because equality is impossible, the strict
    ``>`` is the same predicate, and it also rejects d = 0, where n/d
    is NULL and the round filter never passes. Pinned against Spark's
    own round in
    tests/test_dedup.py::test_containment_integer_gate_matches_round_filter
    and ::test_jaccard_integer_gate_matches_round_filter."""
    k = int(threshold * 10**6) - 2
    while not (k / 10**6) >= threshold:
        k += 1
    bnd = 2 * k - 1
    assert bnd % 5 != 0, f"boundary {bnd} of {threshold} shares 5 with 10⁶"
    return bnd


def _size_gate(sza, szb, threshold: float, symmetric: bool) -> Column:
    """Lossless size-ratio prefilter over two set sizes (column names
    or Columns): |A∩B| ≤ |B|, so n/|A| ≥ t forces |B|·den ≥ |A|·num,
    and a ``symmetric`` (Jaccard) ratio ≥ t forces the mirrored compare
    too. num/den = _gate_fraction(threshold) ≤ t keeps it lossless, so
    one or two integer multiply-compares discard a pair before its set
    intersection. Every engine that has a per-pair intersection to
    skip runs it: the reference twins, the wide MinHash verify and
    both containment prefix engines. The narrow MinHash path leaves
    it out on purpose: its verify runs inside the band-join condition,
    where every extra conjunct costs per candidate, and the tiny
    dictionaries that take that branch have concentrated doc sizes the
    gate cannot prune (measured +21% on the benched sf0.1 slot)."""
    sza, szb = (F.col(c) if isinstance(c, str) else c for c in (sza, szb))
    fr = _gate_fraction(threshold)
    gate = szb * fr.denominator >= sza * fr.numerator
    if symmetric:
        gate = gate & (sza * fr.denominator >= szb * fr.numerator)
    return gate


def _inter(nb: int, a: str, b: str) -> str:
    """|A∩B| of two ``nb``-word bitsets as unrolled AND+popcount: flat
    codegen arithmetic, no per-pair lambda or array allocation. ``a``
    and ``b`` name an array<long> column, or carry a ``{w}`` field that
    names flat per-word long columns (``"m{w}_a"``). Returned as SQL
    text for ``selectExpr``: built as Columns, the nb-word sum costs
    several gateway round trips per word."""

    def word(c: str, w: int) -> str:
        return c.format(w=w) if "{w}" in c else f"{c}[{w}]"

    return _tree_sum_sql(
        [f"bit_count({word(a, w)} & {word(b, w)})" for w in range(nb)]
    )


def _verified(pairs: DataFrame, name: str, distinct: bool = False) -> DataFrame:
    """The one verify decision of every Jaccard and containment engine.

    ``pairs`` is (key_a, key_b, n_common, sza[, szb]). ``name``
    "jaccard" tests n / (sza + szb − n) against JACCARD_T; "containment"
    tests n / sza against CONTAIN_T. Both thresholds are read at call
    time. ``round(ratio, 6) >= T`` is decided by _round6_boundary's
    exact long compare — for Jaccard ``(2·10⁶ + B)·n > B·(sza + szb)``,
    the same predicate with d = sza + szb − n, so the intersection
    appears once when Catalyst pushes the gate into a join condition.
    round() runs only in the final projection, on the survivors, after
    the DISTINCT when ``distinct`` is set (the inline engines emit a
    pair once per colliding band or gram). A round kept in a filter
    would be pushed into the join condition too, where Spark's Round
    builds a BigDecimal per candidate row."""
    a, b = pairs.columns[:2]
    n, sza = F.col("n_common"), F.col("sza")
    if name == "jaccard":
        bnd = _round6_boundary(JACCARD_T)
        both = sza + F.col("szb")
        gate = n.cast("long") * (2_000_000 + bnd) > both.cast("long") * bnd
        ratio = n.cast("double") / (both - n)
    else:
        bnd = _round6_boundary(CONTAIN_T)
        gate = n.cast("long") * 2_000_000 > sza.cast("long") * bnd
        ratio = n.cast("double") / sza
    out = pairs.where(gate)
    if distinct:
        out = out.distinct()
    return out.select(a, b, F.round(ratio, 6).alias(name))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs character-3-gram Jaccard ≥ 0.8. Quadratic
    verification baseline (the LSH operator must reproduce this output);
    Jaccard is a ratio of small ints — bit-identical across engines."""
    g = _grams(spark, sf_dir)
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    pairs = a.crossJoin(b).select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("ga", "gb")).alias("n_common"),
        F.size("ga").alias("sza"),
        F.size("gb").alias("szb"),
    )
    # the size gate skips the string-array intersect for pairs that
    # cannot pass
    return _verified(
        pairs.filter(
            (F.col("doc_a") < F.col("doc_b"))
            & _size_gate("sza", "szb", JACCARD_T, symmetric=True)
        ),
        "jaccard",
    )


def _hot_band_buckets(
    banded: DataFrame,
    hot_threshold: int | None = None,
) -> tuple[DataFrame, bool]:
    """(hot_frame, is_empty): the band buckets whose SELF-JOIN WORK
    makes them stragglers. An explicit ``hot_threshold`` is the legacy
    absolute doc-count rule (tests pin behavior with it); the default
    ``None`` is WORK-RELATIVE (r16, guide §2.5 — skew is about a
    partition's share of work, not an absolute row count): a bucket is
    hot when its pair count n(n−1)/2 exceeds the FAIR PER-PARTITION
    SHARE of the total pair work at the join's pinned parallelism,
    still capped by the absolute LSH_HOT_BUCKET bound. The fixture
    corpus measured why: its largest band bucket (2,427 of 5,000 docs)
    owns 2.9M of 19.7M pairs — 10× the fair share, a one-core
    straggler the 10k absolute threshold never catches, while on a
    100 TB corpus the fair share is enormous and only genuinely
    degenerate buckets qualify. Salting is output-identical either
    way (property-tested), so the rule only moves work, never pairs.
    Cost: one aggregate + one scalar collect over the bucket-size
    relation — per artifact build on the resident-index path, per
    invocation on rebuild-per-call paths."""
    import math

    sizes = banded.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("n")
    )
    hot_empty = None
    if hot_threshold is None:
        n_parts = default_parallelism(banded.sparkSession) * 2
        # ONE probe job for both decisions (r16 ADVICE: this used to
        # be two eager actions per plan construction on the
        # rebuild-per-call paths): the same bucket-size aggregate
        # yields the total pair work (threshold input) AND the largest
        # bucket (whose comparison against the threshold IS the
        # emptiness answer — no separate limit(1).count probe).
        total_pairs, max_n = sizes.agg(
            F.coalesce(
                F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0.0)
            ),
            F.coalesce(F.max("n"), F.lit(0)),
        ).collect()[0]
        fair = total_pairs / n_parts
        n_cut = (
            int(math.ceil((1 + math.sqrt(1 + 8 * fair)) / 2))
            if fair > 1
            else 2
        )
        hot_threshold = min(LSH_HOT_BUCKET, max(n_cut, 2))
        hot_empty = max_n <= hot_threshold
    hot_df = sizes.filter(F.col("n") > hot_threshold).select(
        "band", "key", F.lit(True).alias("is_hot")
    )
    if hot_empty is None:  # explicit-threshold (legacy/test) path
        hot_empty = hot_df.limit(1).count() == 0
    return hot_df, hot_empty


def _salted_band_candidates(
    banded: DataFrame,
    salt: int = LSH_SALT,
    hot_threshold: int | None = None,
    payload: tuple[str, ...] = (),
    hot: tuple[DataFrame, bool] | None = None,
) -> DataFrame:
    """Self-join ``banded`` (doc_id, band, key) on (band, key) with hot
    band keys salted, yielding candidate pairs (doc_a, doc_b), doc_a <
    doc_b (a pair repeats once per band it collides in).

    ``payload`` names extra ``banded`` columns carried through the join:
    each column ``c`` surfaces as ``c_a``/``c_b`` on the output, letting
    the caller verify pairs inline in the join stage instead of
    re-attaching per-doc state with two more joins over the (much
    larger) candidate set.

    A degenerate band key — every boilerplate page sharing one template
    hashes its 4-row band identically — puts its whole bucket into ONE
    join task: the straggler that decides the job's wall clock at 100 TB.
    Salting bounds it explicitly (AQE skew-join splitting helps for
    sort-merge plans but is best-effort and disabled inside streaming):

    1. One partial-aggregated pass counts bucket sizes; only keys with
       > ``hot_threshold`` docs are kept. The hot set is small by
       construction (each entry represents ≥ threshold docs), so the
       tag join broadcasts at runtime.
    2. Left side of the self-join gets salt = xxhash64(doc_id) % salt
       for hot keys (0 otherwise); right side explodes all ``salt``
       values for hot keys (single 0 otherwise). Every pair still meets
       on exactly one (band, key, salt) — output is IDENTICAL to the
       unsalted join — but a hot bucket's work now spreads across
       ``salt`` tasks, each holding ~1/salt of the bucket's left rows.

    Cost when nothing is hot: just the count pass (partial-agg,
    metadata-sized shuffle) — the driver checks the hot set ONCE and
    runs the plain self-join when it is empty, skipping the tag join
    and the per-row salt explode entirely (measured ~2 s of pure
    overhead on 19.7M generated pairs at sf0.1 with zero hot keys).
    The same runtime-statistics-then-replan move AQE makes, done
    explicitly because the salt must be woven into the join key; the
    pair set is identical on both branches.

    LAZINESS CONTRACT: that hot-set probe is an EAGER Spark action at
    plan-build time — constructing the returned DataFrame runs one
    metadata-sized job over ``banded`` before the caller ever executes
    it. This is deliberate (the salt must be woven into the join key,
    so the branch cannot be deferred to execution the way AQE defers
    its replans) and cheap ONLY when ``banded`` is derived from a
    materialized (checkpointed/cached) input, as every in-repo caller
    guarantees; handing in an unmaterialized expensive lineage would
    run that lineage once extra here. Callers whose banded rows derive
    from a RESIDENT index can pass ``hot=(hot_frame, is_empty)`` —
    bucket-size statistics ARE part of such an index (they change only
    when the documents do), so recounting them per query was the
    anomaly; the LSH engine caches them beside the signatures (r16).

    PARTITION PINNING (r16, guide §2.5 "synthetic keys" / the
    bitset_pairs precedent): both join sides are explicitly
    repartitioned on the join key to 2× cluster parallelism. The
    banded input is SMALL in bytes (one narrow row per doc×band), so
    AQE's coalescing sizes the post-shuffle partition count from
    shuffle BYTES and cannot see that the join's OUTPUT explodes
    ~100× on a high-background-similarity corpus — the per-pair
    verify work then runs on a handful of cores. The explicit
    key-hash repartition blocks the coalesce (user-specified
    numPartitions) and keeps the pair evaluation spread across the
    cluster; at scale the banded set is large and the count matches
    what the exchange would have planned anyway (measured on the
    sf0.1 slot, identical output: 3.48 s → 2.86 s min-of-3).
    """
    n_parts = default_parallelism(banded.sparkSession) * 2
    pair_filter = F.col("doc_a") < F.col("doc_b")

    # SQL text, not Columns: a narrow-branch payload is up to
    # CARRY_MASK_MAX_WORDS + 1 renames per side, and every Column call
    # is its own gateway round trip.
    def side(alias: str, suffix: str) -> list[str]:
        return [
            f"doc_id AS {alias}",
            "band",
            "key",
            *(f"{c} AS {c}_{suffix}" for c in payload),
        ]

    out_cols = ["doc_a", "doc_b"]
    out_cols += [f"{c}_a" for c in payload] + [f"{c}_b" for c in payload]

    if hot is None:
        hot_df, hot_empty = _hot_band_buckets(banded, hot_threshold)
    else:
        hot_df, hot_empty = hot
    # The self-join is pinned to SORT-MERGE (hint) for two load-bearing
    # reasons: (1) at 100 TB the banded set is corpus-sized — a
    # broadcast of it is never right, and letting fixture-scale stats
    # steer AQE into BHJ here would bench a plan that cannot scale;
    # (2) a deterministic join strategy keeps the measured plan stable
    # across corpus sizes and runs — AQE was observed flip-flopping
    # between BHJ and SMJ on this join depending on checkpoint size
    # estimates, changing both the wall clock and which generated
    # class hits janino's 64 KB fallback.
    if hot_empty:
        left = (
            banded.selectExpr(*side("doc_a", "a"))
            .repartition(n_parts, "band", "key")
            .hint("shuffle_merge")
        )
        right = banded.selectExpr(*side("doc_b", "b")).repartition(
            n_parts, "band", "key"
        )
        return (
            left.join(right, ["band", "key"])
            .filter(pair_filter)
            .selectExpr(*out_cols)
        )
    tagged = banded.join(F.broadcast(hot_df), ["band", "key"], "left")
    left = tagged.selectExpr(
        *side("doc_a", "a"),
        "CAST(CASE WHEN is_hot THEN pmod(xxhash64(doc_id), "
        f"{salt}) ELSE 0 END AS INT) AS salt",
    ).repartition(n_parts, "band", "key", "salt").hint("shuffle_merge")
    right = tagged.selectExpr(
        *side("doc_b", "b"),
        f"explode(CASE WHEN is_hot THEN sequence(0, {salt - 1}) "
        "ELSE array(0) END) AS salt",
    ).repartition(n_parts, "band", "key", "salt")
    return (
        left.join(right, ["band", "key", "salt"])
        .filter(pair_filter)
        .selectExpr(*out_cols)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32 bands × 4 rows) near-dedup, candidates
    verified with exact Jaccard — the 100 TB plan.

    Stages (shuffles marked):
      1. shingle → explode → hash each gram once → broadcast-join the
         bounded gram dictionary → ONE groupBy per doc computing the
         128 partially-aggregable min()s AND the verification bitset
         together: the shuffle carries one 128-column partial row per
         doc per partition, not |grams| rows, and the encode costs no
         second corpus pass.
      2. posexplode band keys → salted self-join on (band, key)
         (``_salted_band_candidates``): shuffles O(docs × bands) small
         rows, with hot buckets split across salt sub-keys so no
         single task owns a degenerate band key.
      3. Exact-Jaccard verification via AND+popcount. Adaptive attach:
         when the corpus's bitset fits ``CARRY_MASK_MAX_WORDS`` (known
         after the bounded dictionary count), each doc's mask rides its
         banded rows and verification evaluates INSIDE the band-join
         condition — the candidate set never materializes, never
         shuffles, and the generated condition is small enough to stay
         in compiled codegen. A wider dictionary (past 64 words = 4096
         grams: a diverse corpus, or a token-feature variant) flips
         BOTH stages: the signature build collects exact
         dictionary-index SETS (O(1) per gram — the dense bit_or form
         costs O(nb) per gram, which between fixture scale and
         dictionary saturation is effectively quadratic in the corpus;
         caught by tests/test_scale_slope.py), and verification runs on
         skinny band rows whose candidates are DISTINCTed, then
         size-gated and checked by hash-based array_intersect after two
         candidate-keyed index-set attach joins. Same threshold-style
         runtime choice Spark itself makes between broadcast and
         shuffle joins; both paths are oracle-identical and tested.
      4. Exactly-once output: the inline path DISTINCTs the verified
         SURVIVORS — |result| × colliding-band multiplicity rows, a
         metadata-sized shuffle (round 3 paid a ~20M-row candidate
         DISTINCT here; verification-first shrinks it ~10⁴×). The wide
         path DISTINCTs its skinny candidates before the attach joins.
         Both decide ``round(J, 6) >= JACCARD_T`` with ``_verified``'s
         exact long gate and round only the output pairs.
    """
    # SIGNATURE INDEX REUSE: production MinHash dedup maintains doc
    # signatures as a PERSISTENT index (they change only when documents
    # change) and queries re-run only the band join; rebuilding the
    # index per query is the anomaly, not the optimization. The narrow
    # per-doc checkpoint (keys + mask + sz — the round-4 32×-reduced
    # row) is cached per (Spark application, table directory) and the
    # fixture directories are immutable within a process, so repeat
    # invocations (bench iterations, sweeps) pay only the pair stage —
    # the same resident-intermediate trade orc_table makes with its
    # materialized ORC copy. ``minhash_pairs`` stays rebuild-per-call
    # for arbitrary (possibly changing) input DataFrames.
    from pim_orc_spark.artifacts import cached_artifact

    def _sig_probe(art) -> bool:
        # localCheckpoint blocks are NOT fault-tolerant: if an executor
        # died since the build, touching the cached frame raises — the
        # probe's exception makes cached_artifact rebuild instead of
        # every later reuse failing unrecoverably. The touch runs one
        # (cheap, single-partition-short-circuited) Spark job per cache
        # hit; that per-hit cost is the price of detecting lost blocks
        # BEFORE the pair stage wastes a full pass on them. The return
        # value is deliberately ignored: an empty-but-alive frame is a
        # valid artifact. The nb==0 build stores (None, 0, None, True)
        # — guard both touches, or every cache hit on an empty corpus
        # would raise, evict, and rebuild per call (r16 ADVICE: the
        # cache was permanently defeated for that case).
        if art[0] is not None:
            art[0].isEmpty()
        if art[2] is not None:
            art[2].isEmpty()
        return True

    def _build():
        per_doc, nb = _doc_signatures(
            spark, load_table(spark, sf_dir, "documents")
        )
        if nb == 0:
            return None, 0, None, True
        # Hot-bucket statistics are part of the resident index (they
        # change only when the signatures do — r16): computing them
        # here deletes the per-query eager jobs the salting
        # branch-probe otherwise runs inside _salted_band_candidates.
        # Same work-relative straggler rule as the direct path
        # (_hot_band_buckets).
        hot_df, hot_empty = _hot_band_buckets(
            per_doc.select(
                "doc_id", F.posexplode("keys").alias("band", "key")
            )
        )
        return per_doc, nb, hot_df.localCheckpoint(), hot_empty

    # cache key carries the carry-threshold AND the hot threshold:
    # narrow and wide builds produce DIFFERENT per-doc schemas (mask
    # words vs index set), and the cached hot set is only valid for
    # the threshold it was counted against (tests monkeypatch both;
    # production may tune them). It also carries the parallelism the
    # work-relative hot rule was sized against (r16 ADVICE: a
    # mid-application shuffle-partition change under the Connect
    # fallback would otherwise reuse a hot set sized for a different
    # fair share — perf-only, but the key is the cheap fix).
    per_doc, nb, hot_df, hot_empty = cached_artifact(
        f"minhash_sigs_c{CARRY_MASK_MAX_WORDS}_h{LSH_HOT_BUCKET}"
        f"_p{default_parallelism(spark)}",
        spark,
        sf_dir,
        _build,
        probe=_sig_probe,
    )
    if nb == 0:
        return _empty_pairs(spark)
    return _pairs_from_sigs(per_doc, nb, hot=(hot_df, hot_empty))


def _empty_pairs(
    spark: SparkSession, a: str = "doc_a", b: str = "doc_b", ratio: str = "jaccard"
) -> DataFrame:
    """The contract schema for a pair query over an empty corpus."""
    return spark.createDataFrame([], f"{a} long, {b} long, {ratio} double")


def minhash_pairs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The MinHash+LSH pair engine behind ``dedup_minhash_lsh``, usable
    on ANY (doc_id, text) DataFrame — e.g. the survivor set mid-way
    through a curation pipeline (operators/pipeline.py), not just the
    fixture table. Semantics and stages: see ``dedup_minhash_lsh``.
    Builds the signature index fresh each call (the input may be any
    derived set); the fixture-table entry point caches it."""
    per_doc, nb = _doc_signatures(spark, docs)
    if nb == 0:
        return _empty_pairs(spark)
    return _pairs_from_sigs(per_doc, nb)


def _signature_agg(
    spark: SparkSession, docs: DataFrame
) -> tuple[DataFrame | None, int]:
    """Stage 1's fused signature+bitset aggregate, one row per doc:
    doc_id, the MINHASH_K signature mins s0.., and either the nb bitset
    words m0.. (narrow dictionary) or the index set gset (wide).
    Returns (agg, n_mask_words); (None, 0) for an empty corpus."""
    # Shingling costs ~100× a scan per byte and TWO consumers explode
    # `g` (the dictionary distinct and the fused signature+encode pass)
    # — materialize it once. Executor-local storage linear in the
    # corpus, the standard trade for a multiply-consumed intermediate.
    g = _grams_of(spark, docs).localCheckpoint()
    grams_dict, n_grams = _gram_dictionary(g)
    nb = (n_grams + 63) // 64
    if nb == 0:
        # Empty corpus (no documents ⇒ no grams ⇒ no dictionary): there
        # are no pairs and no index to build (0-word masks would be
        # degenerate expressions).
        return None, 0

    # FUSED signature + bitset-encode pass: explode → hash each gram
    # exactly ONCE → broadcast-join the bounded dictionary → ONE groupBy
    # per doc computing the 128 min-aggregates AND the bitset index set
    # together. (Round 3 ran two corpus-sized groupBys — one for
    # signatures, one for the encode — plus a doc-keyed join to zip them
    # back; the fused pass halves the per-doc shuffles and deletes that
    # join. The array-fold formulation of the signatures looks
    # shuffle-free but Catalyst's CollapseProject inlines the hash array
    # into all 128 signature expressions, recomputing every gram hash
    # 128× — measured 60× slower. min() is partially aggregable, so this
    # shuffles only one 128-column partial row per doc per partition.)
    ex = (
        g.select("doc_id", explode_nonempty("grams").alias("gram"))
        .join(F.broadcast(grams_dict), "gram")
        .select("doc_id", poly_hash("gram").alias("h"), "idx")
    )
    # The aggregate is ONE SQL statement, not 128 + nb Column
    # expressions: Column algebra pays gateway round trips per call
    # (~60 per signature column), and building this aggregate that way
    # cost seconds of driver time per plan. The literals keep the
    # Column form's types (a, b and MOD are int literals under a bigint
    # h), so the signatures are bit-identical.
    sig_cols = [
        f"min((h * {a} + {b}) % {MOD}) AS s{i}"
        for i, (a, b) in enumerate(minhash_params(MINHASH_K))
    ]
    if nb <= CARRY_MASK_MAX_WORDS:
        # NARROW dictionary — bitset words as bit_or aggregates, NOT
        # collect_set + a mask fold: collect_set is a
        # TypedImperativeAggregate, and one such column demotes the
        # ENTIRE 128-min aggregate from HashAggregateExec to
        # ObjectHashAggregate (measured ~1.7× slower end-to-end).
        # bit_or is declarative, so the fused agg stays a
        # HashAggregateExec; it is whole-stage-codegen'd because
        # session.PARITY_RUNTIME_CONFS raises spark.sql.codegen.maxFields
        # past its 1 + MINHASH_K + nb output fields. Duplicate grams per
        # doc OR in the same bit — idempotent — and the set size falls
        # out as Σ popcount(word).
        word_cols = [
            f"bit_or(CASE WHEN idx DIV 64 = {w} "
            f"THEN shiftleft(1L, idx % 64) ELSE 0L END) AS m{w}"
            for w in range(nb)
        ]
    else:
        # WIDE dictionary — the bit_or formulation evaluates nb CASEs
        # PER GRAM ROW, making stage-1 cost O(corpus_grams × nb): the
        # dictionary grows with the corpus until its ~47k char-3-gram
        # ceiling, so between fixture scale and saturation the build is
        # effectively QUADRATIC (caught by the one-decade slope test,
        # tests/test_scale_slope.py — a 10× corpus with a near-ceiling
        # dictionary measured ~100× before this branch existed). Here
        # each gram row costs O(1): collect the exact dictionary
        # indices as a set and let verification intersect the sorted
        # index arrays directly (array_intersect is hash-based
        # O(|A|+|B|), the same order as walking a saturated mask).
        # collect_set demotes this agg to ObjectHashAggregate (~1.7×
        # on the stage) — the price of deleting an O(nb)-per-gram term
        # that dwarfs it. Index sets, NOT gram-hash sets: poly_hash is
        # mod 2³¹−1, and at a 47k dictionary a corpus-level collision
        # is likelier than not — dictionary indices are collision-free,
        # so the Jaccard stays exact (oracle-identical).
        word_cols = ["collect_set(idx) AS gset"]
    agg = spark.sql(
        f"SELECT doc_id, {', '.join(sig_cols + word_cols)} "
        "FROM {ex} GROUP BY doc_id",
        ex=ex,
    )
    return agg, nb


def _doc_signatures(
    spark: SparkSession, docs: DataFrame
) -> tuple[DataFrame | None, int]:
    """Stage 1 of the LSH engine: shingle → fused signature+bitset
    aggregate (``_signature_agg``) → the NARROW per-doc index row (band
    keys + mask + sz), localCheckpoint'ed. Returns (per_doc,
    n_mask_words); (None, 0) for an empty corpus."""
    agg, nb = _signature_agg(spark, docs)
    if agg is None:
        return None, 0
    # Band key = xxhash64 of the band's 4 signature values, not their
    # concatenated string: the self-join shuffles 8-byte longs instead
    # of ~40-char strings. A 64-bit band-key collision merely ADDS a
    # candidate pair, which exact verification then discards — the
    # 5e-8 miss bound is untouched (collisions can only increase
    # recall, never lose a pair).
    r = MINHASH_K // LSH_BANDS
    band_keys = ", ".join(
        "xxhash64(" + ", ".join(f"s{band * r + j}" for j in range(r)) + ")"
        for band in range(LSH_BANDS)
    )
    # localCheckpoint: the salting join consumes the banded rows THREE
    # times (bucket-size count, left probe, right build), and each
    # consumer would otherwise recompute the whole signature pipeline —
    # the single most expensive stage. Materializing ONE narrow row per
    # doc (keys + mask + sz) and re-deriving the ×32 posexplode per
    # consumer keeps the stored footprint 32× smaller than round 3's
    # banded checkpoint (the explode of a materialized array is free
    # next to a band join): less unified-memory pressure is exactly
    # what a long bench run needs to avoid shuffle spills.
    # Verify candidates with bitset AND+popcount, not string-array
    # intersect: on adversarial corpora (high background similarity)
    # banding admits ~all pairs and verification dominates — the bitset
    # keeps per-pair cost at a few dozen instructions either way.
    if nb <= CARRY_MASK_MAX_WORDS:
        words = [f"m{w}" for w in range(nb)]
        verify = [
            f"array({', '.join(words)}) AS mask",
            _tree_sum_sql([f"bit_count({m})" for m in words]) + " AS sz",
        ]
    else:
        verify = ["gset", "size(gset) AS sz"]
    per_doc = agg.selectExpr("doc_id", f"array({band_keys}) AS keys", *verify)
    return per_doc.localCheckpoint(), nb


def _pairs_from_sigs(
    per_doc: DataFrame,
    nb: int,
    hot: tuple[DataFrame, bool] | None = None,
) -> DataFrame:
    """Stages 2-4 of the LSH engine (the per-QUERY work once the
    signature index exists): salted band self-join, in-join or
    attach-join Jaccard verification, exactly-once output. ``hot``
    forwards a resident-index hot-bucket statistic to the salting
    branch probe (see _salted_band_candidates)."""
    if nb <= CARRY_MASK_MAX_WORDS:
        # Masks ride the band join as nb FLAT LONG COLUMNS, not one
        # array<long> (r16, guide §2.3 — shuffle/sort fewer bytes per
        # row): an UnsafeRow array field carries header+offset words
        # and every sort/copy/condition-eval pays the indirection,
        # where flat longs are fixed-offset word reads. Same rows,
        # same verify arithmetic; measured on identical output at
        # sf0.1, interleaved: 3.12 s → 2.42 s min-of-3 (on top of the
        # repartition pinning). Bounded by CARRY_MASK_MAX_WORDS = 64
        # columns per side by construction of this branch.
        # Inline verify-then-distinct: mask+size ride the banded rows
        # (WITHOUT the keys array — 32 longs/row lighter through the
        # shuffle), the exact Jaccard gate evaluates INSIDE the join
        # condition, and the few rows that survive (true near-dup
        # pairs × their colliding-band multiplicity, ≤ 32×|result|)
        # are deduplicated by a metadata-sized DISTINCT. That is
        # cheaper than any per-row first-collision filter over the
        # ~100M candidate rows this corpus generates: round 4 measured
        # such a CASE chain pushing the condition past janino's 64 KB
        # limit, onto Spark's fallback evaluator, 3-5× slower. A pair
        # colliding in k bands pays k gate evaluations (~4 on this
        # corpus) of ~3 instructions per mask word.
        mask_cols = tuple(f"m{w}" for w in range(nb))
        banded = per_doc.selectExpr(
            "doc_id",
            *[f"mask[{w}] AS {c}" for w, c in enumerate(mask_cols)],
            "sz",
            "posexplode(keys) AS (band, key)",
        )
        cands = _salted_band_candidates(
            banded,
            payload=(*mask_cols, "sz"),
            hot=hot,
        )
        # NO _size_gate here, deliberately (see its docstring): every
        # extra conjunct in this join condition costs per candidate,
        # and the tiny-dictionary corpora that reach this branch have
        # concentrated doc sizes the gate cannot prune.
        pairs = cands.selectExpr(
            "doc_a",
            "doc_b",
            f"{_inter(nb, 'm{w}_a', 'm{w}_b')} AS n_common",
            "sz_a AS sza",
            "sz_b AS szb",
        )
        return _verified(pairs, "jaccard", distinct=True)
    # Wide-dictionary path: banded rows stay skinny and the exact
    # dictionary-index SETS are attached to the (smaller-per-row)
    # candidate set with two doc-keyed joins — shuffle
    # O(candidates × |gset|) instead of O(docs × bands × mask) — and
    # verification intersects the index sets directly (array_intersect,
    # hash-based O(|A|+|B|): the same order of work as walking a
    # saturated dense mask, without stage 1 ever paying O(nb) per gram
    # to build one; see _doc_signatures). Skinny banded rows + DISTINCT:
    # carrying the 32-long keys array through the band self-join (the
    # old first-collision filter) made the sort-merge input ~13×
    # heavier per row, and on the corpus class that REACHES this path
    # (wide dictionary ⇒ high gram diversity ⇒ low background J)
    # candidates ≈ true pairs, so the DISTINCT over them is
    # metadata-sized (measured 16× → near-linear one-decade slope on
    # the 19.6k-gram synthetic corpus, tests/test_scale_slope.py).
    banded = per_doc.select("doc_id", F.posexplode("keys").alias("band", "key"))

    def attach(side: str) -> DataFrame:
        return per_doc.select(
            F.col("doc_id").alias(f"doc_{side}"),
            F.col("gset").alias(f"gset_{side}"),
            F.col("sz").alias(f"sz{side}"),
        )

    cands = (
        _salted_band_candidates(banded, hot=hot)
        .distinct()
        .join(attach("a"), "doc_a")
        .join(attach("b"), "doc_b")
        .filter(_size_gate("sza", "szb", JACCARD_T, symmetric=True))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("gset_a", "gset_b")).alias("n_common"),
            "sza",
            "szb",
        )
    )
    return _verified(cands, "jaccard")


def lsh_band_candidates(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """DIAGNOSTIC: the distinct band-collision candidate pairs BEFORE
    verification — the quantity whose growth decides whether LSH is in
    its linear regime (candidates ≈ planted near-dup pairs) or the
    adversarial quadratic one (banding admits ~all pairs). The scale
    slope test (tests/test_scale_slope.py, r12 verdict #1) asserts a
    COUNTING invariant on this — candidates ≤ c × planted pairs on the
    diverse corpus at both scales — so a quadratic regression is caught
    by arithmetic host noise cannot move, not only by wall clock. Uses
    the same signature build and salted band join as the real engine
    (skinny banded rows on either path — no payload needed to count)."""
    per_doc, nb = _doc_signatures(spark, docs)
    if nb == 0:
        return spark.createDataFrame([], "doc_a long, doc_b long")
    banded = per_doc.select(
        "doc_id", F.posexplode("keys").alias("band", "key")
    )
    return _salted_band_candidates(banded).distinct()


def dedup_bitset_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 pairs via dictionary-encoded bitsets — the
    fast path on high-background-similarity corpora.

    This corpus defeats signature LSH: the shared ~30-word vocabulary
    yields only ~377 distinct 3-grams corpus-wide and background
    J ≈ 0.6, so ANY banding scheme admits Θ(n²) candidates (measured:
    98% of all pairs at r=4). When most pairs are nearly-similar, the
    information-theoretic floor is evaluating ~all pairs — so make each
    evaluation ~free: encode every doc's gram set as a bitset over the
    global gram dictionary (377 bits = 6 longs) and verify with
    AND+popcount. Exact same output as the string-array baseline, at
    ~100× less work per pair.

    Scale shape: dictionary build is a bounded distinct (char-3-gram
    alphabet ≤ ~47k entries) broadcast to executors; encoding is
    map-side; the pair join is the only quadratic stage and is pure
    register arithmetic inside codegen.
    """
    return bitset_pairs(spark, load_table(spark, sf_dir, "documents"))


def _all_pairs(
    spark: SparkSession, docs: DataFrame, ka: str, kb: str
) -> tuple[DataFrame | None, int]:
    """The all-pairs twins' pair source: every ordered (ka, kb) doc pair
    with bitsets ma/mb and set sizes sza/szb, as a broadcast
    nested-loop join, and the mask width nb; (None, 0) for an empty
    corpus. The probe side is repartitioned explicitly: otherwise AQE
    coalesces the tiny encoded input to ONE partition and the O(n²)
    loop runs on a single core (measured 149s → 6s)."""
    enc, nb = _bitset_encode(spark, _grams_of(spark, docs))
    if nb == 0:
        return None, 0
    a = enc.repartition(default_parallelism(spark) * 2).selectExpr(
        f"doc_id AS {ka}", "mask AS ma", "sz AS sza"
    )
    b = enc.selectExpr(f"doc_id AS {kb}", "mask AS mb", "sz AS szb")
    return a.crossJoin(F.broadcast(b)), nb


def bitset_pairs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The all-pairs bitset engine behind ``dedup_bitset_jaccard``,
    usable on ANY (doc_id, text) DataFrame — the quadratic ground-truth
    twin of ``minhash_pairs`` (tests/test_dedup.py races the two on a
    synthetic low-background-similarity corpus to measure the LSH
    candidate ratio and wall-clock advantage the module docstring
    claims). Semantics: see ``dedup_bitset_jaccard``."""
    pairs, nb = _all_pairs(spark, docs, "doc_a", "doc_b")
    if pairs is None:
        return _empty_pairs(spark)
    # the size gate, in the join condition, discards a pair on two
    # comparisons before any popcount work
    pairs = pairs.filter(
        (F.col("doc_a") < F.col("doc_b"))
        & _size_gate("sza", "szb", JACCARD_T, symmetric=True)
    )
    return _verified(
        pairs.selectExpr(
            "doc_a", "doc_b", f"{_inter(nb, 'ma', 'mb')} AS n_common", "sza", "szb"
        ),
        "jaccard",
    )


CONTAIN_T = 0.9  # |A∩B| / |A| — "A is (mostly) inside B"
CONTAIN_MIN_GRAMS = 20  # tiny gram sets are trivially contained


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL containment dedup: ordered pairs (inner, outer)
    where C(inner→outer) = |G(inner) ∩ G(outer)| / |G(inner)| ≥ 0.9 —
    the doc-inside-doc relation Jaccard cannot see (|A| ≪ |B| drives
    J → |A|/|B| ≈ 0 while C(A→B) stays 1). Training pipelines dedupe
    on this to drop quotes/excerpts/boilerplate-wrapped copies that
    symmetric near-dedup keeps.

    Plan: the same dictionary-bitset engine as ``bitset_pairs`` (AND +
    popcount per ordered pair) with an asymmetric size gate — C ≥ t
    forces |B| ≥ t·|A| (intersection ≤ |B|), one integer compare that
    discards a pair before any popcount work. This corpus class (dense
    background, dictionary-bounded) is the all-pairs regime where
    bitsets are the measured best plan (see ``dedup_bitset_jaccard``).
    A sparse 100 TB corpus flips to candidate generation first — but
    note banding over MinHash misses asymmetric pairs by construction
    (J is tiny exactly when containment is interesting), so the scale
    path is prefix filtering, not the Jaccard-tuned LSH — implemented
    as ``containment_pairs_prefix`` (lossless; pair-set equality with
    this engine is pytest-asserted)."""
    return containment_pairs(spark, load_table(spark, sf_dir, "documents"))


def containment_pairs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The containment engine behind ``dedup_containment``, usable on
    ANY (doc_id, text) DataFrame — same convention as ``bitset_pairs``
    / ``minhash_pairs``. Semantics and scale notes: see
    ``dedup_containment``."""
    pairs, nb = _all_pairs(spark, docs, "doc_inner", "doc_outer")
    if pairs is None:
        return _empty_pairs(spark, "doc_inner", "doc_outer", "containment")
    pairs = pairs.filter(
        (F.col("doc_inner") != F.col("doc_outer"))
        & (F.col("sza") >= CONTAIN_MIN_GRAMS)
        & _size_gate("sza", "szb", CONTAIN_T, symmetric=False)
    )
    return _verified(
        pairs.selectExpr(
            "doc_inner", "doc_outer", f"{_inter(nb, 'ma', 'mb')} AS n_common", "sza"
        ),
        "containment",
    )


def dedup_containment_prefix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_containment``'s documented SCALE PATH made real:
    PPJoin-style PREFIX FILTERING (Xiao et al., WWW'08) instead of the
    all-pairs bitset sweep. Must produce the IDENTICAL pair set —
    same oracle, and a pytest asserts row-for-row equality with the
    all-pairs engine.

    GRAM/POSTING INDEX REUSE (the minhash SIGNATURE INDEX argument):
    production containment dedup maintains the per-doc gram sets and
    their bitset encoding as a persistent index — they change only
    when documents change — and queries re-run only the candidate +
    verify stages. The fixture-table entry caches the (grams, encode)
    artifact per (application, table directory, mtime) through the
    same ``cached_artifact`` store; ``containment_pairs_prefix`` stays
    rebuild-per-call for arbitrary input DataFrames."""
    from pim_orc_spark.artifacts import cached_artifact

    def _probe(art) -> bool:
        # both frames are localCheckpoints — touch them so lost blocks
        # rebuild instead of failing the pair stage (the _sig_probe
        # argument, dedup.py signature cache)
        art[0].isEmpty()
        art[1].isEmpty()
        return True

    g, enc, nb, n_docs = cached_artifact(
        "containment_grams",
        spark,
        sf_dir,
        lambda: _containment_grams_artifact(
            spark, load_table(spark, sf_dir, "documents")
        ),
        probe=_probe,
    )
    return _prefix_pairs_from_artifact(spark, g, enc, nb, n_docs)


def _containment_grams_artifact(
    spark: SparkSession, docs: DataFrame
) -> tuple[DataFrame, DataFrame, int, int]:
    """(g, enc, nb, n_docs): the materialized gram frame plus its
    bitset encoding — the containment family's persistent index
    artifact. ``n_docs`` (one count over the checkpointed per-doc
    index, paid at build time like the dictionary count) sizes the
    posting-mask attach strategy at query time
    (MASK_ATTACH_BROADCAST_BYTES) without a per-query job."""
    # materialize the shingle frame ONCE (~100× a scan per byte,
    # dedup.py:89): the dictionary pass, the encode pass, and the
    # candidate stage's three explodes all re-consume it. The encode
    # is rare-first + idx-carrying (r16): the narrow verify-inline
    # path then derives BOTH candidate-join sides from `enc` alone,
    # map-side (see _prefix_pairs_from_artifact).
    g = _grams_of(spark, docs).localCheckpoint()
    enc, nb = _bitset_encode(spark, g, rare_first=True, keep_idxs=True)
    return g, enc, nb, enc.count()


def _prefix_and_posting(g: DataFrame):
    """The shared pigeonhole machinery of the prefix-filter engines
    over a (doc_id, grams) frame: returns ``(prefix, per_gram, sz)``
    where ``prefix`` is the (doc_id, gram, sz) rows surviving the
    rare-first pigeonhole bound, ``per_gram`` is the exploded posting
    relation and ``sz`` the (doc_id, sz) set sizes. Callers must pass
    a MATERIALIZED frame (localCheckpoint): this stage explodes it
    three ways (prefix side, posting side, sizes), and plain
    ``explode`` is used because the word-shingle path can produce
    EMPTY gram arrays (token-free text) — explode drops them; the
    InferFiltersFromGenerate hazard explode_nonempty exists for does
    not apply to a materialized column."""
    per_gram = g.select(
        "doc_id", F.explode("grams").alias("gram")
    )
    df_t = per_gram.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    sz = g.select("doc_id", F.size("grams").alias("sz"))
    fr = _gate_fraction(CONTAIN_T)
    num, den = fr.numerator, fr.denominator
    rank_w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix = (
        per_gram.join(df_t, "gram")
        .select(
            "doc_id", "gram", F.row_number().over(rank_w).alias("rnk")
        )
        .join(sz, "doc_id")
        .where(f"sz >= {CONTAIN_MIN_GRAMS}")
        # p = sz - ceil(t*sz) + 1, exact integer math (t = num/den)
        .where(
            f"rnk <= sz - ((({num}L * sz) + {den} - 1) div {den}) + 1"
        )
    )
    return prefix, per_gram, sz


def _containment_prefix_candidates(g: DataFrame) -> DataFrame:
    """The prefix-filter candidate stage of
    ``containment_pairs_prefix_words`` over a (doc_id, grams) frame:
    returns (doc_inner, doc_b, sza) ordered pairs that survive the
    pigeonhole prefix join and the asymmetric size gate — a SUPERSET
    of the true pairs by construction (the pruning pytest counts this
    frame). The narrow bitset engine verifies INLINE instead
    (``_prefix_pairs_from_artifact``) and never materializes this
    distinct; the wide word-shingle regime keeps it because its
    verify step attaches unbounded gram ARRAYS, which must ride a
    candidate-distinct-sized join, not the full pre-distinct
    multiplicity."""
    prefix, per_gram, sz = _prefix_and_posting(g)
    # posting side carries szb (broadcast dim join, map-side) so the
    # asymmetric size gate prunes BEFORE the candidate distinct — on
    # the dense fixture that halves the distinct's shuffle input; the
    # candidate SET is identical either way (the gate is a per-pair
    # predicate), so the pair-set-equality and pruning-count pytests
    # hold unchanged
    posting = per_gram.select(
        F.col("doc_id").alias("doc_b"), "gram"
    ).join(
        F.broadcast(
            sz.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sz").alias("szb"),
            )
        ),
        "doc_b",
    )
    return (
        prefix.select(
            F.col("doc_id").alias("doc_inner"),
            "gram",
            F.col("sz").alias("sza"),
        )
        .join(posting, "gram")
        .where("doc_inner <> doc_b")
        .where(_size_gate("sza", "szb", CONTAIN_T, symmetric=False))
        .select("doc_inner", "doc_b", "sza")
        .distinct()
    )


def containment_pairs_prefix(
    spark: SparkSession, docs: DataFrame
) -> DataFrame:
    """LOSSLESS prefix-filter candidate generation for directional
    containment, then exact bitset verification — the linear-regime
    engine for sparse corpora where ``containment_pairs``' all-pairs
    sweep is quadratic.

    The filter: if C(A→B) ≥ t then |A \\ B| ≤ |A| − ceil(t·|A|), so
    among ANY fixed p = |A| − ceil(t·|A|) + 1 grams of A at least one
    is in B (pigeonhole) — no ordering assumption needed for
    correctness. The prefix is taken in GLOBAL RARE-FIRST order
    (ascending document frequency, gram as tiebreak) because that
    minimizes the posting-list fanout of the candidate join: prefix
    grams are the rarest, so Σ_g prefix_count(g)·df(g) stays near
    linear on corpora with a light df tail. Candidates then pass the
    same asymmetric integer size gate and the same AND+popcount
    verification as the all-pairs engine — only the CANDIDATE SET
    shrinks, never the answer (equality pytest-asserted on both the
    fixture corpus and a sparse synthetic one).

    Scale (r16 shape): the rare-first order is baked into the index
    artifact's dictionary at BUILD time, so the narrow-regime query
    is one int-keyed candidate join between two map-side explodes of
    the resident index (prefix side = slice of each doc's sorted
    index array) plus a survivor-sized distinct — all linear in
    corpus grams; the per-query df aggregate and per-doc rank window
    of the original three-shuffle form survive only in the
    wide-dictionary fallback (`_containment_prefix_candidates`). The
    quadratic all-pairs crossJoin is gone either way. On the dense
    fixture corpus the df tail is heavy and candidates ≈ all pairs —
    the honest regime boundary the all-pairs docstring records; on
    sparse corpora (the 100 TB case) the prefix join is the plan."""
    g, enc, nb, n_docs = _containment_grams_artifact(spark, docs)
    return _prefix_pairs_from_artifact(spark, g, enc, nb, n_docs)


def _prefix_pairs_from_artifact(
    spark: SparkSession,
    g: DataFrame,
    enc: DataFrame,
    nb: int,
    n_docs: int | None = None,
) -> DataFrame:
    """Candidate + verify stages of ``containment_pairs_prefix`` over
    a prebuilt (grams, encode) artifact — what a query pays when the
    index is resident.

    VERIFY-INLINE IN INDEX SPACE (r16 optimization, guide §2.3/§2.4 —
    shuffle fewer bytes, remove shuffles outright, done in two
    measured passes):

    Pass 1 replaced the old candidate DISTINCT (O(candidate pairs)
    shuffled rows — 13M on the dense sf0.1 fixture) plus two
    candidate-keyed mask-attach SortMergeJoins (Exchanges
    (41)/(43)/(48)/(52)/(57) of
    plans/r16/dedup_containment_prefix_before.txt) with bitsets
    riding the pigeonhole gram join, AND+popcount evaluated in the
    join stage's codegen Project+Filter, and a SURVIVOR-sized
    distinct — the verify-then-DISTINCT move the MinHash narrow path
    made in round 3. Identical 160,775-pair output, 11.15 → 4.51 s
    min-of-3 interleaved.

    Pass 2 removed the per-query prefix construction itself (df
    aggregate → corpus-wide doc_id exchange → sort → rank window,
    1.56 s of the remainder): the artifact's dictionary is rare-first
    ordered and enc carries each doc's sorted index array, so the
    pigeonhole prefix is slice(idxs, 1, p) and BOTH join sides are
    map-side explodes of the resident index joined on an INT. The
    popcount is evaluated once per pre-distinct (pair, idx)
    occurrence (~2.4× multiplicity on the fixture) instead of once
    per distinct pair — far cheaper than the three candidate-sized
    shuffles it replaces. Slot warm 9.13 s (round start) → 2.12 s;
    plan 61 operators/24 exchanges → 18/3
    (plans/r16/dedup_containment_prefix_after.txt).

    Gated on nb ≤ CARRY_MASK_MAX_WORDS exactly like the MinHash
    engine: past that, carrying O(nb)-word masks on every posting row
    re-creates the quadratic stage-1 cost the wide branch exists to
    avoid, so the distinct-then-attach shape remains the wide
    fallback (and the word-shingle engine keeps it unconditionally —
    its verify payload is unbounded gram arrays)."""
    if nb == 0:
        return _empty_pairs(spark, "doc_inner", "doc_outer", "containment")
    if nb <= CARRY_MASK_MAX_WORDS and "idxs" in enc.columns:
        # INDEX-SPACE candidate join (r16, second pass): the artifact's
        # dictionary is RARE-FIRST ordered and each enc row carries its
        # sorted index array, so a doc's pigeonhole prefix (its p
        # rarest grams, ties by gram — the exact set the window-ranked
        # form picks) is slice(idxs, 1, p): BOTH join sides are now
        # map-side explodes of the cached enc frame. Deleted per query
        # vs the gram-string form: the df groupBy, the corpus-wide
        # doc_id exchange + sort + rank window (~1.6 s of the slot),
        # and the per-doc ma attach join; the join key shrinks from a
        # string to an int. Explicit key-hash repartition pins the
        # pair-enumeration parallelism (the band-join precedent — AQE
        # sizes partitions from the small explode bytes, not the join
        # output).
        fr = _gate_fraction(CONTAIN_T)
        num, den = fr.numerator, fr.denominator
        n_parts = default_parallelism(enc.sparkSession) * 2
        p_expr = f"(sz - ((({num}L * sz) + {den} - 1) div {den}) + 1)"
        prefix = (
            enc.where(f"sz >= {CONTAIN_MIN_GRAMS}")
            .selectExpr(
                "doc_id AS doc_inner",
                "sz AS sza",
                "mask AS ma",
                f"posexplode(slice(idxs, 1, cast({p_expr} AS int)))"
                " AS (i0, idx)",
            )
            .repartition(n_parts, "idx")
        )
        # POSTING SIDE SHIPS NO MASK (r17, guide §2.3/§5 — the round-16
        # driver run's one regression): carrying the nb-word `mb` array
        # on EVERY exploded gram occurrence made the posting exchange +
        # its 2×parallelism concurrent merge-sorts the dominant memory
        # load of the query (~4× the bytes of the narrow row below),
        # and at 32 cores the warm path went bimodal (driver median
        # 15.4 s vs 3.9 s min; stable 3.96 s at 8 cores where only 8
        # sorts run). The posting explode now shuffles three fixed-width
        # columns; the verify bitset is re-attached AFTER the int join
        # and both gates by a doc_b-keyed probe of the doc-sized
        # resident index — broadcast (map-side, zero extra shuffle)
        # while n_docs × mask-row bytes fits MASK_ATTACH_BROADCAST_BYTES,
        # planner-chosen past it (where the sparse regime's gated
        # candidates ≈ true pairs, so the keyed attach is linear).
        posting = enc.selectExpr(
            "doc_id AS doc_b",
            "sz AS szb",
            "posexplode(idxs) AS (j0, idx)",
        ).repartition(n_parts, "idx")
        mask_b = enc.select(
            F.col("doc_id").alias("doc_b"), F.col("mask").alias("mb")
        )
        if (
            n_docs is not None
            and n_docs * (nb * 8 + 40) <= MASK_ATTACH_BROADCAST_BYTES
        ):
            mask_b = F.broadcast(mask_b)
        # PPJoin POSITION FILTER (Xiao et al. WWW'08 §3.2, r17 —
        # lossless): both idxs arrays are sorted in the SAME global
        # rare-first order, so at a true pair's FIRST common gram —
        # 0-based position i0 in A, j0 in B — every common element sits
        # at positions ≥ i0 / ≥ j0, giving |A∩B| ≤ min(sza−i0, szb−j0).
        # C(A→B) ≥ t needs |A∩B| ≥ ceil(t·sza), so occurrences with
        # num·sza > den·(sza−i0) or num·sza > den·(szb−j0) cannot be a
        # pair's first match and are dropped before any mask work; the
        # first-match occurrence always survives, and the survivor
        # DISTINCT never needed more than one occurrence per pair.
        # Integer-exact (same num/den gate fraction). Prunes 12% of
        # 32.0M verify evaluations on the size-skewed dense fixture
        # (output hash-equal), far more on size-concentrated corpora
        # where szb−j0 < ceil(t·sza) kills every deep-posting match.
        #
        # NO PER-OCCURRENCE DECIMAL ROUNDING (r17, guide §1.2 step 2):
        # Spark's Round(double) constructs java.math.BigDecimal per
        # row, and this select used to evaluate it on every surviving
        # (pair, gram) occurrence — a thread dump of the verify stage
        # showed ~30 of 32 workers RUNNABLE inside BigDecimal.<init>.
        # The pre-distinct pipeline stays in LONG arithmetic
        # (_verified's exact gate), the distinct runs on (pair,
        # n_common, sza) — integers that determine containment 1:1 —
        # and round() runs once per DISTINCT pair (~200× fewer
        # evaluations on the fixture). Interleaved A/B min-of-7:
        # 1.57 s (inline round) → 1.30 s.
        pairs = (
            prefix.join(posting, "idx")
            .where("doc_inner <> doc_b")
            .where(_size_gate("sza", "szb", CONTAIN_T, symmetric=False))
            .where(
                f"{num} * sza <= {den} * (sza - i0)"
                f" AND {num} * sza <= {den} * (szb - j0)"
            )
            .join(mask_b, "doc_b")
            .selectExpr(
                "doc_inner",
                "doc_b AS doc_outer",
                f"{_inter(nb, 'ma', 'mb')} AS n_common",
                "sza",
            )
        )
        return _verified(pairs, "containment", distinct=True)
    # the wide fallback's candidates are already distinct pairs
    pairs = (
        _containment_prefix_candidates(g)
        .join(
            enc.select(
                F.col("doc_id").alias("doc_inner"),
                F.col("mask").alias("ma"),
            ),
            "doc_inner",
        )
        .join(
            enc.select(
                F.col("doc_id").alias("doc_b"),
                F.col("mask").alias("mb"),
            ),
            "doc_b",
        )
        .selectExpr(
            "doc_inner",
            "doc_b AS doc_outer",
            f"{_inter(nb, 'ma', 'mb')} AS n_common",
            "sza",
        )
    )
    return _verified(pairs, "containment")


def containment_pairs_prefix_words(
    spark: SparkSession, docs: DataFrame
) -> DataFrame:
    """``containment_pairs_prefix`` over WORD shingles instead of
    char-3-grams — the df-LIGHT regime the char-gram analysis points
    to: a word dictionary is ~unbounded (vs the 19.7k char-3-gram
    ceiling), so document frequencies stay near 1 on diverse corpora
    and the prefix join's admission rate stays FLAT as the corpus
    grows (pytest counts it at two scales). Same candidate stage
    (``_containment_prefix_candidates`` is shingle-agnostic), exact
    ``array_intersect`` verification instead of bitsets — the word
    dictionary is too wide to encode as fixed-width masks (the same
    regime flip the MinHash wide-dictionary path documents), and the
    pruned candidate set is small enough that exact set intersection
    per pair is the cheap step."""
    g = (
        spread(spark, docs)
        .select(
            "doc_id", F.array_distinct(tokens("text")).alias("grams")
        )
        .localCheckpoint()  # candidate stage + two verify joins reuse it
    )
    pairs = (
        _containment_prefix_candidates(g)
        .join(
            g.select(
                F.col("doc_id").alias("doc_inner"),
                F.col("grams").alias("ga"),
            ),
            "doc_inner",
        )
        .join(
            g.select(
                F.col("doc_id").alias("doc_b"),
                F.col("grams").alias("gb"),
            ),
            "doc_b",
        )
        .select(
            "doc_inner",
            F.col("doc_b").alias("doc_outer"),
            F.size(F.array_intersect("ga", "gb")).alias("n_common"),
            "sza",
        )
    )
    return _verified(pairs, "containment")


def dedup_containment_prefix_words(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-facing entry for ``containment_pairs_prefix_words`` on
    the documents table — the prefix containment engine's df-LIGHT
    WIDE-DICTIONARY regime (word shingles + exact ``array_intersect``
    verify), exported beside the char-gram ``dedup_containment_prefix``
    so BOTH regimes of the containment family hold driver attestations
    (the MinHash family's narrow/wide precedent). On the fixture corpus
    the ~30-word vocabulary makes word dfs HEAVY (the engine's honest
    dense case, like the char-gram fixture boundary); the flat-rate
    wide-dictionary evidence lives in the sparse-corpus pytest and the
    slope harness. Exact-SQL oracle over the same distinct-word sets."""
    return containment_pairs_prefix_words(
        spark, load_table(spark, sf_dir, "documents")
    )


def dedup_exact_collated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive exact dedup via Spark 4 string COLLATION
    (``UTF8_LCASE``): the groupBy compares strings under the collation
    instead of binary equality — the engine-level surface for
    case-insensitive text pipelines, with no ``lower()``
    materialization in the hot path (the collation comparator runs
    inside the hash aggregate). The fixture corpus is all-lowercase
    ASCII, so case variance is INJECTED deterministically (even
    doc_ids upper-cased) to make the collated grouping do real work;
    the oracle groups by ``lower()`` of the same derivation. Output is
    one row per case-insensitive text class: (keep_doc_id = MIN,
    n_copies) — deterministic, no collated key exported (the group's
    representative string is whichever variant the aggregate sees
    first)."""
    d = load_table(spark, sf_dir, "documents")
    varied = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return (
        varied.groupBy(F.collate("t", "UTF8_LCASE").alias("k"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over the token multiset (portable
    rolling hash per token, FINALIZED with fmix32; bit b votes ±1;
    majority sets the bit). Explode → groupBy doc_id: one shuffle of
    (doc_id, token-hash).

    The fmix32 finalizer is load-bearing, not cosmetic: raw poly_hash
    values of short tokens concentrate below ~2^23, so without it
    simhash bits 13..31 are corpus-constant on realistic vocabularies
    (measured: a diverse 50k-word corpus left the top pigeonhole byte
    of ``dedup_simhash_pairs`` identical for EVERY doc — 100.0000%
    candidate admission, the banded join silently degraded to
    all-pairs). Mixed, the same corpus measures ~1-2% admission. The
    mix is its own projection over the plain ``h0`` column: Catalyst
    keeps the rolling-hash ``aggregate`` below it (CollapseProject
    does not inline an expensive expression referenced more than
    once), and whole-stage codegen's subexpression elimination
    computes each mixing stage once, where a ``transform`` lambda
    would run interpreted and rebuild every stage per reference. The
    oracle applies the identical arithmetic via ``fmix32_sql`` staged
    through a CTE.

    The mix, the 32 bit-vote sums and their compose are SQL text: one
    parsed expression each instead of a Column call per operator, each
    of which is a Py4J round trip."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    h = tok.select("doc_id", poly_hash("t").alias("h0")).selectExpr(
        "doc_id", f"{fmix32_spark_sql('h0')} AS h"
    )
    compose = " + ".join(
        f"IF(SUM((shiftright(h, {b}) & 1) * 2 - 1) > 0, {1 << b}, 0)"
        for b in range(32)
    )
    return h.groupBy("doc_id").agg(
        F.expr(f"CAST({compose} AS BIGINT)").alias("simhash")
    )


HAMMING_T = 3  # near-dup = simhash Hamming distance ≤ 3
# The simhash pigeonhole partition: HAMMING_T + 1 = 4 contiguous bytes.
# Contiguous blocks are fine HERE (unlike phash, whose spatially
# adjacent hash bits need interleaving): post-fmix32 the bit positions
# carry no structure, so every disjoint partition is equivalent in
# expectation.
SIMHASH_BLOCKS = [
    f"shiftright(simhash, {8 * i}) & 255" for i in range(HAMMING_T + 1)
]


def _hamming_join(
    hashed: DataFrame, col: str, blocks: list[str]
) -> DataFrame:
    """Block-pigeonhole equi-join of a (doc_id, ``col``) hash frame
    with itself: ordered (doc_a, doc_b, ha, hb) rows agreeing on ≥1 of
    ``blocks`` — pre-distinct, pre-verify.

    ``blocks`` is a DISJOINT partition of the hash bits as Spark SQL
    expressions over ``col``. Hamming distance is per-position, so two
    hashes within distance t must agree EXACTLY on ≥1 of t+1 blocks
    under every such partition; the partition is the one free
    parameter. Candidates are an equi-join per (block index, block
    value) — a shuffle on block keys, never an all-pairs product. At
    scale the same shape holds: candidate volume is bounded by
    block-collision rates, and skewed blocks are split by AQE skew
    handling."""
    banded = hashed.selectExpr(
        "doc_id",
        f"{col} AS h",
        f"posexplode(array({', '.join(blocks)})) AS (blk, v)",
    )
    left = banded.selectExpr("doc_id AS doc_a", "h AS ha", "blk", "v")
    right = banded.selectExpr("doc_id AS doc_b", "h AS hb", "blk", "v")
    return left.join(right, ["blk", "v"]).where("doc_a < doc_b")


def hamming_candidates(
    hashed: DataFrame, col: str, blocks: list[str]
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs surviving the block join — a
    SUPERSET of the Hamming-ball pair set by pigeonhole, and the
    counted frame for the admission-rate tripwires (the
    ``lsh_band_candidates`` role): the dead-bit defect fmix32 fixed
    showed up here as 100.0000% simhash admission on a diverse corpus,
    two orders of magnitude past the ~1.6% four-block birthday floor."""
    pairs = _hamming_join(hashed, col, blocks)
    return pairs.select("doc_a", "doc_b").distinct()


def hamming_pairs(
    hashed: DataFrame, col: str, blocks: list[str], t: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair within Hamming distance
    ``t`` of ``col``: the block-join candidates verified by one
    XOR+popcount. Lossless when ``blocks`` holds t+1 disjoint blocks."""
    return (
        _hamming_join(hashed, col, blocks)
        .selectExpr("doc_a", "doc_b", "bit_count(ha ^ hb) AS hamming")
        .where(f"hamming <= {t}")
        .distinct()
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within SimHash Hamming distance ≤ HAMMING_T: the
    shared Hamming-ball kernel (``hamming_pairs``) over the byte blocks
    ``SIMHASH_BLOCKS``."""
    return hamming_pairs(
        dedup_simhash(spark, sf_dir), "simhash", SIMHASH_BLOCKS, HAMMING_T
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.45 over all pairs. All-pairs
    is the fixture-scale verification form; the LSH-bucketed form
    (similarity.py) is the scale path.

    Per-pair work is one unrolled 64-term dot product: vectors are
    L2-normalized ONCE per row before the join (norms computed per pair
    would re-fold 2×64 terms on every one of the O(n²) pairs)."""
    # spread BEFORE unit_vec so normalization parallelizes (the fixture
    # parquet is one split; after the later repartition it's too late)
    e = spread(spark, load_table(spark, sf_dir, "embeddings"))
    v = e.select("vec_id", as_double_vec("embedding", EMB_DIM).alias("v")).select(
        "vec_id", unit_vec("v", EMB_DIM).alias("u")
    )
    # Repartition the probe side: the fixture parquet is one split, and
    # a 1×1-partition cartesian runs its O(n²) loop on a single core
    # (same trap as the bitset pair stage).
    n_parts = default_parallelism(spark) * 2
    a = v.repartition(n_parts).select(
        F.col("vec_id").alias("vec_a"), F.col("u").alias("ua")
    )
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    cos = F.expr(dot_unrolled_sql("ua", "ub", EMB_DIM))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_T)
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path the all-pairs
    ``dedup_embedding_cosine`` baseline promises: candidates are only
    pairs sharing a hyperplane-LSH bucket (the same deterministic
    planes as ``ann_lsh_bucketed``), so the join shuffles on bucket id
    and per-bucket work replaces the O(n²) product. Recall < 1 is the
    operator contract (a near-dup pair split by a hyperplane is
    missed); the oracle models the identical buckets, so the output is
    deterministic and hash-comparable. Skewed buckets at scale are
    split by AQE skew handling (or more planes: 16–20 at 100 TB)."""
    from pim_orc_spark.operators.similarity import _bucket_text

    e = spread(spark, load_table(spark, sf_dir, "embeddings"))
    v = (
        e.select("vec_id", as_double_vec("embedding", EMB_DIM).alias("v0"))
        .selectExpr("vec_id", "v0", f"{_bucket_text('v0')} AS bucket")
        .select("vec_id", unit_vec("v0", EMB_DIM).alias("u"), "bucket")
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"), "bucket"
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"), "bucket"
    )
    cos = F.expr(dot_unrolled_sql("ua", "ub", EMB_DIM))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_T)
    )


INCR_BATCH_MIN_ID = 400  # doc_id >= this = the "new" batch; below = corpus


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: admit only the new-batch documents whose
    normalized-text fingerprint does not already exist in the corpus —
    the standard don't-re-ingest step of a continuously-fed training
    pipeline (new crawl vs what's already in the lake).

    The fixture split is by doc_id (>= INCR_BATCH_MIN_ID is "new");
    production passes two tables. Scale shape: a LEFT ANTI join on the
    md5 fingerprint — both sides shuffle (fingerprint, id) pairs only,
    never document bodies, and the corpus side can instead be a
    pre-built fingerprint index (or a Bloom filter pre-pass) since this
    plan only ever touches its fingerprint column."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", tokens("text"))
    fps = d.select("doc_id", F.md5(norm).alias("fp"))
    corpus = fps.filter(F.col("doc_id") < INCR_BATCH_MIN_ID).select("fp")
    new = fps.filter(F.col("doc_id") >= INCR_BATCH_MIN_ID)
    return new.join(corpus, "fp", "left_anti").select("doc_id", "fp")


def _edge_signature(e: DataFrame) -> tuple[int, int]:
    """Cheap order-insensitive fingerprint of an edge set (count +
    XOR-fold of per-edge hashes — overflow-free under ANSI, exact as a
    set hash since edges are distinct) for the star-contraction
    fixed-point test. One partial-aggregated pass; a collision would
    need two distinct edge sets with equal count AND equal 64-bit XOR."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def star_contraction_components(
    edges: DataFrame, max_rounds: int = 30
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds regardless of component diameter, where
    min-label propagation needs diameter-many rounds (a 1M-long chain of
    shingled near-dups would take 1M rounds; this takes ~20).

    Round = two groupBy/join passes, each shuffling on node id:
      - large-star(u): attach every neighbor v > u to m = min(Γ(u)∪{u});
        afterwards every edge points strictly downward.
      - small-star(u): collapse u's (all-smaller) neighbors and u itself
        onto their minimum.
    Fixed point (edge set unchanged) ⇔ the graph is a union of stars,
    each centered at its component's minimum node. ``localCheckpoint``
    truncates per-round lineage.

    Returns (star edges (src=node, dst=component min), rounds taken).
    Raises RuntimeError if ``max_rounds`` was not enough — unconverged
    labels are silently-wrong cluster ids, never returned (2·log₂(n)+2
    rounds suffice w.h.p., so 30 covers any feasible corpus).
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for rounds in range(1, max_rounds + 1):
        both = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            both.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            both.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # after large-star every edge has dst < src
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        moved = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        contracted = (
            moved.union(mins2.select("src", F.col("m").alias("dst")))
            .distinct()
            .localCheckpoint()
        )
        sig = _edge_signature(contracted)
        # The (count, XOR-hash) signature is probabilistic; the exact-
        # convergence contract is confirmed with ONE set-difference
        # check that runs only at the apparent fixed point. Counts
        # already match (part of the signature) and both sides are
        # distinct, so an empty one-way difference proves equality. On
        # the astronomical collision, the loop simply continues.
        if sig == prev_sig and contracted.exceptAll(e).isEmpty():
            return contracted, rounds
        e = contracted
        prev_sig = sig
    raise RuntimeError(
        f"star contraction did not converge in {max_rounds} rounds — "
        "refusing to return unconverged cluster labels"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact near-dup pair graph — the
    final dedup step: every document labeled with its cluster's minimum
    doc_id (the canonical survivor), singletons labeling themselves.

    Components come from ``star_contraction_components`` (large-star /
    small-star, O(log n) rounds independent of component diameter);
    non-convergence raises instead of returning wrong labels. The final
    star edges map each non-root node to its component minimum; a left
    join labels roots and singletons with themselves.

    Oracle: recursive SQL reachability — the label set of a node is
    every id with a path to it, whose MIN is the component minimum.

    Edges come from ``dedup_minhash_lsh`` — the bucketed, salted,
    verify-before-distinct 100 TB candidate path — NOT the all-pairs
    bitset baseline (round-2 verdict: sourcing edges from the quadratic
    stage made the end-to-end pipeline non-scalable even though the
    contraction itself is O(log n) rounds). At J ≥ 0.8 the LSH output
    equals the exact pair set up to a 5e-8 per-pair miss bound (module
    docstring), so the recursive-reachability oracle is unchanged.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    stars, _rounds = star_contraction_components(
        pairs.toDF("src", "dst")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.join(
        stars.select(F.col("src").alias("doc_id"), F.col("dst").alias("root")),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id")
    )


def dedup_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix — the contamination
    report a corpus owner reads before mixing sources into a training
    run: for every unordered source pair (including same-source), how
    many near-duplicate document pairs (exact-J ≥ 0.8 contract, the
    ``minhash_pairs`` engine) span them.

    Scale shape: the pair set is the LSH engine's output — orders of
    magnitude smaller than the corpus — so source attribution is two
    equi-joins of the (doc_id, source) projection against the pair
    list, and the matrix aggregate is |sources|² rows at most. The
    joins carry NO strategy hint on purpose (r5 verdict #5: a forced
    ``F.broadcast`` here would OOM executors on an adversarial corpus
    whose banding admits ~all pairs — the regime this module's
    fixtures document): AQE sizes the pair side at runtime, picks
    broadcast when it is small (always, under the LSH contract), and
    degrades to a shuffle equi-join instead of an OOM when it isn't."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    pairs = minhash_pairs(spark, d.select("doc_id", "text"))
    src = d.select("doc_id", "source")
    with_a = src.join(
        pairs.select("doc_a", "doc_b"),
        F.col("doc_id") == F.col("doc_a"),
    ).select("doc_a", "doc_b", F.col("source").alias("source_a"))
    with_ab = src.join(
        with_a, F.col("doc_id") == F.col("doc_b")
    ).select("source_a", F.col("source").alias("source_b"))
    return (
        with_ab.select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SPAN_K = 8  # tokens per span — the dedup granularity between shingles
#             (4-gram Jaccard features) and whole documents


def dedup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-LEVEL DEDUP attribution (the Lee et al. 2022
    "Deduplicating Training Data" granularity, at token-span
    resolution): for every document, how many of its SPAN_K-token
    sliding windows also occur verbatim in at least one OTHER document
    — the signal that drives span-level scrubbing where doc-level
    dedup keeps both copies of a mostly-distinct pair that shares a
    boilerplate paragraph.

    100 TB shape: spans never shuffle as strings — each window is
    fingerprinted map-side with the shared 31-poly rolling hash
    (functions/hashing.py, the same fingerprint every minhash oracle
    re-derives), so both key shuffles carry (doc_id, 8-byte fp) rows:
    one fp-aggregate finds cross-document fingerprints, one fp
    semi-join attributes them back, one doc_id aggregate each side.
    Total shuffled volume is O(total tokens × 16 bytes) — the flatMap
    floor for span-level analysis. A true suffix-array pass finds
    variable-length maximal repeats; fixed-K windows are the bounded-
    state approximation that keeps the plan a pure fingerprint
    shuffle (any repeat of length ≥ K is still caught by ≥ 1 window).

    The corpus is scanned and span-hashed ONCE: the (fp, doc_id)
    pre-aggregate (map-side combined) is the only pass over generated
    spans; cross-document detection is a count window over the
    REDUCED relation partitioned by fp (group size = docs containing
    the span — bounded by the corpus doc count, counts only, no join
    back), and the final doc_id aggregate reads the same reduced
    rows. A first draft joined a dup-fp set back against the span
    relation — three scans + three Generates of the corpus; this form
    was rewritten off the executed plan."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens("text").alias("tok")).filter(
        F.size("tok") >= SPAN_K
    )
    spans = base.select(
        "doc_id",
        explode_nonempty(
            F.transform(
                F.sequence(F.lit(1), F.size("tok") - F.lit(SPAN_K - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("tok"), i, SPAN_K)
                ),
            )
        ).alias("span"),
    ).select("doc_id", poly_hash(F.col("span")).alias("fp"))
    g = spans.groupBy("fp", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    gg = g.withColumn("n_docs", n_docs)
    n_dup = F.sum(
        F.when(F.col("n_docs") > 1, F.col("c")).otherwise(F.lit(0))
    ).cast("long")
    return gg.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.round(
            n_dup.cast("double") / F.sum("c"), 6
        ).alias("dup_ratio"),
    )


def _span_report_sql() -> str:
    tok = tokens_sql("text")
    return f"""
        WITH t AS (SELECT doc_id, {tok} AS tok FROM documents),
        sp0 AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, len(tok) - {SPAN_K} + 2),
                   i -> list_aggregate(tok[i:i + {SPAN_K} - 1],
                                       'string_agg', ' '))) AS span
          FROM t WHERE len(tok) >= {SPAN_K}
        ),
        sp AS (SELECT doc_id, {poly_hash_sql('span')} AS fp FROM sp0),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id
        ),
        dup_fp AS (
          SELECT fp FROM sp GROUP BY fp
          HAVING COUNT(DISTINCT doc_id) > 1
        ),
        dup_per_doc AS (
          SELECT doc_id, COUNT(*) AS n_dup FROM sp
          WHERE fp IN (SELECT fp FROM dup_fp) GROUP BY doc_id
        )
        SELECT p.doc_id, p.n_spans,
               CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
               round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / p.n_spans, 6)
                 AS dup_ratio
        FROM per_doc p LEFT JOIN dup_per_doc d USING (doc_id)
    """


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_span_report": dedup_span_report,
    "dedup_overlap_matrix": dedup_overlap_matrix,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_bitset_jaccard": dedup_bitset_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_clusters": dedup_clusters,
    "dedup_incremental": dedup_incremental,
    "dedup_containment": dedup_containment,
    "dedup_containment_prefix": dedup_containment_prefix,
    "dedup_containment_prefix_words": dedup_containment_prefix_words,
    "dedup_exact_collated": dedup_exact_collated,
}


def _jaccard_pairs_sql(source: str = "documents") -> str:
    """Exact char-3-gram Jaccard >= t pair SQL over ``source`` (a table
    or CTE name with doc_id + text). Single authority for the pair
    contract — the curation pipeline oracle reuses it against its
    survivor CTE, so a threshold/rounding change edits ONE place."""
    grams = char_ngrams_sql("text", NGRAM_N)
    return f"""
        WITH g AS (
          SELECT doc_id, {grams} AS grams FROM {source}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / (len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))), 6) >= {JACCARD_T}
    """


def _simhash_sql() -> str:
    tok = tokens_sql("text")
    h = poly_hash_sql("t")
    bit_sums = ", ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(32)
    )
    compose = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    # h0 (the rolling hash) is staged through its own CTE so fmix32's
    # multi-reference mixing stages see a plain column, not a computed
    # expression (fmix32_sql's let-binding note)
    return f"""
        WITH t AS (
          SELECT doc_id, unnest({tok}) AS t FROM documents
        ), h0 AS (
          SELECT doc_id, {h} AS h0 FROM t
        ), h AS (
          SELECT doc_id, {fmix32_sql('h0')} AS h FROM h0
        ), s AS (
          SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
        )
        SELECT doc_id, CAST({compose} AS BIGINT) AS simhash FROM s
    """


ORACLES = {
    "dedup_exact": f"""
        SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM (
          -- coalesce: empty token list aggregates to NULL in DuckDB but
          -- '' under Spark's concat_ws
          SELECT doc_id,
                 md5(coalesce(list_aggregate({tokens_sql('text')}, 'string_agg', ' '), '')) AS fp
          FROM documents
        ) GROUP BY fp
    """,
    "dedup_ngram_jaccard": _jaccard_pairs_sql(),
    # LSH path must reproduce the exact baseline's output (see class
    # docstring for the 5e-8 miss bound at J≥0.8).
    "dedup_minhash_lsh": _jaccard_pairs_sql(),
    # bitset path is exact — same oracle as the string baseline
    "dedup_bitset_jaccard": _jaccard_pairs_sql(),
    # recursive reachability: a node's label set is every id with a path
    # to it; MIN over that set is the component minimum
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
          {_jaccard_pairs_sql()}
        ), edges AS (
          SELECT doc_a AS s, doc_b AS t FROM pairs
          UNION
          SELECT doc_b AS s, doc_a AS t FROM pairs
        ), walk(doc_id, label) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.t, w.label
          FROM walk w JOIN edges e ON e.s = w.doc_id
        )
        SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id
    """,
    "dedup_incremental": f"""
        WITH fps AS (
          SELECT doc_id,
                 md5(coalesce(list_aggregate({tokens_sql('text')}, 'string_agg', ' '), '')) AS fp
          FROM documents
        )
        SELECT doc_id, fp FROM fps
        WHERE doc_id >= {INCR_BATCH_MIN_ID}
          AND fp NOT IN (SELECT fp FROM fps WHERE doc_id < {INCR_BATCH_MIN_ID})
    """,
    "dedup_overlap_matrix": f"""
        WITH pairs AS (
          {_jaccard_pairs_sql()}
        ), m AS (
          SELECT da.source AS source_a, db.source AS source_b
          FROM pairs p
          JOIN documents da ON da.doc_id = p.doc_a
          JOIN documents db ON db.doc_id = p.doc_b
        )
        SELECT least(source_a, source_b) AS source_lo,
               greatest(source_a, source_b) AS source_hi,
               COUNT(*) AS n_pairs
        FROM m GROUP BY 1, 2
    """,
    "dedup_simhash": _simhash_sql(),
    # all-pairs XOR+popcount ground truth; the block-pigeonhole plan is
    # lossless for distance ≤ HAMMING_T so outputs must be identical
    "dedup_simhash_pairs": f"""
        WITH s AS ({_simhash_sql()})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
    """,
    "dedup_embedding_cosine": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cosine_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 4) >= {COSINE_T}
    """,
}


def _embedding_lsh_sql() -> str:
    # deferred: _bucket_sql regenerates the shared hyperplanes, and the
    # import is local to dodge a module cycle at import time
    from pim_orc_spark.operators.similarity import _bucket_sql

    return f"""
        WITH v AS (
          SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cosine_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 4) >= {COSINE_T}
    """


ORACLES["dedup_embedding_lsh"] = _embedding_lsh_sql()
ORACLES["dedup_span_report"] = _span_report_sql()

ORACLES["dedup_containment"] = f"""
WITH g AS (
  SELECT doc_id, {char_ngrams_sql("text", NGRAM_N)} AS grams FROM documents
)
SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(a.grams), 6) AS containment
FROM g a JOIN g b ON a.doc_id <> b.doc_id
WHERE len(a.grams) >= {CONTAIN_MIN_GRAMS}
  AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(a.grams), 6) >= {CONTAIN_T}
"""

# the prefix-filter engine must produce the IDENTICAL pair set — the
# filter is lossless by the pigeonhole bound, so the oracle is shared
ORACLES["dedup_containment_prefix"] = ORACLES["dedup_containment"]

# word-shingle regime: same directional-containment contract over
# DISTINCT word sets (the Spark side's array_distinct(tokens))
ORACLES["dedup_containment_prefix_words"] = f"""
WITH g AS (
  SELECT doc_id, list_distinct({tokens_sql("text")}) AS grams
  FROM documents
)
SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(a.grams), 6) AS containment
FROM g a JOIN g b ON a.doc_id <> b.doc_id
WHERE len(a.grams) >= {CONTAIN_MIN_GRAMS}
  AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(a.grams), 6) >= {CONTAIN_T}
"""

ORACLES["dedup_exact_collated"] = """
WITH v AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END AS t
  FROM documents
)
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM v GROUP BY lower(t)
"""
