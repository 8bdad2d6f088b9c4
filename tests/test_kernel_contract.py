"""Fuzz the shared Spark↔DuckDB kernel contract.

Every dedup/text oracle rests on three deterministic kernels producing
IDENTICAL results in both engines: the tokenizer, char n-grams, and the
rolling poly hash. This test drives all three with adversarial strings
(unicode, punctuation runs, empties, long repeats) through both engines
and diffs row-for-row — a divergence here would silently skew every
downstream oracle comparison.
"""

from __future__ import annotations

import random
import string

import duckdb
import pytest

from pim_orc_spark.functions.hashing import poly_hash, poly_hash_sql
from pim_orc_spark.functions.textfns import (
    char_ngrams,
    char_ngrams_sql,
    tokens,
    tokens_sql,
)

_ALPHABETS = [
    string.ascii_letters,
    string.digits,
    " \t\n.,;:!?()[]{}#@$%^&*-_=+|\\/\"'",
    "äöüßéèñçπΩλ中文日本語한국어",  # non-ASCII: must tokenize out
    "aaaaaaaaaaaaaaaaaaaaaaaa",
]


def _fuzz_strings(n: int = 300, seed: int = 42) -> list[str]:
    rng = random.Random(seed)
    out = ["", " ", "a", "A B", "  leading", "trailing  ", "ÄÖÜ", "123"]
    for _ in range(n):
        alpha = rng.choice(_ALPHABETS)
        length = rng.randint(0, 120)
        out.append("".join(rng.choice(alpha) for _ in range(length)))
    # mixed-alphabet strings
    for _ in range(n // 3):
        length = rng.randint(0, 200)
        out.append(
            "".join(
                rng.choice(rng.choice(_ALPHABETS)) for _ in range(length)
            )
        )
    return out


@pytest.fixture(scope="module")
def fuzz_df(spark):
    rows = [(i, s) for i, s in enumerate(_fuzz_strings())]
    df = spark.createDataFrame(rows, "id long, s string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, s VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return df, con


def _diff(spark_rows, duck_rows):
    assert len(spark_rows) == len(duck_rows)
    for a, b in zip(spark_rows, duck_rows):
        assert tuple(a) == tuple(b), f"spark={tuple(a)} duck={tuple(b)}"


def test_tokenizer_contract(fuzz_df):
    df, con = fuzz_df
    sp = df.select("id", tokens("s").alias("v")).orderBy("id").collect()
    dk = con.execute(
        f"SELECT id, {tokens_sql('s')} AS v FROM t ORDER BY id"
    ).fetchall()
    _diff([(r["id"], tuple(r["v"])) for r in sp], [(i, tuple(v)) for i, v in dk])


def test_char_ngrams_contract(fuzz_df):
    """Set equality, not order: DuckDB's list_distinct does not preserve
    first-occurrence order (Spark's array_distinct does). Every
    consumer treats grams as a SET — intersection sizes, min-hash,
    dictionary encoding — so the contract is the set."""
    df, con = fuzz_df
    sp = df.select("id", char_ngrams("s", 3).alias("v")).orderBy("id").collect()
    dk = con.execute(
        f"SELECT id, {char_ngrams_sql('s', 3)} AS v FROM t ORDER BY id"
    ).fetchall()
    _diff(
        [(r["id"], tuple(sorted(r["v"]))) for r in sp],
        [(i, tuple(sorted(v))) for i, v in dk],
    )


def test_poly_hash_contract(fuzz_df):
    df, con = fuzz_df
    # hash the normalized token join (ASCII by construction after
    # tokenize) — the exact shape dedup uses
    from pyspark.sql import functions as F

    norm = F.concat_ws(" ", tokens("s"))
    sp = df.select("id", poly_hash(norm).alias("h")).orderBy("id").collect()
    norm_sql = f"list_aggregate({tokens_sql('s')}, 'string_agg', ' ')"
    dk = con.execute(
        f"SELECT id, {poly_hash_sql(f'coalesce({norm_sql}, ' + chr(39) + chr(39) + ')')} AS h"
        " FROM t ORDER BY id"
    ).fetchall()
    _diff([(r["id"], r["h"]) for r in sp], dk)


def test_fmix32_contract(spark):
    """Three-way equality of the Murmur3 fmix32 finalizer — Spark SQL
    text (split 16/16 multiplies), DuckDB fragment, and the textbook
    unsplit Python form — across u32 range edges, the poly_hash output
    range, and random values. The split form exists because h·c on a
    full 32-bit h overflows signed int64; equality with the unsplit
    reference proves the split introduces no wraparound error. Plus
    avalanche sanity: the mix must actually spread poly_hash's
    concentrated short-token range across the high bits (the dead-bit
    regression that silently degraded dedup_simhash_pairs to
    all-pairs on diverse corpora)."""
    from pyspark.sql import functions as F

    from pim_orc_spark.functions.hashing import (
        MOD,
        fmix32_py,
        fmix32_spark_sql,
        fmix32_sql,
    )

    rng = random.Random(7)
    vals = [
        0,
        1,
        2,
        0xFFFF,
        0x10000,
        MOD - 1,
        MOD,
        (1 << 32) - 1,
        0x12345678,
        0xDEADBEEF,
    ] + [rng.randrange(1 << 32) for _ in range(500)]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, h bigint")
    sp = {
        r["id"]: r["m"]
        for r in df.select(
            "id", F.expr(fmix32_spark_sql("h")).alias("m")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v (id BIGINT, h BIGINT)")
    con.executemany("INSERT INTO v VALUES (?, ?)", rows)
    dk = dict(
        con.execute(
            f"SELECT id, {fmix32_sql('h')} AS m FROM v ORDER BY id"
        ).fetchall()
    )
    for i, v in rows:
        ref = fmix32_py(v)
        assert sp[i] == ref, (v, sp[i], ref)
        assert dk[i] == ref, (v, dk[i], ref)
        assert 0 <= ref < (1 << 32)
    # avalanche: short-token poly_hash values (< 2^23) must populate
    # the high bits post-mix — each of bits 23..31 set for a healthy
    # fraction of a small input sample
    sample = [fmix32_py(h) for h in range(0, 1 << 23, 9973)]
    for b in range(23, 32):
        frac = sum((m >> b) & 1 for m in sample) / len(sample)
        assert 0.35 < frac < 0.65, (b, frac)


def test_list_dot_product_is_sequential_fold():
    """The entire vector-oracle suite (cosine_sql, the SQ/RP/PQ unit
    vectors, the LM micro-nats) rests on ONE cross-engine assumption:
    DuckDB's list_dot_product accumulates LEFT-TO-RIGHT, bit-identical
    to Catalyst's aggregate() fold and Python's sequential sum. This
    pins that assumption as a checked contract — if a DuckDB upgrade
    switches to SIMD/pairwise summation, THIS fails loudly instead of
    an ANN rank flipping silently. Values are adversarial: mixed
    magnitudes (1e16 vs 1e-16) where summation ORDER changes the
    result by far more than an ulp."""
    import math
    import random

    import duckdb

    rng = random.Random(7)
    cases = []
    for _ in range(50):
        n = rng.randrange(1, 65)
        a = [rng.uniform(-1, 1) * 10 ** rng.randrange(-16, 17) for _ in range(n)]
        b = [rng.uniform(-1, 1) * 10 ** rng.randrange(-16, 17) for _ in range(n)]
        cases.append((a, b))
    con = duckdb.connect()
    for a, b in cases:
        expected = 0.0
        for x, y in zip(a, b):
            expected += x * y  # sequential left-to-right fold
        got = con.execute(
            "SELECT list_dot_product(CAST(? AS DOUBLE[]), CAST(? AS DOUBLE[]))",
            [a, b],
        ).fetchone()[0]
        assert got == expected or (
            math.isnan(got) and math.isnan(expected)
        ), f"list_dot_product diverged from the sequential fold: {got} != {expected}"


def test_sessionize_matches_greedy_reference(spark):
    """Property: the windowed sessionize kernel equals the pure-Python
    greedy gap splitter on random timelines — duplicate timestamps,
    single-event users, gaps straddling the threshold exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.relational import sessionize

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),  # key
                st.integers(min_value=0, max_value=40),  # ts seconds
            ),
            min_size=1,
            max_size=60,
        ),
        gap=st.integers(min_value=1, max_value=12),
    )
    def check(rows, gap):
        rows = [(k, t, i) for i, (k, t) in enumerate(rows)]
        df = spark.createDataFrame(rows, "k long, t long, rid long")
        got = {
            (r.k, r.t, r.rid): r.session_idx
            for r in sessionize(
                df, "k", "t", gap, order_cols=("rid",)
            ).collect()
        }
        # greedy reference: sort (t, rid) per key, split when delta > gap
        exp = {}
        bykey = {}
        for k, t, rid in rows:
            bykey.setdefault(k, []).append((t, rid))
        for k, evs in bykey.items():
            evs.sort()
            prev, idx = None, 0
            for t, rid in evs:
                if prev is None or t - prev > gap:
                    idx += 1
                exp[(k, t, rid)] = idx
                prev = t
        assert got == exp

    check()


def test_asof_join_matches_latest_at_or_before_reference(spark):
    """Property: the carry-forward asof_join equals the naive
    per-left-row argmax (latest right at-or-before) — exact timestamp
    ties, left rows before any right row, keys on one side only."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.relational import asof_join

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        left=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=40,
        ),
        right=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=0,
            max_size=25,
        ),
    )
    def check(left, right):
        lrows = [(k, t, i) for i, (k, t) in enumerate(left)]
        # right must be unique per (key, ts): dedup keeping max payload
        rmap = {}
        for k, t in right:
            rmap[(k, t)] = max(rmap.get((k, t), 0), k * 1000 + t)
        rrows = [(k, t, v) for (k, t), v in rmap.items()]
        ldf = spark.createDataFrame(lrows, "k long, lt long, lid long")
        rdf = spark.createDataFrame(
            rrows or [(None, None, None)], "k long, rt long, payload long"
        )
        if not rrows:
            rdf = rdf.filter("k IS NOT NULL")
        got = {
            (r.k, r.lt, r.lid): r.payload
            for r in asof_join(
                ldf, rdf, "k", "lt", "rt", ("payload",)
            ).collect()
        }
        exp = {}
        for k, t, lid in lrows:
            best = None
            for (rk, rt), v in rmap.items():
                if rk == k and rt <= t and (best is None or rt > best[0]):
                    best = (rt, v)
            exp[(k, t, lid)] = best[1] if best else None
        assert got == exp

    check()


def test_public_kernel_input_guards(spark):
    """Round-6 ADVICE: the exported kernels validate their inputs
    instead of silently producing ambiguous/overwritten columns."""
    import pytest

    from pim_orc_spark.operators.relational import asof_join, sessionize

    left = spark.createDataFrame([(1, 10, "x")], "k int, t int, v string")
    right = spark.createDataFrame([(1, 5, 1.0)], "k int, rt int, price double")

    # value_cols colliding with a left column
    with pytest.raises(ValueError, match="collide with left"):
        asof_join(left, right, "k", "t", "rt", ("v",))
    # reserved internal names in either input
    bad = left.withColumnRenamed("v", "__lrow")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(bad, right, "k", "t", "rt", ("price",))
    # value_cols absent from right
    with pytest.raises(ValueError, match="not in right"):
        asof_join(left, right, "k", "t", "rt", ("nope",))
    # valid call still works
    out = asof_join(left, right, "k", "t", "rt", ("price",))
    assert out.columns == ["k", "t", "v", "price"]
    assert out.collect()[0]["price"] == 1.0

    # sessionize refuses to clobber a caller's session_idx
    has_idx = left.withColumnRenamed("v", "session_idx")
    with pytest.raises(ValueError, match="session_idx"):
        sessionize(has_idx, "k", "t", 60)
    # a column named like the internal flag must not perturb results
    flagged = left.withColumnRenamed("v", "__sess_flag")
    out = sessionize(flagged, "k", "t", 60)
    assert [r["session_idx"] for r in out.collect()] == [1]
    assert "__sess_flag" in out.columns  # caller's column survives


def test_span_report_matches_pure_python_reference(spark):
    """Property: dedup_span_report's single-pass windowed-aggregate
    plan equals a brute-force pure-Python span counter on random
    corpora with seeded cross-document repeats — the corners the
    fixture never hits (docs shorter than SPAN_K, single-doc repeats
    that must NOT count, a span shared by 3+ docs counted once per
    position)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.dedup import SPAN_K, dedup_span_report

    word = st.sampled_from(["a", "bb", "ccc", "dog", "cat", "run"])

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        docs=st.lists(
            st.lists(word, min_size=0, max_size=SPAN_K * 3),
            min_size=1,
            max_size=8,
        ),
        dup_seed=st.integers(min_value=0, max_value=2),
    )
    def check(docs, dup_seed):
        # seed one guaranteed cross-doc repeat when ≥2 docs qualify
        if len(docs) >= 2 and dup_seed:
            shared = ["dog", "cat"] * ((SPAN_K + 1) // 2)
            docs = list(docs)
            docs[0] = docs[0] + shared
            docs[1] = shared + docs[1]
        rows = [(i, " ".join(words)) for i, words in enumerate(docs)]

        # pure-Python reference over the SAME tokenization
        spans = {}  # (doc, span) positions
        for i, words in enumerate(docs):
            for j in range(len(words) - SPAN_K + 1):
                spans.setdefault(
                    " ".join(words[j : j + SPAN_K]), []
                ).append(i)
        expect = {}
        for span, occ in spans.items():
            cross = len(set(occ)) > 1
            for i in occ:
                n_sp, n_dup = expect.get(i, (0, 0))
                expect[i] = (n_sp + 1, n_dup + (1 if cross else 0))

        # monkeypatch-free: run the real operator over a temp view by
        # writing a tiny parquet "documents" table
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows, "doc_id: long, text: string"
            ).write.parquet(os.path.join(td, "documents.parquet"))
            got = {
                r.doc_id: (r.n_spans, r.n_dup_spans)
                for r in dedup_span_report(spark, td).collect()
            }
        assert got == {k: v for k, v in expect.items()}, (got, expect)

    check()


def test_pii_patterns_match_python_re_on_adversarial_strings(spark):
    """The PII regexes must behave identically under Java regex
    (Spark), RE2 (DuckDB — exercised via the oracle sweep), and
    Python re (this reference): counts and replacement output are
    compared on adversarial strings — adjacent emails, emails at
    string boundaries, dots/dashes hugging the pattern edges, phone
    shapes inside longer digit runs."""
    import re

    from pyspark.sql import functions as F

    from pim_orc_spark.operators.text import _PII_EMAIL, _PII_PHONE

    cases = [
        "",
        "plain words only",
        "a@b.co",
        "x a@b.co y",
        "a@b.co c@d.org",  # adjacent, space-separated
        "end with a@b.co",
        "a@b.co starts it",
        "dots.around@ex.com.",  # trailing period joins the TLD run
        "u+tag@sub.ex-site.org",
        "not-an-email@nope",  # no TLD — must NOT match
        "555-1234",
        "x 555-1234 y 555-9999",
        "12555-12345",  # digits hugging both edges — Java/RE2 have no
        #                 boundary assertions here, both match inside
        "call 555-123",  # too short — no match
        "a@b.co 555-1234 mixed",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i: long, s: string")
    got = {
        r.i: (r.ne, r.np, r.red)
        for r in df.select(
            "i",
            F.regexp_count("s", F.lit(_PII_EMAIL)).alias("ne"),
            F.regexp_count("s", F.lit(_PII_PHONE)).alias("np"),
            F.regexp_replace(
                F.regexp_replace("s", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ).alias("red"),
        ).collect()
    }
    for i, s in enumerate(cases):
        ne = len(re.findall(_PII_EMAIL, s))
        np_ = len(re.findall(_PII_PHONE, s))
        red = re.sub(_PII_PHONE, "<PHONE>", re.sub(_PII_EMAIL, "<EMAIL>", s))
        assert got[i] == (ne, np_, red), (s, got[i], (ne, np_, red))


def test_bfs_min_hops_matches_pure_python_reference(spark):
    """Property: the level-synchronous BFS kernel equals a pure-Python
    BFS on random directed graphs — cycles, self-loops, duplicate
    edges, unreachable nodes, and depths beyond max_hops (nodes whose
    shortest path exceeds the bound must be ABSENT, not misranked)."""
    from collections import deque

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.relational import bfs_min_hops

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=0,
            max_size=30,
        ),
        max_hops=st.integers(min_value=1, max_value=4),
    )
    def check(edges, max_hops):
        adj = {}
        for s_, d_ in edges:
            adj.setdefault(s_, set()).add(d_)
        expect = {0: 0}
        q = deque([(0, 0)])
        while q:
            node, h = q.popleft()
            if h == max_hops:
                continue
            for nxt in adj.get(node, ()):
                if nxt not in expect:
                    expect[nxt] = h + 1
                    q.append((nxt, h + 1))
        e = spark.createDataFrame(
            edges or [(99, 98)], "src: long, dst: long"  # 99/98: inert
        ).localCheckpoint()
        if not edges:
            expect = {0: 0}
        got = {
            r.node: r.hops
            for r in bfs_min_hops(spark, e, 0, max_hops).collect()
        }
        assert got == expect, (sorted(edges), max_hops, got, expect)

    check()


def test_triangle_counts_matches_brute_force(spark):
    """Property: the degree-oriented triangle kernel equals brute-force
    enumeration on random undirected graphs — hubs (degree ties), rank
    tiebreaks, triangle-free graphs, and nodes shared by many
    triangles."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.relational import triangle_counts

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        raw=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=8),
                st.integers(min_value=0, max_value=8),
            ),
            min_size=0,
            max_size=28,
        )
    )
    def check(raw):
        und = {(min(a, b), max(a, b)) for a, b in raw if a != b}
        expect = {}
        for x, y, z in combinations(sorted({v for e_ in und for v in e_}), 3):
            if (
                (x, y) in und and (y, z) in und and (x, z) in und
            ):
                for v in (x, y, z):
                    expect[v] = expect.get(v, 0) + 1
        e = spark.createDataFrame(
            sorted(und) or [(98, 99)], "a: long, b: long"  # 98/99: inert
        ).localCheckpoint()
        got = {
            r.node: r.cnt for r in triangle_counts(e).collect()
        }
        assert got == expect, (sorted(und), got, expect)

    check()
