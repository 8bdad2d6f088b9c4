"""Engine-portable deterministic hashing.

Spark's xxhash64/murmur and DuckDB's hash() disagree, so any hash that
participates in an oracle-checked result is computed from first
principles in both engines: a 31-polynomial rolling hash over ASCII
codes, mod the Mersenne prime 2^31-1. Each fold step stays < 2^36, so
no 64-bit overflow in either engine.

This is also the document-fingerprinting primitive (rolling hash) for
the text-analysis operator family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 2_147_483_647  # 2^31 - 1


def poly_hash(col: Column | str) -> Column:
    """hash31(s) = fold(ascii chars): h = (h*31 + code) % (2^31-1).

    Catalyst-only (sequence/transform/aggregate): no Python worker, but
    ``transform`` and ``aggregate`` are CodegenFallback expressions, so
    Spark evaluates this fold interpreted, per row and per character,
    even inside a whole-stage-codegen stage.
    """
    c = F.col(col) if isinstance(col, str) else col

    # Let-bind the input through a single-element-array transform so an
    # EXPRESSION argument (e.g. the normalized-text concat) is evaluated
    # once per row — referenced directly inside the per-character lambda
    # it would be re-evaluated |s| times (see textfns.char_ngrams).
    def hash_of(s: Column) -> Column:
        codes = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
            lambda i: F.ascii(F.substring(s, i, 1)),
        )
        return F.when(F.length(s) == 0, F.lit(0)).otherwise(
            F.aggregate(
                codes,
                F.lit(0).cast("bigint"),
                lambda acc, x: (acc * 31 + x) % MOD,
            )
        )

    return F.transform(F.array(c), hash_of).getItem(0)


def poly_hash_sql(expr: str) -> str:
    """DuckDB fragment computing the identical hash (list_reduce folds
    left with the first element as accumulator, so prepend the 0 seed)."""
    return (
        f"CASE WHEN len({expr}) = 0 THEN 0 ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({expr}) + 1), i -> CAST(ascii({expr}[i:i]) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {MOD}) END"
    )


_FMIX_C1 = 0x85EBCA6B
_FMIX_C2 = 0xC2B2AE35
_U32 = 1 << 32


def _fmix32_text(expr: str, xor, shr) -> str:
    """Murmur3's fmix32 finalizer as SQL text over a non-negative bigint
    holding a value < 2^32 — full avalanche: every output bit depends
    on every input bit. ``xor(a, b)`` and ``shr(a, n)`` spell the
    engine's bitwise XOR and right shift; the rest of the text is the
    same in Spark and DuckDB.

    WHY IT EXISTS: ``poly_hash`` values live below 2^31−1, and for
    SHORT tokens they concentrate far lower (a 4-char base-26 word
    folds to < 2^23), so consumers of INDIVIDUAL BITS — SimHash's
    per-bit majority votes — see dead high bits: measured on a
    diverse 50k-vocabulary corpus, simhash bits 13..31 were
    corpus-constant and the contiguous top pigeonhole block became a
    universal collider (100.0000% candidate admission = silent
    all-pairs; see dedup_simhash). Sum/compare consumers (minhash
    ordering, fingerprints) are unaffected and keep the raw hash.

    The multiplies are SPLIT 16/16 (hi·c mod 2^16 recombined with
    lo·c) so every intermediate stays < 2^49: h·0xC2B2AE35 on a full
    32-bit h would overflow signed int64 in both engines.

    ``expr`` should be a PLAIN COLUMN reference: each mixing stage
    references its input multiple times, so a computed expression
    would be repeated combinatorially in the text. Over a plain column
    in its own projection, Spark's whole-stage codegen eliminates the
    repeated subexpressions and computes each stage once; DuckDB gets
    its input staged through a CTE."""

    def mul32(x: str, c: int) -> str:
        return (
            f"((({x}) & 65535) * {c} + "
            f"((({shr(x, 16)}) * {c}) % 65536) * 65536) % {_U32}"
        )

    s = xor(expr, shr(expr, 16))
    s = mul32(s, _FMIX_C1)
    s = xor(s, shr(s, 13))
    s = mul32(s, _FMIX_C2)
    return xor(s, shr(s, 16))


def fmix32_spark_sql(expr: str) -> str:
    """Spark SQL text of fmix32 (see ``_fmix32_text``). Apply it to a
    plain column in its own ``selectExpr``, as ``dedup_simhash`` does;
    a ``transform`` lambda would evaluate it interpreted, without
    subexpression elimination."""
    return _fmix32_text(
        expr,
        lambda a, b: f"(({a}) ^ ({b}))",
        lambda a, n: f"shiftright({a}, {n})",
    )


def fmix32_sql(expr: str) -> str:
    """DuckDB text of the identical fmix32 (see ``_fmix32_text``); stage
    a computed input through a CTE first, as _simhash_sql does."""
    return _fmix32_text(
        expr, lambda a, b: f"xor({a}, {b})", lambda a, n: f"({a}) >> {n}"
    )


def fmix32_py(h: int) -> int:
    """Reference Python fmix32 (the textbook unsplit form) — the
    known-answer side of the three-way equality pytest."""
    h ^= h >> 16
    h = (h * _FMIX_C1) % _U32
    h ^= h >> 13
    h = (h * _FMIX_C2) % _U32
    return h ^ (h >> 16)


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k permutations — a simple LCG so
    both engines (and any future round) regenerate the same family."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % MOD
        a = (state % (MOD - 1)) + 1
        state = (state * 1_103_515_245 + 12_345) % MOD
        b = state % MOD
        params.append((a, b))
    return params
