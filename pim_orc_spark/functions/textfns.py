"""Portable text kernels: tokenization, stoplists, token statistics.

Tokenizer contract (shared with every text/dedup operator and its DuckDB
oracle): lowercase, split on runs of non-[a-z0-9], drop empties. Both
engines implement this with their regex engines; the pattern uses only
constructs with identical semantics in Java regex and RE2.

All of this is JVM-side Catalyst code (F.split/F.transform/F.filter) —
no Python UDFs — so at 100 TB it pays no serialization to a Python
worker. It is not all codegen'd: ``transform``, ``filter`` and
``aggregate`` are CodegenFallback expressions, which Spark evaluates
interpreted per row (and per element) inside the generated stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Minimal stoplists for the language-ID heuristic. Deliberately tiny and
# hard-coded: they are part of the operator's deterministic contract.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "por", "con", "para"),
}


def tokens(col: Column | str) -> Column:
    """array<string> of normalized tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != F.lit("")
    )


def tokens_sql(expr: str) -> str:
    """DuckDB fragment producing the identical token list."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        " x -> x <> '')"
    )


def stopword_hits(tok: Column, lang: str) -> Column:
    """Count of tokens present in the language's stoplist."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tok, lambda x: F.array_contains(words, x)))


def stopword_hits_sql(tok_expr: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({tok_expr}, x -> list_contains([{lst}], x)))"


def char_ngrams(col: Column | str, n: int) -> Column:
    """Distinct character n-grams of the *normalized* text (tokens joined
    by single spaces) — the shingle set for Jaccard/MinHash dedup.

    Computed as substrings over an index sequence: pure Catalyst
    expressions, vectorizable, no Python.

    The normalized string is let-bound through a single-element-array
    ``transform`` so it is evaluated ONCE per row. Referencing the
    ``norm`` Column directly inside the per-position lambda would embed
    the whole tokenize+join expression at every use site, and Catalyst
    evaluates lambda bodies per element — the tokenizer would run ~|text|
    times per row (measured 30× end-to-end on the documents fixture).
    """
    norm = F.concat_ws(" ", tokens(col))

    def grams_of(s: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1)))
        return F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, n)))

    return F.transform(F.array(norm), grams_of).getItem(0)


def char_ngrams_sql(expr: str, n: int) -> str:
    # coalesce: DuckDB's list_aggregate over an empty token list is NULL
    # where Spark's concat_ws is '' — normalize to '' so both engines
    # emit the same single-empty-gram array for token-free input.
    norm = f"coalesce(list_aggregate({tokens_sql(expr)}, 'string_agg', ' '), '')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({norm}) - {n - 1}, 1) + 1),"
        f" i -> {norm}[i:i+{n - 1}]))"
    )
