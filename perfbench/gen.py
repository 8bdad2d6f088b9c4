"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow and touches no Spark, so inputs are
ready before (or while) the Spark session starts, and the same seed
always gives byte-identical parquet files. Sizes never depend on the
seed: a different seed changes values, not row counts or the width of
the char-3-gram dictionary a document batch produces.

Tables follow the column layout of the engine's TPC-H-style fixtures
(see the engine's ``catalog.TABLE_NAMES``), so every engine function
that reads ``<dir>/<table>.parquet`` runs on them unchanged.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINES_PER_ORDER = 4
CUSTOMERS_PER_ORDER = 10  # 10 orders per customer, as in TPC-H
SUPPLIERS = 1_000
PARTS = 20_000
ROW_GROUPS = 8  # 2 per core on a 4-core host: Spark splits a file by row group

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EPOCH_1992 = datetime.datetime(1992, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pc.take(pa.array(words), pa.array(rng.integers(0, len(words), n)))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    base = int((_EPOCH_1992 - datetime.datetime(1970, 1, 1)).total_seconds())
    us = base * 1_000_000 + rng.integers(lo, hi, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(cents: np.ndarray) -> pa.Array:
    """2-dp doubles from exact integer cents (the fixtures' money form)."""
    return pa.array(cents / 100.0, pa.float64())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def lineitem(seed: int, n_orders: int) -> pa.Table:
    """``LINES_PER_ORDER × n_orders`` lineitem rows for orders
    ``0 .. n_orders - 1``. ``l_extendedprice`` is an
    exact 2-dp value (quantity × a whole-cent part price)."""
    rng = np.random.default_rng([seed, 1])
    n = n_orders * LINES_PER_ORDER
    qty = rng.integers(1, 51, n)
    price_cents = qty * rng.integers(90_000, 200_000, n)
    return pa.table({
        "l_orderkey": pa.array(
            np.repeat(np.arange(n_orders), LINES_PER_ORDER),
            pa.int64(),
        ),
        "l_partkey": pa.array(rng.integers(1, PARTS + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, SUPPLIERS + 1, n), pa.int64()),
        "l_linenumber": pa.array(
            np.tile(np.arange(1, LINES_PER_ORDER + 1), n_orders), pa.int32()
        ),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": _money(price_cents),
        "l_discount": _money(rng.integers(0, 11, n)),
        "l_tax": _money(rng.integers(0, 9, n)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, 0, 2_557),
    })


def star_schema(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """The star schema the relational workload joins: lineitem, orders,
    customer, supplier, nation, region. Fact keys are dense, so every
    lineitem row finds its order, customer and supplier."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(n_orders // CUSTOMERS_PER_ORDER, 1)
    cust = np.arange(1, n_cust + 1)
    supp = np.arange(1, SUPPLIERS + 1)
    okeys = np.arange(n_orders)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
            "n_name": pa.array([n for n, _ in NATIONS]),
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": _names("Customer", cust),
            "c_nationkey": pa.array(
                rng.integers(0, len(NATIONS), n_cust), pa.int32()
            ),
            "c_acctbal": _money(rng.integers(-99_999, 1_000_000, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": _names("Supplier", supp),
            "s_nationkey": pa.array(
                rng.integers(0, len(NATIONS), SUPPLIERS), pa.int32()
            ),
            "s_acctbal": _money(rng.integers(-99_999, 1_000_000, SUPPLIERS)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(
                rng.integers(1, n_cust + 1, n_orders), pa.int64()
            ),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng.integers(100_000, 50_000_000, n_orders)),
            "o_orderdate": _days(rng, n_orders, 0, 2_406),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }),
        "lineitem": lineitem(seed, n_orders),
    }


def write_table(table: pa.Table, out_dir: str, name: str) -> str:
    """Write ``<out_dir>/<name>.parquet`` as one file of ROW_GROUPS row
    groups (one file keeps DuckDB's ``'<path>'`` views working; the row
    groups let Spark split it across cores)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    rows = max(-(-table.num_rows // ROW_GROUPS), 1)
    pq.write_table(table, path, row_group_size=rows, compression="snappy")
    return path


# ------------------------------------------------------------ documents

# A fixed vocabulary over a 14-letter alphabet: a batch's char-3-gram
# dictionary then saturates at the same 2,805 grams whatever the seed
# (44 mask words, under the engine's 64-word narrow-branch bound), while
# a document covers only a few percent of it, so unrelated documents stay
# far below the 0.8 near-duplicate threshold.
VOCAB_SIZE = 1_500
_ALPHABET = np.array(list("abcdefghiklmno"))
DOC_TOKENS = (40, 80)  # quality-passing documents
SHORT_TOKENS = (5, 15)  # below the engine's 20-token quality gate
SOURCES = 4
SHORT_EVERY = 10  # doc i with i % 10 == 3 is too short
EXACT_EVERY = 10  # doc i with i % 10 == 6 repeats doc i-1 (case/punct changed)
NEAR_EVERY = 10  # doc i with i % 10 == 9 near-duplicates doc i-1
PERTURB_EVERY = 25  # a near-duplicate differs in every 25th token
JACCARD_T = 0.8


def vocabulary() -> list[str]:
    rng = np.random.default_rng(0x5EED)
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(3, 8))
        words.add("".join(rng.choice(_ALPHABET, k)))
    return sorted(words)


def char3grams(text: str) -> set[str]:
    """The engine's shingle set (``textfns.char_ngrams(text, 3)``):
    distinct 3-grams of the lower-cased tokens joined by single spaces."""
    norm = " ".join(
        t for t in "".join(c if c.isalnum() else " " for c in text.lower()).split()
    )
    return {norm[i : i + 3] for i in range(max(len(norm) - 2, 1))}


def jaccard(a: str, b: str) -> float:
    ga, gb = char3grams(a), char3grams(b)
    return len(ga & gb) / len(ga | gb)


def doc_batch(seed: int, n_docs: int, vocab: list[str]) -> tuple[pa.Table, list[tuple]]:
    """One curation batch of ``n_docs`` documents and the per-source
    funnel the engine must report for it, as sorted rows of
    (source, n_raw, n_quality, n_exact, n_kept, tokens_kept).

    Planted structure, at fixed positions so counts never depend on
    the seed: too-short documents, exact duplicates (same tokens,
    different case and punctuation) and near-duplicates (every 25th
    token replaced, char-3-gram Jaccard checked ≥ 0.8 here). Every
    duplicate has a larger doc_id than its original, so the engine
    keeps the original and drops the copy."""
    rng = np.random.default_rng([seed, 3])
    v = np.array(vocab)
    # every word occurs in every batch, so the gram dictionary is the
    # vocabulary's and its width does not depend on the seed
    cover = rng.permutation(len(v)).tolist()
    texts: list[str] = []
    funnel: dict[str, list[int]] = {}
    for i in range(n_docs):
        src = f"src{i % SOURCES}"
        row = funnel.setdefault(src, [0, 0, 0, 0, 0])
        row[0] += 1
        if i % SHORT_EVERY == 3:
            k = int(rng.integers(*SHORT_TOKENS))
            texts.append(" ".join(v[rng.integers(0, len(v), k)]))
            continue
        row[1] += 1
        if i % EXACT_EVERY == 6:
            texts.append(", ".join(texts[i - 1].split()).upper() + ".")
            continue
        row[2] += 1
        if i % NEAR_EVERY == 9:
            toks = texts[i - 1].split()
            for j in range(0, len(toks), PERTURB_EVERY):
                toks[j] = str(v[rng.integers(0, len(v))])
            text = " ".join(toks)
            if jaccard(text, texts[i - 1]) < JACCARD_T:
                raise ValueError(f"planted near-duplicate {i} below J={JACCARD_T}")
            texts.append(text)
            continue
        k = int(rng.integers(*DOC_TOKENS))
        idx = [cover.pop() if cover else int(x) for x in rng.integers(0, len(v), k)]
        texts.append(" ".join(v[idx]))
        row[3] += 1
        row[4] += k
    if cover:
        raise ValueError(f"{n_docs} documents cannot cover the {len(v)}-word vocabulary")
    ids = np.arange(n_docs)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % SOURCES}" for i in ids.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    expected = sorted((s, *r) for s, r in funnel.items())
    return table, expected


def gram_width(table: pa.Table) -> int:
    """Distinct char-3-grams over the documents the near-dup stage sees
    (quality-passing exact survivors), i.e. the engine's dictionary."""
    grams: set[str] = set()
    for i, t in enumerate(table.column("text").to_pylist()):
        if i % SHORT_EVERY != 3 and i % EXACT_EVERY != 6:
            grams |= char3grams(t)
    return len(grams)
