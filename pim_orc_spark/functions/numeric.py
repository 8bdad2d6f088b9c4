"""Deterministic numeric aggregation helpers.

Floating-point SUM is order-dependent; Spark's partial/final aggregation
(two-phase HashAggregateExec ≈ reference reader.cc:60-63 + 156-160) sums
in a partition-dependent order, so a double SUM is not bit-comparable
with any other engine. The fix is the classical one: aggregate in exact
decimal, then present as double. DECIMAL addition is associative, so the
result is identical regardless of partitioning — on 32 local threads or
1000 executors.

Every exact aggregate starts from ``cents``: a 2-dp double as integer
hundredths, equal to Spark's ``CAST(round(x * 100) AS BIGINT)`` (HALF_UP)
on every double but computed in primitive double/long arithmetic —
Spark's ``round`` on a double builds a java.math.BigDecimal per row
(``_half_up_text`` has the form and its proof). The Spark side is
built as SQL text, one ``F.expr`` per aggregate, because every
Column-API call is its own Py4J round trip. The public ``*_sql``
functions are the DuckDB side of the oracle and stay independent of it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _half_up_text(y: str) -> str:
    """Spark SQL for ``CAST(round(y, 0) AS BIGINT)`` on a double ``y``
    without a per-row BigDecimal:

        CAST(IF(abs(y - rint(y)) = 0.5, y + signum(y) * 0.5, rint(y))
             AS BIGINT)

    ``rint`` is Java's ``Math.rint``: the nearest integer, ties to even.
    HALF_UP differs from it only at an exact tie, where it rounds away
    from zero.

    Proof of equality for every double y:

    - |y| < 2⁵². ``r = rint(y)`` is exact and ``y − r`` is exact (r = 0,
      or r and y are within a factor 2 of each other: Sterbenz), with
      |y − r| ≤ 0.5. If |y − r| < 0.5, y lies strictly inside
      (r − 0.5, r + 0.5) and HALF_UP(y) = r. If |y − r| = 0.5, y is the
      tie n + 0.5 and HALF_UP rounds it away from zero to
      y + signum(y)·0.5, an integer ≤ 2⁵², computed exactly.
      Spark's ``round`` does not round the exact y: it rounds
      ``BigDecimal.valueOf(y)``, the decimal D of ``Double.toString(y)``
      (JDK 17's is not always the shortest). We use only that D
      round-trips, ``parseDouble(D) == y``, and that parsing is
      monotone. Below 2⁵² every integer n and every n + 0.5 is itself a
      double h with parseDouble(h) = h, so D < h ⟹ y ≤ h and D > h ⟹
      y ≥ h. If y is not a tie, y ≠ h for every such h, so D and y lie
      on the same side of every one of them and HALF_UP(D) = HALF_UP(y).
      If D is written exactly n.5, then y = parseDouble(n.5) = n + 0.5:
      an exact n.5 repr implies an exact n.5 value. The converse — a tie
      y printed as exactly n.5 — is the one step round-tripping alone
      does not give: the JDK's digit generator emits the exact value's
      leading digits, and n.5 (≤ 17 significant digits below 2⁵²) ends
      at its "5". Ties are pinned against Spark's own round in the test.
    - |y| ≥ 2⁵² and finite. Every such double is an integer, so
      rint(y) = y, y − r = 0 and the form hands the cast y itself;
      Spark's round returns y there too (pinned at 2⁵² + 1, 2⁵³ + 1 and
      ~9.2e16).
    - NaN, ±inf. rint returns them unchanged, y − r is NaN, the tie test
      is false, and the cast sees y as ``round`` would hand it: under
      ANSI both forms raise CAST_OVERFLOW, as they do for |y| > 2⁶³.
    - null stays null; −0.0 casts to 0.

    The naive ``signum(y) * floor(abs(y) + 0.5)`` is NOT equal: at
    y = 0.49999999999999994 the add rounds up to 1.0 and it returns 1
    where round returns 0. Pinned in
    tests/test_relational.py::test_cents_matches_spark_round."""
    y = f"({y})"
    r = f"rint({y})"
    return (
        f"CAST(IF(abs({y} - {r}) = 0.5D, {y} + signum({y}) * 0.5D, {r})"
        " AS BIGINT)"
    )


def _cents_text(expr: str) -> str:
    return _half_up_text(f"({expr}) * 100")


def _sum_cents(expr: str) -> str:
    """Exact Σ of a 2-dp column as total CENTS in decimal(38,0),
    ACCUMULATED AS A PRIMITIVE LONG (r16 optimization, guide §1.2
    per-task work): Spark widens a decimal(18,2) SUM to a
    decimal(28,2) buffer, which no longer fits the compact long-backed
    representation — every row's add goes through java.math.BigDecimal
    (measured ~0.5 µs/row; the q04 slot halved when this moved to long
    adds). ``cents`` is the repo's one rounding authority: HALF_UP of
    x·100, equal to Spark's ``round`` on every double, in primitive
    arithmetic (``_half_up_text``), and equal to the old per-row
    ``CAST(x AS DECIMAL(18,2))`` on every value in the 2-dp monetary
    domain; the long accumulator is exact up to 2⁶³−1
    total cents ≈ 9.2e16 dollars per group — ~6× the TOTAL
    extendedprice of 100 TB of TPC-H in ONE group, and growing
    workloads past that take the split-accumulator form
    ``exact_revenue`` uses (two long sums recombined in decimal).
    The single cast decimal(38,0) → /100 → double at the END converts
    the exact integer once, so the presented double is bit-identical
    to the old decimal-sum cast (both correctly round the same exact
    rational). Returns SQL text."""
    return f"CAST(SUM({_cents_text(expr)}) AS DECIMAL(38,0))"


def exact_sum(expr: str, alias: str) -> Column:
    """Order-independent SUM of a 2-decimal monetary double; ``expr``
    is a column name or a Spark SQL expression."""
    return F.expr(f"CAST({_sum_cents(expr)} / 100 AS DOUBLE) AS `{alias}`")


def exact_sum_sql(expr: str, alias: str) -> str:
    """DuckDB fragment computing the identical exact sum."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def exact_avg(expr: str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum ÷ count, divided in
    double (IEEE division is deterministic given identical operands)."""
    return F.expr(
        f"CAST({_sum_cents(expr)} / 100 AS DOUBLE) / COUNT({expr}) AS `{alias}`"
    )


def exact_avg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def cents(expr: str) -> Column:
    """A 2-dp monetary/ratio double as exact integer hundredths —
    THE rounding contract: HALF_UP of ``expr * 100`` to a long, equal
    to Spark's ``CAST(round(expr * 100) AS BIGINT)`` on every double
    (null, NaN, ±inf and overflow included) without its per-row
    BigDecimal; ``_half_up_text`` holds the form and the proof.
    ``expr`` is a column name or a Spark SQL expression. Every
    integer-exact monetary expression derives from this one site."""
    return F.expr(_cents_text(expr))


def cents_sql(expr: str) -> str:
    """DuckDB fragment for the identical hundredths conversion."""
    return f"CAST(round({expr} * 100) AS BIGINT)"


def _revenue_term(price: str, disc: str) -> str:
    return f"{_cents_text(price)} * (100 - {_cents_text(disc)})"


def revenue_item(
    price_col: str = "l_extendedprice",
    disc_col: str = "l_discount",
) -> Column:
    """The PER-ROW exact revenue term: price-cents × (100 −
    discount-points) as decimal(38,0) hundredths-of-cents — the single
    authority for the revenue contract, consumed by ``exact_revenue``
    and by conditional-revenue queries (q42) that need the raw item
    inside a CASE."""
    return F.expr(
        f"CAST({_revenue_term(price_col, disc_col)} AS DECIMAL(38,0))"
    )


def revenue_item_sql(
    price: str = "l_extendedprice", disc: str = "l_discount"
) -> str:
    """DuckDB fragment for the identical per-row revenue term."""
    return f"{cents_sql(price)} * (100 - {cents_sql(disc)})"


def exact_revenue(
    price_col: str = "l_extendedprice",
    disc_col: str = "l_discount",
    alias: str = "revenue",
) -> Column:
    """The TPC-H revenue aggregate SUM(price × (1 − discount)) in exact
    integer-cents arithmetic: both factors are 2-dp values, so price in
    cents × (100 − discount in percent-points) is an exact int64
    product per row, summed exactly and presented as double ÷ 1e4.
    Order-independent and hash-comparable — the q08 round-2 fix,
    shared by every revenue query so the contract lives in ONE place
    (``revenue_item`` defines the per-row term).

    SPLIT LONG ACCUMULATOR (r16 optimization, guide §1.2): summing the
    decimal(38,0) per-row term pays a java.math.BigDecimal add per row
    (the sum buffer exceeds the compact-long precision). The same
    exact total comes from two PRIMITIVE long sums — the term split as
    hi = term div 10⁴ and lo = term % 10⁴ (Java's truncating integer
    div/rem pair, so term = 10⁴·hi + lo exactly for every long,
    negatives included) — recombined ONCE at
    the end in decimal(38,0): Σterm = 10⁴·Σhi + Σlo with no per-row
    BigDecimal. Overflow-safe far past 100 TB (Σhi ≤ rows × 10⁵:
    ~4e16 at 4e11 rows, 2⁶³ ≈ 9.2e18), where a single long sum of the
    raw ~1e9-magnitude terms would wrap near 9e9 rows/group. The final
    cast-to-double and IEEE ÷ 1e4 are unchanged, so the presented
    value is bit-identical to the decimal-sum form."""
    term = _revenue_term(price_col, disc_col)
    total = (
        f"CAST(SUM(({term}) div 10000) AS DECIMAL(38,0)) * 10000"
        f" + SUM(({term}) % 10000)"
    )
    return F.expr(f"CAST({total} AS DOUBLE) / 10000.0D AS `{alias}`")


def exact_revenue_sql(
    price: str = "l_extendedprice",
    disc: str = "l_discount",
    alias: str = "revenue",
) -> str:
    """DuckDB fragment computing the identical exact revenue."""
    return (
        f"CAST(SUM({revenue_item_sql(price, disc)})"
        f" AS DOUBLE) / 10000.0 AS {alias}"
    )
