"""Overflow-safe exact money aggregation in compact integer arithmetic.

Why this exists: Spark's decimal SUM widens the accumulator by ten
digits (sum over decimal(p,s) -> decimal(p+10,s)), and any decimal
wider than 18 digits leaves the compact long representation — every
per-row update then allocates through the JavaBigDecimal path. On the
single-row-group parquet this engine benches against, that made each
decimal aggregate of TPC-H Q1 cost ~0.2 s of single-threaded time
(profiled round 5: 8 double sums = 0.26 s total, ONE decimal(12,2)
sum = 0.42 s, the full 7-decimal-sum Q1 = 1.19-1.35 s).

The fix keeps every per-row operation in int64 and still produces
sums that are EXACT at any realistic scale:

1. Per-row, money values are rounded to unscaled integers exactly the
   way a decimal(12,2) cast would (same HALF_UP semantics — the cast
   itself IS the rounding, then an exact *100 scale shift while the
   decimal is still compact).
2. Products (price x discount-multiplier x tax-multiplier) are plain
   long multiplies of unscaled values — exact rationals with a known
   power-of-ten scale, bounded by ~2^38 per row for TPC-H charge.
3. Each sum is SPLIT into two int64 sums — sum(u div 2^20) and
   sum(u % 2^20) — and recombined in decimal(38,0) AFTER aggregation.
   A direct int64 sum of 2^38-scale rows overflows silently past
   ~3*10^7 rows (the round-4 pagerank advisory's failure class); the
   split form is exact while sum(u div 2^20) < 2^63, i.e. until the
   TOTAL passes 2^83 ~ 9.7e24 unscaled units — beyond any 100 TB
   table (a 10^12-row lineitem tops out near 10^23).
4. The final division by 10^scale happens in decimal with result
   scale >= the value scale, which is a pure scale shift (no
   rounding), so the closing cast to double is the nearest double of
   the exact sum — bit-identical to what a full-decimal aggregation
   (and a DuckDB oracle running decimal SQL) produces.

The recombine is O(groups), not O(rows), so its decimal cost is noise.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split point for the hi/lo sum decomposition. 2^20 keeps the lo sum
#: exact to ~9e12 rows and the hi sum exact until the grand total
#: passes 2^83 unscaled units.
SPLIT = 1 << 20


def money_unscaled(expr_sql: str) -> Column:
    """Per-row unscaled integer of ``cast(<expr> as decimal(12, 2))``.

    The decimal cast performs the exact HALF_UP rounding the oracle's
    SQL does; the subsequent *100 shift and long cast are exact while
    the intermediate stays within 18 digits (compact), which holds for
    any money-typed column.
    """
    return F.expr(f"cast(cast({expr_sql} as decimal(12,2)) * 100 as long)")


def split_sum(unscaled_col: str, name: str) -> list[Column]:
    """Two int64 aggregate expressions jointly carrying an exact sum
    of ``unscaled_col``: ``<name>_lo`` = sum(pmod(u, 2^20)) and
    ``<name>_hi`` = sum((u - pmod(u, 2^20)) div 2^20). Recombine with
    :func:`split_total`.

    The decomposition uses FLOOR semantics (pmod is always in
    [0, 2^20); u - pmod(u, 2^20) is an exact multiple of 2^20, so the
    div is exact regardless of sign), which makes
    hi * 2^20 + lo == u hold for NEGATIVE values too — signed money
    (refunds, adjustments) sums exactly. A truncate-toward-zero
    div/% pair would silently mis-reconstruct negatives; pinned by
    tests/test_exactsum.py.
    """
    lo = f"pmod({unscaled_col}, {SPLIT})"
    return [
        F.sum(F.expr(f"({unscaled_col} - {lo}) div {SPLIT}")).alias(f"{name}_hi"),
        F.sum(F.expr(lo)).alias(f"{name}_lo"),
    ]


def split_total(name: str, decimals: int) -> Column:
    """Exact double of a :func:`split_sum` pair: recombine in
    decimal(38,0) (exact — O(groups) rows only), scale-shift by
    10^decimals in decimal (exact: result scale 6 >= decimals), cast
    to double (nearest double of the exact value)."""
    tens = 10**decimals
    combined = F.col(f"{name}_hi").cast("decimal(38,0)") * SPLIT + F.col(f"{name}_lo")
    return (combined / tens).cast("double")


def direct_total(sum_col: str, decimals: int) -> Column:
    """Exact double of a plain int64 sum of unscaled values (for
    columns whose per-row magnitude keeps even the direct sum far from
    2^63 — e.g. quantity cents <= 2^13 is safe to ~10^15 rows)."""
    tens = 10**decimals
    return (F.col(sum_col).cast("decimal(38,0)") / tens).cast("double")
