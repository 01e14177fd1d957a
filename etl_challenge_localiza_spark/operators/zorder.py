"""Z-order (Morton) clustering — the lakehouse layout technique
(Delta OPTIMIZE ZORDER BY, Iceberg sort orders) for making ONE file
sort order serve MULTI-dimensional predicates: interleave the bits of
two normalized sort keys so rows close in (a, b) space land close in
the file order, giving parquet min/max pruning on BOTH columns from a
single layout. A time-sorted layout prunes only time; a z-sorted
layout prunes boxes.

Everything is integer arithmetic (rank-normalize to 16 bits, then
bit-interleave with shifts/masks) inside whole-stage codegen, and the
identical expression is generated for DuckDB SQL by `morton_sql` — so
z-values are engine-portable and oracle-checkable, not just a layout
side effect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS = 16
MAXV = (1 << BITS) - 1  # 65535


def normalize_16(x: Column, lo: Column | int, hi: Column | int) -> Column:
    """Min-max normalize an integer column to [0, 65535] with exact
    arithmetic: floor(((x-lo)*65535) / max(hi-lo, 1)). The numerator
    is bounded by range*65535 — exact in double for ranges < 2^37, so
    floor(double div) equals integer floor-div, which equals DuckDB's
    `//` (and truncating div, since the numerator is non-negative)."""
    lo_c = F.lit(lo) if isinstance(lo, int) else lo
    hi_c = F.lit(hi) if isinstance(hi, int) else hi
    span = F.greatest(hi_c - lo_c, F.lit(1))
    return F.floor(((x - lo_c) * F.lit(MAXV)).cast("long") / span).cast("long")


def morton(a: Column, b: Column) -> Column:
    """Interleave the low ``BITS`` bits of two non-negative ints:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i).cast("long")
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i + 1).cast("long")
        )
    return z


def morton_sql(a: str, b: str) -> str:
    """The identical interleave as DuckDB SQL text (for oracles)."""
    terms = []
    for i in range(BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_write(df: DataFrame, path: str, zcol: Column) -> None:
    """Write ``df`` as 16 parquet files range-partitioned and
    sorted by the z-value — the OPTIMIZE ZORDER layout. Each file then
    covers a compact z-range, i.e. a compact box in (a, b) space, so
    its parquet column min/max statistics prune on BOTH dimensions.
    repartitionByRange samples the z distribution (one extra pass) to
    build balanced file-sized ranges — the same job shape at 100 TB."""
    (
        df.withColumn("__z", zcol)
        .repartitionByRange(16, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
