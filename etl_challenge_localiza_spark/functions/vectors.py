"""Vector math over ArrayType(FloatType) embedding columns.

All expressions fold sequentially over the array in element order with
double accumulation — deterministic, engine-portable (matches DuckDB's
list_sum/list_dot_product on double lists), and JVM-side (higher-order
functions, no UDF). For 100 TB scale the brute-force paths below are
the verification baseline; the approximate-NN paths live in
operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: Column) -> Column:
    return x.cast("double")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ with double accumulation in element order."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sq(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        F.transform(a, lambda x: _d(x) * _d(x)), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(norm_sq(a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


# -- fixed-width variants (optimization r14) --------------------------------
#
# Spark evaluates higher-order functions (zip_with/transform/aggregate)
# INTERPRETED — outside whole-stage codegen — and allocates an
# intermediate array per call, which at ~20 µs per 64-d pair dominates
# every pair-quadratic embedding lane (measured: cosine_nn_per_vector
# 6.0 s → 1.7 s at sf0.1 from this change alone). When the dimension is
# known at plan-build time, the same fold unrolls into a flat codegen
# expression. The unrolled sum is the SAME left-fold in element order
# with the same 0.0 seed, so results are bit-identical to the HOF forms
# (asserted by tests and the oracle harness).


def embedding_dim(df) -> int:
    """Plan-build-time dimension probe: one 1-row aggregate over the
    ``embedding`` array column. NULL embeddings are ignored. Raises
    ``ValueError`` when no non-NULL embedding has a positive width, or
    when the non-NULL widths differ — uniform width is the
    embedding-table invariant every fixed-width fold indexes by.
    Memoized on the DataFrame object — sources.readers.load_table caches
    frames per (session, path), so each table pays the probe job once
    per session, not once per query dispatch."""
    memo = getattr(df, "_sg_embedding_dim", None)
    if memo is not None:
        return memo
    # size(NULL) is -1 with ANSI off (NULL with it on): max ignores
    # NULL rows either way, min needs them masked out
    size = F.size(F.col("embedding"))
    row = df.select(
        F.max(size).alias("d"),
        F.min(F.when(F.col("embedding").isNotNull(), size)).alias("lo"),
    ).first()
    d = row["d"] if row is not None else None
    if d is None or d <= 0:
        raise ValueError("cannot infer embedding dim of column 'embedding'")
    if row["lo"] != d:
        raise ValueError(
            f"embedding column 'embedding' has mixed widths {row['lo']}..{d}"
        )
    try:
        df._sg_embedding_dim = int(d)
    except Exception:
        pass
    return int(d)


# Operands are SQL text (optimization r14, second segment): building a
# 64-d unrolled fold through the Column API costs ~6 py4j round trips
# per element (~2.0 s of pure plan-BUILD time per cosine at d=64,
# measured), while one F.expr over the equivalent SQL text builds in
# ~4 ms and parses JVM-side into one flat expression tree with the
# same left-fold order, 0.0D seed and casts as the higher-order folds
# above (collect()-equal, asserted by tests/test_vectors_fixed.py).


def dot_fixed_sql(a: str, b: str, d: int) -> str:
    """SQL text of Σ aᵢ·bᵢ over width ``d``; ``a``/``b`` are SQL
    expressions of array type (a column name, or e.g. a lambda
    variable's field inside a higher-order function)."""
    terms = " + ".join(
        f"cast({a}[{i}] as double) * cast({b}[{i}] as double)" for i in range(d)
    )
    return f"0.0D + {terms}" if d else "0.0D"


def norm_sq_fixed_sql(a: str, d: int) -> str:
    terms = " + ".join(
        f"cast({a}[{i}] as double) * cast({a}[{i}] as double)" for i in range(d)
    )
    return f"0.0D + {terms}" if d else "0.0D"


def cosine_fixed_sql(a: str, b: str, d: int) -> str:
    return (
        f"({dot_fixed_sql(a, b, d)}) / "
        f"sqrt(({norm_sq_fixed_sql(a, d)}) * ({norm_sq_fixed_sql(b, d)}))"
    )


def dot_fixed(a: str, b: str, d: int) -> Column:
    """Σ aᵢ·bᵢ unrolled over a known width ``d`` — identical values to
    :func:`dot` (same element-order left fold, 0.0 seed), codegen-able.
    ``a``/``b`` are SQL expressions of array type."""
    return F.expr(dot_fixed_sql(a, b, d))


def norm_sq_fixed(a: str, d: int) -> Column:
    return F.expr(norm_sq_fixed_sql(a, d))


def cosine_fixed(a: str, b: str, d: int) -> Column:
    return F.expr(cosine_fixed_sql(a, b, d))

