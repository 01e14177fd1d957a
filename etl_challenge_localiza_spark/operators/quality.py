"""Data-quality profile + conformity gates (SURVEY.md §2.4 A2-A6, §2.7 C3-C4).

Reference: ``_dq_profile`` (flows/pipeline.py:51-90) computes, per
phase, total rows, per-column null counts, per-rule violation counts,
a (double-counting) failed_rows_estimate, and
``conformity_rate = max(0, 1 - fails/(total + 1e-9))``.

Spark-first shape: the whole profile is ONE ``df.agg(...)`` action —
every count is a conditional aggregate, so a 100 TB profile costs a
single pruned scan + a scalar collect, versus the reference's six
separate whole-column reductions.

Faithfully reproduced quirks (SURVEY.md §7.4.5-7):
- fails double-counts rows violating multiple rules; conformity is
  clamped at 0.
- the profile coerces ONLY ``amount`` (flows/pipeline.py:100-101):
  nulls are counted on the RAW timestamp column, so unparseable
  timestamps are not pre-clean violations.
- empty input → conformity 1.0 (the +1e-9 epsilon).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cleaning import numeric_coerce

PROFILE_COLUMNS = [
    "timestamp",
    "transaction_type",
    "amount",
    "receiving_address",
    "location_region",
    "risk_score",
]

NOT_NULL_RULES = [
    ("timestamp_not_null", "timestamp"),
    ("transaction_type_not_null", "transaction_type"),
    ("amount_not_null", "amount"),
]

#: C5: thresholds configurable via env (flows/pipeline.py:17-18).
MIN_CONFORMITY_PRE = float(os.getenv("MIN_CONFORMITY_PRE", "0.98"))
MIN_CONFORMITY_POST = float(os.getenv("MIN_CONFORMITY_POST", "0.995"))


class QualityGateError(RuntimeError):
    """Raised when a conformity gate fails (flows/pipeline.py:245,259)."""


def _null_count(col: str) -> F.Column:
    return F.count(F.when(F.col(col).isNull(), F.lit(1))).cast("long")


def dq_profile(df: DataFrame) -> dict:
    """A2-A6 in a single aggregate pass; returns the reference's exact
    metrics dict shape (flows/pipeline.py:53-64), read off the one row
    of :func:`dq_profile_df`."""
    cols = set(df.columns)
    row = dq_profile_df(df).first().asDict()
    metrics: dict = {
        "total_rows": int(row["total_rows"]),
        "nulls": {c: int(row[f"nulls_{c}"]) for c in PROFILE_COLUMNS if c in cols},
        "rules": {
            "timestamp_not_null": None,
            "transaction_type_not_null": None,
            "amount_not_null": None,
            "amount_non_negative": None,
        },
        "failed_rows_estimate": int(row["failed_rows_estimate"]),
        # exact formula incl. epsilon + clamp (flows/pipeline.py:89),
        # evaluated in the plan with the same IEEE double operations
        "conformity_rate": float(row["conformity_rate"]),
    }
    for rule, c in NOT_NULL_RULES:
        if c in cols:
            metrics["rules"][rule] = {"violations": int(row[f"nulls_{c}"])}
    if "amount" in cols:
        metrics["rules"]["amount_non_negative"] = {
            "violations": int(row["violations_amount_non_negative"])
        }
    return metrics


def dq_profile_df(df: DataFrame) -> DataFrame:
    """The A2-A6 profile as a 1-row DataFrame (flat column names), for
    SQL-oracle comparison and as the single aggregate behind
    :func:`dq_profile`; conformity arithmetic is done in the plan with
    the exact reference formula (flows/pipeline.py:89).
    """
    cols = set(df.columns)
    if "amount" in cols:
        amount_dtype = dict(df.dtypes)["amount"]
        if amount_dtype not in ("double", "float") and not amount_dtype.startswith("decimal"):
            df = df.withColumn("amount", numeric_coerce("amount"))

    aggs = [F.count(F.lit(1)).cast("long").alias("total_rows")]
    for c in PROFILE_COLUMNS:
        if c in cols:
            aggs.append(_null_count(c).alias(f"nulls_{c}"))
    if "amount" in cols:
        aggs.append(
            F.count(F.when(F.col("amount") < 0, F.lit(1)))
            .cast("long")
            .alias("violations_amount_non_negative")
        )
    agg = df.agg(*aggs)

    fail_cols = [
        f"nulls_{c}" for _, c in NOT_NULL_RULES if c in cols
    ] + (["violations_amount_non_negative"] if "amount" in cols else [])
    fails = None
    for fc in fail_cols:
        fails = F.col(fc) if fails is None else fails + F.col(fc)
    fails = fails if fails is not None else F.lit(0).cast("long")
    return agg.withColumn("failed_rows_estimate", fails.cast("long")).withColumn(
        "conformity_rate",
        F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            - F.col("failed_rows_estimate").cast("double")
            / (F.col("total_rows").cast("double") + F.lit(1e-9)),
        ),
    )


def observed_profile(df: DataFrame, name: str = "dq") -> DataFrame:
    """Zero-extra-pass DQ telemetry via ``DataFrame.observe``: the
    metrics accumulate DURING whatever action consumes the returned
    frame (a write, a count), instead of costing a separate scan.

    Use for monitoring alongside a sink; the gating profile
    (:func:`dq_profile`) stays a dedicated action because the gate must
    decide BEFORE the publish runs (flows/pipeline.py:235). Read the
    result from ``spark.listenerBus`` observations or
    ``df.observe``'s QueryExecutionListener; in tests, via
    ``Observation`` objects.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    cols = set(df.columns)
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in PROFILE_COLUMNS:
        if c in cols:
            aggs.append(_null_count(c).alias(f"nulls_{c}"))
    observed = df.observe(obs, *aggs)
    observed._dq_observation = obs  # handle for the caller
    return observed


def check_gate(metrics: dict, threshold: float, phase: str) -> None:
    """C3/C4 driver-side control flow (flows/pipeline.py:235,256).

    Raises QualityGateError when conformity < threshold. Publishing
    behavior around the gate (raw snapshot pre / publish-anyway post)
    is the pipeline's job — see plans.pipeline.run_pipeline.
    """
    rate = metrics.get("conformity_rate")
    if rate is not None and rate < threshold:
        raise QualityGateError(
            f"Conformity {phase} ({rate:.4f}) < {threshold} — failing on quality policy."
        )


def compression_signals(docs: DataFrame, level: int = 6) -> DataFrame:
    """Compression-ratio quality signal: per-doc zlib(deflate) size over
    raw utf-8 size — the classic repetition/boilerplate detector
    (low ratio = machine-generated or template text; ratios near or
    above 1.0 = already-compressed or high-entropy noise). Complements
    the closed-form entropy/repetition expressions in
    repetition_signals with a measure that sees LONG-RANGE repetition
    (entropy is distribution-only; deflate's 32 KB window catches
    repeated paragraphs).

    The compressor is stdlib zlib behind ONE Arrow-batched pandas_udf
    (the sanctioned shape for per-row Python work — same rule as the
    multimodal decoders: batch crossing, no per-row pickling). Output
    byte counts are exact integers; the ratio is one double division.
    No SQL oracle exists (DuckDB has no compression function), so the
    registry entry is rows-only; numeric correctness is pinned by
    pytest bounds (repetitive ≪ prose < random) on planted inputs.
    At 100 TB this is a pure map pass — zero shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate_bytes(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    from ..sources.readers import spread_small_scan

    raw_bytes = F.octet_length("text").cast("long")
    return (
        spread_small_scan(docs).select(
            "doc_id",
            raw_bytes.alias("n_bytes"),
            deflate_bytes(F.col("text")).alias("deflate_bytes"),
        )
        .withColumn(
            "compression_ratio",
            F.when(
                F.col("n_bytes") > 0,
                F.col("deflate_bytes").cast("double")
                / F.col("n_bytes").cast("double"),
            ),
        )
        # repetition gate: only EXTREME compressibility is flagged
        # (varied prose deflates to ~0.2-0.4; template spam lands <0.05)
        .withColumn("keep", F.coalesce(F.col("compression_ratio") >= 0.1, F.lit(False)))
    )


def column_stats(df: DataFrame, approx_ndv: bool = False) -> DataFrame:
    """ANALYZE TABLE-style per-column statistics profile — the stats a
    cost-based optimizer collects (row count, null count, NDV, min and
    max), computed for EVERY column of any DataFrame in ONE aggregate
    pass over the data and unpivoted to one row per column:
    (column, dtype, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str). Numeric and timestamp extremes land in the
    typed double slots (timestamps as epoch microseconds — engine-
    portable, unlike cross-engine string formatting of doubles/
    timestamps); string extremes in the string slots; other types
    (arrays, binary) profile nulls/NDV only.

    ``approx_ndv=True`` swaps exact ``count_distinct`` for HLL++
    ``approx_count_distinct`` — the 100 TB path: exact multi-column
    distinct counts make Catalyst expand the scan once per distinct
    column (the standard multi-distinct plan), while the sketch path
    is a single non-expanded pass. The final unpivot is an explode of
    a 1-row array of structs — no shuffle beyond the scalar aggregate.
    """
    from pyspark.sql import types as T

    ndv = F.approx_count_distinct if approx_ndv else F.count_distinct
    aggs = [F.count(F.lit(1)).cast("long").alias("__n_rows")]
    null_str = F.lit(None).cast("string")
    null_num = F.lit(None).cast("double")
    per_col: list[tuple[str, str]] = []
    for i, fld in enumerate(df.schema.fields):
        c = F.col(fld.name)
        aggs.append(F.count(c).cast("long").alias(f"__cnt_{i}"))
        aggs.append(ndv(c).cast("long").alias(f"__ndv_{i}"))
        if isinstance(fld.dataType, T.NumericType):
            aggs.append(F.min(c).cast("double").alias(f"__min_{i}"))
            aggs.append(F.max(c).cast("double").alias(f"__max_{i}"))
            kind = "num"
        elif isinstance(fld.dataType, (T.TimestampType, T.TimestampNTZType)):
            # NTZ values are interpreted in the session zone (UTC here)
            ep = F.unix_micros(c.cast("timestamp"))
            aggs.append(F.min(ep).cast("double").alias(f"__min_{i}"))
            aggs.append(F.max(ep).cast("double").alias(f"__max_{i}"))
            kind = "num"
        elif isinstance(fld.dataType, T.StringType):
            aggs.append(F.min(c).alias(f"__min_{i}"))
            aggs.append(F.max(c).alias(f"__max_{i}"))
            kind = "str"
        else:
            kind = "none"
        per_col.append((fld.name, kind))
    row = df.agg(*aggs)
    structs = []
    for i, (fld, (name, kind)) in enumerate(zip(df.schema.fields, per_col)):
        structs.append(
            F.struct(
                F.lit(name).alias("column"),
                F.lit(fld.dataType.simpleString()).alias("dtype"),
                F.col("__n_rows").alias("n_rows"),
                (F.col("__n_rows") - F.col(f"__cnt_{i}")).cast("long").alias("n_nulls"),
                F.col(f"__ndv_{i}").alias("n_distinct"),
                (F.col(f"__min_{i}") if kind == "num" else null_num).alias("min_num"),
                (F.col(f"__max_{i}") if kind == "num" else null_num).alias("max_num"),
                (F.col(f"__min_{i}") if kind == "str" else null_str).alias("min_str"),
                (F.col(f"__max_{i}") if kind == "str" else null_str).alias("max_str"),
            )
        )
    return (
        row.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .orderBy("column")
    )
