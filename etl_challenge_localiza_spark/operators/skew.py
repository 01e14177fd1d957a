"""Skew mitigation: salted join (SURVEY.md §7.4.8; the manual
counterpart to AQE's skew-join splitting, for when a single hot key
overwhelms one shuffle partition even after AQE).

Technique: the build (dim) side is replicated once per salt value; the
probe (fact) side derives a deterministic salt from a high-cardinality
column, so each hot key's rows spread over 8 partitions. The
join result is IDENTICAL to the unsalted join — which is exactly how
the registry verifies it (the oracle is the plain SQL join).

Use when: key frequency is power-law (user events, null-ish defaults)
and the hot keys are not broadcastable away. Cost: build side grows
×8 — keep the build side slim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def planner_join_audit(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    join_name: str,
    broadcast_rows: int = 100_000,
) -> DataFrame:
    """One-row 'PLANNER INPUTS' report for an equi-join (VERDICT r13
    #6): the decision table a 100 TB operator reads before committing
    to a join strategy, with every estimator value-checked against the
    exact cardinality it approximates —

    - left_rows / right_rows, ndv_left / ndv_right: exact sizes and
      key cardinalities (one map-side-combined groupBy per side, the
      key_skew_profile altitude — NDV-sized frames, never data);
    - exact_join_rows: Σ_k na(k)·nb(k), the ground truth;
    - cms_estimate + cms_rel_err: the 4×256 Count-Min inner-product
      estimate (cms_join_size_estimate's sketch path) — what a planner
      would ACTUALLY have at plan time, shown against the truth it
      estimates;
    - hot_key_share: max_k na(k)·nb(k) / exact_join_rows — the single
      hottest key's share of the join OUTPUT, the quantity that decides
      salting (a key owning 10%+ of the output serializes one shuffle
      partition no matter how wide the cluster);
    - strategy: the deterministic recommendation those inputs imply —
      'broadcast' when either side fits the row threshold (rows as the
      testable proxy for AQE's byte threshold), else 'shuffle_salted'
      when hot_key_share exceeds 0.10, else 'shuffle_hash'.

    Thresholds are illustrative planner defaults; the REPORT is the
    point — exact vs estimate in one row
    per join, so estimator drift is a visible number (pytest drives
    the salted/shuffle branches on constructed skew).

    Plan shape: the per-key count frame feeds three consumers
    (size/NDV stats, the exact-cardinality join, the sketch cells).
    It is materialized once by an eager DISK_ONLY localCheckpoint —
    computed once, disk-backed, re-read by each consumer, and no
    CacheManager entry left behind — after two measured failures at
    the ×1000 tier (150M+ keys/side): an eager localCheckpoint at the
    default MEMORY_AND_DISK level PINNED the NDV-sized frames in
    storage memory until the spillable hash aggregates
    starved (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY — cached
    blocks under construction are un-evictable), while no
    materialization at all recomputed the full fact-scan aggregate
    per consumer (×1000 exec 2673 s single-box). DISK_ONLY takes the
    middle path: block construction streams to disk with a bounded
    memory footprint, nothing pins the execution-memory pool, and on
    a cluster each executor re-reads its local blocks. Keys stay in
    their NATIVE type end-to-end (the first cut cast every key to
    string for the md5 bucket and paid string hash aggregates over
    the full fact — ×6.6 exec growth at ×30; the cast now happens
    only inside the bucket hash over the already-NDV-sized count
    frame). The cells are value-identical to cms_cells'
    (item-altitude counts before hashing — same md5 buckets, same
    sums)."""
    from pyspark import StorageLevel

    from .sketches import _cms_bucket

    k = F.col(key_col).alias("k")
    fa = (
        left.select(k)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("na"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    fb = (
        right.select(k)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    sl = fa.agg(
        F.sum("na").cast("long").alias("left_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv_left"),
    )
    sr = fb.agg(
        F.sum("nb").cast("long").alias("right_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv_right"),
    )
    hot = fa.join(fb, "k").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("exact_join_rows"),
        F.coalesce(
            F.max(F.col("na").cast("decimal(38,0)") * F.col("nb")), F.lit(0)
        )
        .cast("long")
        .alias("hot_pair"),
    )

    def cells(f: DataFrame, cnt: str) -> DataFrame:
        coords = f.select(
            F.col(cnt).alias("n"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"),
                            _cms_bucket(
                                i, F.col("k").cast("string"), 256
                            ).alias("bucket"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("c"),
        ).select(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"), "n")
        return coords.groupBy("row", "bucket").agg(
            F.sum("n").cast("long").alias("cell_n")
        )

    ca, cb = cells(fa, "na"), cells(fb, "nb")
    est = (
        ca.alias("x")
        .join(
            cb.alias("y"),
            (F.col("x.row") == F.col("y.row"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .groupBy(F.col("x.row"))
        .agg(F.sum(F.col("x.cell_n") * F.col("y.cell_n")).alias("rowsum"))
        .agg(F.min("rowsum").cast("long").alias("cms_estimate"))
    )
    cms = hot.crossJoin(F.broadcast(est)).select(
        "exact_join_rows",
        "hot_pair",
        "cms_estimate",
        F.round(
            (F.col("cms_estimate") - F.col("exact_join_rows")).cast("double")
            / F.col("exact_join_rows").cast("double"),
            6,
        ).alias("cms_rel_err"),
    )
    hot_share = F.when(
        F.col("exact_join_rows") > 0,
        F.round(
            F.col("hot_pair").cast("double") / F.col("exact_join_rows"), 6
        ),
    ).otherwise(F.lit(0.0))
    return (
        sl.crossJoin(F.broadcast(sr))
        .crossJoin(F.broadcast(cms))
        .select(
            F.lit(join_name).alias("join_name"),
            "left_rows",
            "right_rows",
            "ndv_left",
            "ndv_right",
            "exact_join_rows",
            "cms_estimate",
            "cms_rel_err",
            hot_share.alias("hot_key_share"),
            F.when(
                F.least(F.col("left_rows"), F.col("right_rows"))
                <= F.lit(broadcast_rows),
                F.lit("broadcast"),
            )
            .when(hot_share > F.lit(0.10), F.lit("shuffle_salted"))
            .otherwise(F.lit("shuffle_hash"))
            .alias("strategy"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_source: str,
    force_shuffle: bool = False,
) -> DataFrame:
    """Inner equi-join ``fact ⋈ dim`` with the fact side salted on
    xxhash64(salt_source) % 8 and the dim side replicated 8 times.

    ``salt_source`` must be a (near-)unique fact column (an id) so the
    salt spreads rows evenly and deterministically. ``force_shuffle``
    hints SHUFFLE_HASH — if Spark would broadcast the dim there is no
    skew to mitigate and salting is pointless, so demos/tests force the
    shuffle path the technique exists for.
    """
    spark = fact.sparkSession
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(8)).cast("int")
    )
    salts = spark.range(8).select(F.col("id").cast("int").alias("__salt"))
    dim_s = dim.crossJoin(salts)
    if force_shuffle:
        dim_s = dim_s.hint("shuffle_hash")
    out = fact_s.join(
        dim_s,
        (fact_s[fact_key] == dim_s[dim_key]) & (fact_s["__salt"] == dim_s["__salt"]),
        "inner",
    )
    return out.drop("__salt")
