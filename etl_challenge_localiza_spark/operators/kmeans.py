"""Distributed k-means (Lloyd) fit — the third iterative shape beside
connected components and PageRank, and the trainer the IVF index
(operators/similarity.py) presumes: `ivf_assign` quantizes against
fixed seed centroids; `kmeans_fit` is the same assignment plan run to
a fixpoint with a real update step.

Exact fixed-point arithmetic end to end (the components/pagerank
discipline): vectors are quantized ONCE to 1e-6-scaled int64, so

- distances are exact integer sums (argmin has no float noise and an
  explicit centroid-id tiebreak),
- centroid updates are exact integer sums divided once per (cluster,
  dim) with a deterministic round — identical in any engine, any
  partitioning, any accumulation order.

Per sweep: ZERO-shuffle assignment (the k x d centroid table rides
into whole-stage codegen as an array-of-structs literal — model
parameters, not data) + ONE shuffle of (cluster, dim, partial-sum)
rows for the update, map-side combined to <= k*d rows per task
regardless of input volume (the treeAggregate shape MLlib uses). The
driver materializes k*d longs per sweep — independent of data size.

Early termination: when an update leaves every centroid unchanged the
fixpoint is exact (integer centroids reproduce their own assignment),
so stopping is result-identical to running the remaining sweeps — the
oracle's fixed unrolled CTE sweeps stay bit-equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000

#: vector-count ceiling for the driver-local exact Lloyd fast path —
#: a driver-memory bound (~64 MB of int64 at d=64), not a machine-width
#: tune (components.CC_LOCAL_EDGE_BUDGET policy).
KM_LOCAL_VECS_BUDGET = 100_000


def _round_half_up(x: float) -> int:
    """Spark's Round(double, 0): BigDecimal.valueOf(x).setScale(0,
    HALF_UP) — valueOf goes through Double.toString's shortest decimal
    form, which Python's repr() reproduces."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def _kmeans_fit_local(rows, k: int, max_sweeps: int) -> tuple[list, int]:
    """Exact local Lloyd over collected (vec_id, v) rows — bit-identical
    to the distributed sweeps: int64 distances (computed in float64,
    which is exact here: every product ≤ (1e6·SCALEd)² ≈ 1e12 and every
    64-term sum ≤ ~1e14, both < 2^53), first-min argmin over cid-sorted
    centroids (= the struct-min lowest-cid tiebreak), integer
    coordinate sums divided once in double and HALF_UP rounded exactly
    as Spark's Round."""
    import numpy as np

    pts = sorted((int(r[0]), list(r[1])) for r in rows)
    cents = [(vid, list(v)) for vid, v in pts if vid < k]
    if not pts or not cents:
        return cents, 1  # empty assignment: first sweep is a fixpoint
    # exactness guard: every dist2 term is bounded by 4·d·m² for the
    # largest |coordinate| m; if that could cross 2^53 the float64
    # shortcut is no longer exact-int and the caller must use the
    # distributed int64 path instead.
    m = max((max(abs(x) for x in v) if v else 0) for _vid, v in pts)
    d_ = len(pts[0][1])
    if 4 * d_ * m * m >= (1 << 53):
        return None, -1  # signal: not exactly representable locally
    P = np.array([v for _vid, v in pts], dtype=np.float64)
    p_sq = (P * P).sum(axis=1)
    sweeps_run = 0
    for _ in range(max_sweeps):
        C = np.array([v for _cid, v in cents], dtype=np.float64)
        # dist2 = |p|^2 - 2 p·c + |c|^2 — exact in float64 at these
        # magnitudes; argmin takes the FIRST minimum (lowest cid).
        d2 = p_sq[:, None] - 2.0 * (P @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        new = []
        for ci, (cid, vec) in enumerate(cents):
            members = P[assign == ci]
            if len(members):
                cnt = len(members)
                sums = members.sum(axis=0)  # exact (bounded < 2^53)
                new.append(
                    (cid, [_round_half_up(float(s) / cnt) for s in sums])
                )
            else:
                new.append((cid, vec))
        sweeps_run += 1
        if new == cents:
            break
        cents = new
    return cents, sweeps_run


def scaled_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v: array<long>) with v = round(embedding * 1e6), one
    row per non-NULL embedding: a NULL embedding row is skipped."""
    return emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long"),
        ).alias("v"),
    )


def _centroid_scalar(spark, cents: list[tuple[int, list[int]]]):
    """ONE-ROW DataFrame holding the whole codebook as
    ``cents_arr: array<struct<cid int, c array<long>>>`` — the
    scalar-broadcast alternative to a centroid literal expression.
    A k×d literal costs O(k·d) py4j round-trips to BUILD (measured
    ~15 s per sweep at k=80, d=64 — it dominated kmeans full-call);
    createDataFrame ships the same ints in one batch and the
    expression tree stays O(1) nodes. Join it with
    ``df.crossJoin(F.broadcast(...))`` and assign with
    ``_best(F.col("cents_arr"))`` — the argmin math is unchanged
    (exact int64 dist2, array_min first-min ties), so results are
    bit-identical to the literal path."""
    from ..functions.localrel import values_table

    df = values_table(
        spark,
        [(int(cid), [int(x) for x in vec]) for cid, vec in cents],
        "cid int, c array<long>",
    )
    return df.agg(
        F.sort_array(F.collect_list(F.struct("cid", "c"))).alias("cents_arr")
    )


def _best(cents_lit: Column) -> Column:
    """struct(dist2, cid) of the nearest centroid — array_min over
    (exact int distance, centroid id) structs, so ties break to the
    lowest centroid id, mirroring the oracle's row_number order."""
    return F.array_min(
        F.transform(
            cents_lit,
            lambda s: F.struct(
                F.aggregate(
                    F.zip_with(F.col("v"), s["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist2"),
                s["cid"].alias("cid"),
            ),
        )
    )


def kmeans_fit(
    emb: DataFrame, k: int = 8, max_sweeps: int = 3
) -> tuple[list[tuple[int, list[int]]], int]:
    """Lloyd iterations from deterministic seeds (the first ``k``
    vectors by vec_id — the IVF seed convention). Returns the final
    scaled-int centroids and the number of sweeps actually run. Rows
    with a NULL embedding are skipped (:func:`scaled_vectors`): they
    are neither seeds nor members."""
    vecs = scaled_vectors(emb)
    # bounded-corpus fast path (optimization r14, the CC/pagerank
    # pattern): each distributed sweep costs an assignment job + a
    # k·d collect of driver dispatch no matter how small the corpus.
    # Below the budget, collect the scaled vectors once and run the
    # SAME exact-integer Lloyd locally — bit-identical centroids and
    # sweep count (pinned by tests/test_kmeans.py). The count probe is
    # memoized per cached DataFrame, so repeated fits on one table pay
    # it once per session.
    n = getattr(emb, "_sg_row_count", None)
    if n is None:
        n = emb.count()
        try:
            emb._sg_row_count = n
        except Exception:
            pass
    if n <= KM_LOCAL_VECS_BUDGET:
        cents_l, sweeps_l = _kmeans_fit_local(
            [(r["vec_id"], r["v"]) for r in vecs.collect()], k, max_sweeps
        )
        if sweeps_l != -1:
            return cents_l, sweeps_l
        # fell through: magnitudes too large for the exact float64
        # shortcut — continue on the distributed int64 path below
    seeds = vecs.filter(F.col("vec_id") < k).collect()
    cents = sorted((int(r["vec_id"]), list(r["v"])) for r in seeds)
    sweeps_run = 0
    spark = emb.sparkSession
    for _ in range(max_sweeps):
        assigned = vecs.crossJoin(
            F.broadcast(_centroid_scalar(spark, cents))
        ).select("v", _best(F.col("cents_arr")).alias("b"))
        rows = (
            assigned.select(F.col("b.cid").alias("cid"), F.posexplode("v").alias("d", "x"))
            .groupBy("cid", "d")
            .agg(
                F.round(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cd")
            )
            .collect()
        )
        upd: dict[int, dict[int, int]] = {}
        for r in rows:
            upd.setdefault(r["cid"], {})[r["d"]] = r["cd"]
        # empty clusters keep their previous centroid
        new = [
            (cid, [upd[cid][d] for d in range(len(vec))] if cid in upd else vec)
            for cid, vec in cents
        ]
        sweeps_run += 1
        if new == cents:  # exact integer fixpoint — further sweeps are no-ops
            break
        cents = new
    return cents, sweeps_run


def kmeans_summary(emb: DataFrame, k: int = 8, max_sweeps: int = 3) -> DataFrame:
    """Fit, then one final assignment pass summarized per cluster:
    (centroid_id, n_members, inertia, c_checksum). Inertia is the
    exact integer sum of scaled squared distances (decimal-summed,
    cast to double once); the checksum pins every centroid coordinate
    so the oracle value-checks the full model, not just the counts.
    Rows with a NULL embedding are skipped, as in :func:`kmeans_fit`."""
    spark = emb.sparkSession
    cents, _ = kmeans_fit(emb, k, max_sweeps)
    vecs = scaled_vectors(emb)
    assigned = vecs.crossJoin(
        F.broadcast(_centroid_scalar(spark, cents))
    ).select(_best(F.col("cents_arr")).alias("b"))
    counts = assigned.groupBy(F.col("b.cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.col("b.dist2").cast("decimal(38,0)")).cast("double").alias("inertia"),
    )
    model = spark.createDataFrame(
        [(cid, sum(vec)) for cid, vec in cents],
        "centroid_id int, c_checksum long",
    )
    return (
        model.join(counts, "centroid_id", "left")
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
            F.coalesce(F.col("inertia"), F.lit(0.0)).alias("inertia"),
            "c_checksum",
        )
        .orderBy("centroid_id")
    )
