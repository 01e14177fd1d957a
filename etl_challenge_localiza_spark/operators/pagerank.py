"""PageRank in exact int64/decimal fixed-point with convergence-based
termination — the second driver-sequenced iterative shape beside
``operators.components`` (round-5 VERDICT directive #6 factored it out
of the registry and added the early-stop).

Determinism across engines is engineered by running the WHOLE
iteration in scaled fixed-point (ranks x1e12, floor division): no
float accumulation order anywhere, so a SQL oracle's chained-CTE
sweeps hash-match bit-for-bit at any sweep count.

Termination: after every sweep the driver reduces ONE scalar — the L1
delta sum(|r_new - r_old|) in scaled units — over that sweep's cached
frame (the old rank is carried through the update select, the same
trick the components loop uses, so no extra join materializes). When
the delta is 0 (an exact fixpoint; in integer fixed-point the
iteration genuinely REACHES fixpoints, floats only approach them) the
loop stops early: every further sweep would reproduce the same ranks,
so an early stop is result-identical to running all ``max_sweeps`` —
which is what keeps a fixed-sweep oracle valid for a
convergence-terminated implementation. With
``require_convergence=True`` a loop still moving at max_sweeps raises
instead of returning silently-unconverged ranks (the components
contract).

Scale shape: each sweep is edges⋈ranks⋈outdeg + one hash aggregate on
dst — the standard message-passing join plan; the loop runs under the
shared :func:`operators.components.iterative_loop_confs` sizing policy
(shuffle width ~ edge count, AQE suspended, confs restored on exit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import iterative_loop_confs

#: fixed-point scale: ranks are integers in units of 1e-12.
RANK_SCALE = 1_000_000_000_000

#: damping factor 17/20 = 0.85, kept as an exact integer ratio.
DAMPING_NUM, DAMPING_DEN = 17, 20

#: the scaled (1 - damping) share every node receives each sweep.
RANK_BASE = (RANK_SCALE * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN

#: edge-count ceiling for the driver-local exact-integer fast path —
#: a driver-memory bound, not a machine-width tune (see
#: components.CC_LOCAL_EDGE_BUDGET for the policy rationale).
PR_LOCAL_EDGE_BUDGET = 500_000


def pagerank_scaled(
    edges: DataFrame,
    max_sweeps: int = 3,
    require_convergence: bool = False,
) -> tuple[DataFrame, int]:
    """Power-iterate PageRank over ``edges`` (src, dst — already
    symmetrized/deduped as the caller intends) for up to ``max_sweeps``
    sweeps, stopping early when the scaled L1 delta reaches 0.

    Returns (ranks, sweeps_run): ranks is a lineage-free (id, r) frame
    (r in units of 1e-12), sweeps_run the number of sweeps actually
    executed (pytest asserts early-stop on pre-converged graphs).
    """
    spark = edges.sparkSession
    e = edges.cache()  # loop-invariant, referenced by every sweep
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .cache()
    )
    n_edges = e.count()
    if n_edges <= PR_LOCAL_EDGE_BUDGET:
        # SMALL-GRAPH FAST PATH (optimization r14, same rationale as
        # components.connected_components): each distributed sweep
        # costs 2 joins + an agg + a cache fill + a scalar collect of
        # driver-blocking dispatch regardless of graph size. Below the
        # bounded budget, run the sweeps in exact Python integers —
        # arbitrary precision covers the decimal(38,0) damping
        # multiply, and floor-div equals Spark's `div` on the
        # nonnegative ranks — so ranks AND sweeps_run are
        # bit-identical (pinned by tests/test_pagerank.py fastpath
        # test). Past the budget the distributed loop handles any
        # size.
        try:
            rows = e.collect()
            out_type = e.schema[0].dataType
        finally:
            nodes.unpersist()
            e.unpersist()
        adj: dict = {}
        deg: dict = {}
        node_set = set()
        for r_ in rows:
            s_, d_ = r_[0], r_[1]
            if s_ is None or d_ is None:
                continue
            node_set.add(s_)
            node_set.add(d_)
            deg[s_] = deg.get(s_, 0) + 1
            adj.setdefault(s_, []).append(d_)
        rank = {n: RANK_SCALE for n in node_set}
        sweeps_run = 0
        converged = False
        for _ in range(max_sweeps):
            s_acc = {n: 0 for n in node_set}
            for src_, dsts in adj.items():
                c = rank[src_] // deg[src_]
                for dst_ in dsts:
                    s_acc[dst_] += c
            new_rank = {
                n: RANK_BASE + (DAMPING_NUM * s_acc[n]) // DAMPING_DEN
                for n in node_set
            }
            delta = sum(abs(new_rank[n] - rank[n]) for n in node_set)
            rank = new_rank
            sweeps_run += 1
            if delta == 0:
                converged = True
                break
        if not converged and require_convergence:
            raise RuntimeError(
                f"pagerank did not converge in {max_sweeps} sweeps "
                "(L1 delta still > 0); raise max_sweeps"
            )
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            [StructField("id", out_type), StructField("r", LongType())]
        )
        out_rows = sorted(rank.items())
        slices = max(
            1, min(spark.sparkContext.defaultParallelism, len(out_rows) // 50_000)
        )
        return (
            spark.createDataFrame(
                spark.sparkContext.parallelize(out_rows, slices), schema=out_schema
            ),
            sweeps_run,
        )
    # fold the loop-invariant out-degree INTO the cached edge list once
    # (optimization r14, second segment): the old loop re-joined outdeg
    # every sweep — one whole join stage per sweep for a value that
    # never changes. ed replaces e as the loop's cached edge relation.
    ed = e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("d")), "src").cache()
    ranks = nodes.select("id", F.lit(RANK_SCALE).alias("r"))
    cached = None
    sweeps_run = 0
    try:
        with iterative_loop_confs(spark, n_edges):
            for _ in range(max_sweeps):
                contrib = ed.join(
                    ranks.withColumnRenamed("id", "src"), "src"
                ).select(F.col("dst").alias("id"), F.expr("r div d").alias("c"))
                summed = contrib.groupBy("id").agg(F.sum("c").alias("s"))
                # damping in decimal(38,0): s is a sum of int64
                # contributions (a hub with in-flow past ~5.4e17 would
                # overflow an int64 multiply and silently diverge from
                # a hugeint-summing oracle); 128-bit headroom makes the
                # sweep safe at any graph mass a 100 TB edge set can
                # produce.
                # ranks is its own node spine (rank frames carry every
                # node from sweep 0 on), so the sum attaches with ONE
                # left join instead of the old nodes-join-summed-join-
                # ranks pair — two join stages per sweep become one.
                stepped = (
                    ranks.withColumnRenamed("r", "__prev")
                    .join(summed, "id", "left")
                    .select(
                        "id",
                        (
                            F.lit(RANK_BASE)
                            + F.expr(
                                f"cast(({DAMPING_NUM} * cast(coalesce(s, 0) as"
                                f" decimal(38,0))) div {DAMPING_DEN} as bigint)"
                            )
                        ).alias("r"),
                        "__prev",
                    )
                    .cache()
                )
                # ONE scalar action per sweep: the L1 rank movement —
                # also what materializes this sweep's cache so the
                # previous one can release
                delta = (
                    stepped.agg(
                        F.sum(F.abs(F.col("r") - F.col("__prev"))).alias("d")
                    ).collect()[0]["d"]
                    or 0  # empty graph: trivially converged
                )
                if cached is not None:
                    cached.unpersist()
                cached = stepped
                ranks = stepped.select("id", "r")
                sweeps_run += 1
                if delta == 0:
                    break
            else:
                if require_convergence:
                    raise RuntimeError(
                        f"pagerank did not converge in {max_sweeps} sweeps "
                        "(L1 delta still > 0); raise max_sweeps"
                    )
            # lineage-free handoff, same rationale as components
            return ranks.localCheckpoint(eager=True), sweeps_run
    finally:
        if cached is not None:
            cached.unpersist()
        nodes.unpersist()
        ed.unpersist()
        e.unpersist()
