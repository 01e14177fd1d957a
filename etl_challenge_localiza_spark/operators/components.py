"""Connected components over a pair/edge list — turns near-duplicate
PAIRS into duplicate CLUSTERS (the last step of corpus dedup: keep one
canonical doc per component).

Iterative min-label propagation expressed as DataFrame joins:
label(n) ← min(label(n), min over neighbors m of label(m)), repeated
until a fixpoint. The driver only checks a scalar "did anything
change" per round — data never leaves the cluster. Rounds needed ≈
graph diameter (near-dup clusters are tiny, so 2-4 rounds in
practice); each round is one shuffle on node id.

This is the honest Spark shape for iterative algorithms: a driver loop
over lazy plans with a convergence action, the same pattern GraphX/
GraphFrames uses underneath.
"""

from __future__ import annotations

from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_width

#: exceptions a conf get/set/unset can raise: structured pyspark errors
#: (missing key, static conf) or a raw py4j bridge error.
_CONF_ERRORS = (PySparkException, Py4JError)


@contextmanager
def iterative_loop_confs(spark, n_rows: int):
    """Shared sizing policy for driver-sequenced fixpoint loops
    (connected components, PageRank): narrow the shuffle width to the
    REDUCED loop data (one partition per ~100K rows — r14: was 1M,
    which ran the 1.17M-edge pagerank sweeps single-task; 100K
    measured 10.6 s → 5.9 s full-call there while sub-100K-edge loops
    still collapse to one partition — capped at the session setting,
    floor 1) and suspend AQE for the loop's duration — iterating tiny
    cached joins at full width under AQE costs ~1-2 s/round in
    re-planning + task dispatch alone (profiled round 5). At large
    row counts the loop keeps full width.

    Narrows SESSION-GLOBAL confs and restores them on exit; assumes no
    concurrent query shares the SparkSession (the engine's batch entry
    points are single-threaded per session by design — multi-tenant
    callers should isolate via spark.newSession()).
    """

    def _get_conf(key):
        try:
            return spark.conf.get(key)
        except _CONF_ERRORS:
            return None

    old_parts = _get_conf("spark.sql.shuffle.partitions")
    old_aqe = _get_conf("spark.sql.adaptive.enabled")
    loop_parts = max(1, min(shuffle_width(spark), n_rows // 100_000))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield loop_parts
    finally:
        # restore caller confs (set back the saved value, or unset to
        # the session default when the old value was unreadable — never
        # force-set a guessed number, and never leave AQE disabled)
        for key, old in (
            ("spark.sql.shuffle.partitions", old_parts),
            ("spark.sql.adaptive.enabled", old_aqe),
        ):
            try:
                if old is not None:
                    spark.conf.set(key, old)
                else:
                    spark.conf.unset(key)
            except _CONF_ERRORS:
                pass


#: edge-count ceiling for the driver-local union-find fast path.
#: ~16 bytes/edge → ≤ ~8 MB of bounded driver state (0 disables the
#: fast path). This is a driver-memory bound, not a machine-width
#: tune: the SAME value is right on a laptop and a 1000-node cluster,
#: because what it guards is one bounded collect, and past it the
#: distributed fixpoint loop (identical results) takes over.
CC_LOCAL_EDGE_BUDGET = 500_000


def _local_components(rows) -> dict:
    """Union-find (path halving + union by size) over an edge list,
    then min-member labeling: node -> min(node id in its component).
    Exactly the fixpoint the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        # path-halve x's chain too
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    root_min: dict = {}
    for x in parent:
        r = find(x)
        m = root_min.get(r)
        if m is None or x < m:
            root_min[r] = x
    return {x: root_min[find(x)] for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Return (node, component) where component = min node id in the
    connected component. ``edges`` is undirected input (one row per
    pair, any orientation). The distributed loop runs at most 20
    label-propagation rounds."""
    # materialize the (already pair-finding-REDUCED) edge list ONCE
    # before symmetrizing: a plain union would embed the upstream
    # pipeline in BOTH branches and Spark recomputes non-identical
    # union arms (profiled round 5: the jaccard pair pipeline ran
    # twice, ~2x the edge-build cost). localCheckpoint also keeps the
    # loop's plans free of the upstream lineage.
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    spark_ = edges.sparkSession
    n_raw = e0.count()
    if n_raw <= CC_LOCAL_EDGE_BUDGET:
        # SMALL-GRAPH FAST PATH (optimization r14, guide §1.2 step 1):
        # pair finding has already reduced the data by orders of
        # magnitude, and the distributed fixpoint loop costs 3+
        # driver-blocking round trips (join+agg+cache+count each) no
        # matter how tiny the edge list is — measured 1.4 s of pure
        # dispatch for a 12-edge sf0.1 graph. Below the bounded budget
        # this path does ONE driver action (collect of the already-
        # checkpointed, reduced edges) instead of ~6, runs union-find
        # locally, and ships the labels back as a single createDataFrame
        # — bit-identical output, strictly less driver involvement.
        # Past the budget (clone tiers, real 100 TB corpora) the
        # distributed loop below handles any size.
        label = _local_components(
            (r[0], r[1]) for r in e0.collect() if r[0] is not None and r[1] is not None
        )
        a_type = e0.schema[0].dataType
        from pyspark.sql.types import StructField, StructType

        rows = sorted(label.items())
        type_sql = a_type.simpleString()
        if type_sql in ("tinyint", "smallint", "int", "bigint") and len(rows) <= 50_000:
            # (row cap: a VALUES literal is parsed text — fine for the
            # label maps near-dup graphs produce, wrong for a
            # budget-sized million-node map, which keeps the RDD path)
            # integral node ids (every registry graph): ship the label
            # map as a SQL VALUES LocalRelation — zero jobs and zero
            # Python worker tasks per consumption, vs one pickled-RDD
            # task even at the data-sized slice count below
            # (functions.localrel rationale)
            from ..functions.localrel import values_table

            return values_table(
                spark_, rows, f"node {type_sql}, component {type_sql}"
            )
        out_schema = StructType(
            [StructField("node", a_type), StructField("component", a_type)]
        )
        # size the local relation's partitioning to the data: the
        # default (defaultParallelism slices) hands every downstream
        # consumer 32 near-empty partitions of task dispatch for a
        # handful of label rows (measured +0.25 s exec on the CC lanes)
        slices = max(1, min(spark_.sparkContext.defaultParallelism, len(rows) // 50_000))
        return spark_.createDataFrame(
            spark_.sparkContext.parallelize(rows, slices), schema=out_schema
        )
    both = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().cache()
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .cache()
    )
    spark = edges.sparkSession
    # materialize the edge cache FIRST (under the caller's tuned confs —
    # this runs the full upstream pair-finding pipeline), then size the
    # fixpoint loop to the REDUCED data via the shared policy
    # (:func:`iterative_loop_confs`): near-dup edge lists are orders of
    # magnitude smaller than the corpus.
    n_edges = both.count()
    cached = labels  # the cached frame backing the current labels view
    try:
        with iterative_loop_confs(spark, n_edges):
            for _ in range(20):
                neighbor_min = (
                    both.join(labels, both["b"] == labels["node"])
                    .groupBy(F.col("a").alias("node"))
                    .agg(F.min("component").alias("nbr_min"))
                )
                # carry the OLD label through the update so convergence
                # detection is a filter over this round's cached frame
                # instead of a second labels⋈labels join per iteration
                stepped = (
                    labels.join(neighbor_min, "node", "left")
                    .select(
                        "node",
                        F.least(
                            F.col("component"),
                            F.coalesce("nbr_min", F.col("component")),
                        ).alias("component"),
                        F.col("component").alias("__prev"),
                    )
                    .cache()
                )
                changed = (
                    stepped.filter(F.col("component") != F.col("__prev"))
                    .limit(1)
                    .count()
                )
                cached.unpersist()
                cached = stepped
                labels = stepped.select("node", "component")
                if changed == 0:
                    break
            else:
                # fell out of the loop with labels still moving: a
                # component whose diameter exceeds 20 would get
                # WRONG (split) labels — refuse to return silently-
                # unconverged results.
                raise RuntimeError(
                    "connected_components did not converge in 20 "
                    "iterations (a component's diameter exceeds 20)"
                )
            # hand back a LINEAGE-FREE frame: a returned cache entry
            # would otherwise be pinned forever (CacheManager entries
            # don't GC — the round-4 advisory's leak class), and
            # downstream consumers would drag the whole iterative join
            # lineage into their plans. localCheckpoint materializes the
            # bounded (node, component) set into ContextCleaner-managed
            # blocks; on a real cluster an executor loss would need
            # reliable checkpoint() instead — the result is ≤|V| rows
            # either way, the cheapest frame in the whole computation to
            # persist.
            return labels.localCheckpoint(eager=True)
    finally:
        # release the last round's cache (the checkpoint has already
        # read it) and the edge frame, on success AND failure
        cached.unpersist()
        both.unpersist()
