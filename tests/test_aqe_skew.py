"""Plan-level proof that the 100×-skew story holds: AQE's skew-join
splitting actually fires on a planted hot key (PERF.md claims it as the
first line of defense, operators/skew.py:salted_join as the manual
fallback — the salted join's result-invariance is oracle-checked by
`salted_revenue_by_region`; this test closes the loop on the AQE path).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

#: conf → test value; originals restored afterward.
_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # make the planted skew detectable on MB-scale test data (defaults
    # are sized for production: 256 MB threshold)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    # a broadcast join has no skew to split — force the shuffle path
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "8",
}


@pytest.fixture()
def skew_confs(spark):
    old = {}
    for k, v in _SKEW_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_skew_join_split_fires(skew_confs):
    spark = skew_confs
    # ~190k of 200k fact rows share key 0 → one shuffle partition holds
    # ~20 MB while the others hold KBs: a 100×-skewed key.
    fact = spark.range(200_000).select(
        F.when(F.col("id") < 190_000, F.lit(0)).otherwise(F.col("id") % 8).alias("key"),
        F.concat(F.lit("x" * 96), F.col("id").cast("string")).alias("payload"),
    )
    dim = spark.range(8).select(
        F.col("id").alias("key"), F.concat(F.lit("dim"), F.col("id")).alias("name")
    )
    joined = fact.join(dim, "key")
    # collect() executes THIS Dataset's QueryExecution (count() would
    # plan a separate aggregate and leave the join's plan unexecuted)
    n = len(joined.collect())
    assert n == 200_000

    # the executed (adaptive) plan marks the split join node skew=true
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, f"AQE skew-join split did not fire:\n{plan[:2000]}"


def test_salted_join_spreads_hot_key(spark):
    """The manual fallback: salting must spread a hot key's rows across
    n_salts partitions while keeping the join result identical."""
    from etl_challenge_localiza_spark.operators.skew import salted_join

    fact = spark.range(10_000).select(
        F.lit(0).cast("long").alias("key"),  # every row hits one key
        F.col("id").alias("row_id"),
    )
    dim = spark.createDataFrame([(0, "hot")], ["key", "name"])

    out = salted_join(fact, dim, "key", "key", "row_id", force_shuffle=True)
    assert out.count() == 10_000

    # the salted fact side distributes the hot key over all 8 salts
    salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)).cast("int")
    )
    n_salts_used = salted.select("__salt").distinct().count()
    assert n_salts_used == 8


def test_planner_join_audit_strategy_branches(spark):
    """The strategy rule flips on its inputs: (a) a small side ->
    broadcast; (b) big sides with one key owning most of the join
    output -> shuffle_salted; (c) big uniform sides -> shuffle_hash.
    Exact columns are checked against hand-computable cardinalities;
    the CMS estimate must never underestimate."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.skew import planner_join_audit

    # (a) broadcast: tiny right side
    la = spark.range(0, 1000).select((F.col("id") % 100).alias("jk"))
    ra = spark.range(0, 50).select(F.col("id").alias("jk"))
    row = planner_join_audit(la, ra, "jk", "a", broadcast_rows=100).first()
    assert row["strategy"] == "broadcast"
    assert row["left_rows"] == 1000 and row["right_rows"] == 50
    assert row["ndv_left"] == 100 and row["ndv_right"] == 50
    # keys 0..49 each: na=10, nb=1 -> exact = 500
    assert row["exact_join_rows"] == 500
    assert row["cms_estimate"] >= row["exact_join_rows"]

    # (b) salted: key 0 on both sides dominates the output
    lb = spark.range(0, 2000).select(
        F.when(F.col("id") < 1000, 0).otherwise(F.col("id")).alias("jk")
    )
    rb = spark.range(0, 2000).select(
        F.when(F.col("id") < 100, 0).otherwise(F.col("id") + 10_000).alias("jk")
    )
    row = planner_join_audit(lb, rb, "jk", "b", broadcast_rows=10).first()
    # only key 0 joins: 1000 * 100 pairs, hot share 1.0
    assert row["exact_join_rows"] == 100_000
    assert row["hot_key_share"] == 1.0
    assert row["strategy"] == "shuffle_salted"

    # (c) uniform: unique keys both sides, hot share ~0
    lc = spark.range(0, 5000).select(F.col("id").alias("jk"))
    rc = spark.range(0, 5000).select(F.col("id").alias("jk"))
    row = planner_join_audit(lc, rc, "jk", "c", broadcast_rows=10).first()
    assert row["exact_join_rows"] == 5000
    assert row["hot_key_share"] == round(1 / 5000, 6)
    assert row["strategy"] == "shuffle_hash"
