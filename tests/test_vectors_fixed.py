"""The SQL-text fixed-width vector folds must be value-identical to the
higher-order-function folds (optimization r14): same left-fold order,
same 0.0D seed, same per-element casts — so unrolling can never move a
similarity threshold or an argmax tie."""

from etl_challenge_localiza_spark.functions.vectors import (
    cosine,
    cosine_fixed,
    dot,
    dot_fixed,
    embedding_dim,
    norm_sq,
    norm_sq_fixed,
)

ROWS = [
    ([1.0, 2.0, 3.5], [0.5, -1.25, 4.0]),
    ([0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
    ([-7.25, 0.0, 1e-3], [2.5, -3.0, 0.125]),
]


def _frame(spark):
    return spark.createDataFrame(ROWS, "a array<float>, b array<float>")


def test_fixed_folds_equal_hof_folds(spark):
    df = _frame(spark)
    d = 3
    got = df.select(
        dot_fixed("a", "b", d).alias("dot_f"),
        dot("a", "b").alias("dot_h"),
        norm_sq_fixed("a", d).alias("nsq_f"),
        norm_sq("a").alias("nsq_h"),
        cosine_fixed("a", "b", d).alias("cos_f"),
        cosine("a", "b").alias("cos_h"),
    ).collect()
    for r in got:
        assert r["dot_f"] == r["dot_h"]
        assert r["nsq_f"] == r["nsq_h"]
        assert r["cos_f"] == r["cos_h"]


def test_embedding_dim_probes_once_per_frame(spark):
    """The width probe is one Spark job the first time a frame is asked
    and none after: the width is memoized on the DataFrame object."""
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, None), (3, [0.5, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    widths = []
    try:
        for group in ("embedding-dim-first", "embedding-dim-second"):
            sc.setJobGroup(group, "embedding_dim probe")
            widths.append(embedding_dim(emb))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert widths == [3, 3]
    assert len(tracker.getJobIdsForGroup("embedding-dim-first")) >= 1
    assert tracker.getJobIdsForGroup("embedding-dim-second") == []
