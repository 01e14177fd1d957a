"""Unit tests for similarity search (SURVEY.md §2.9)."""

from __future__ import annotations

import math

import pytest

from etl_challenge_localiza_spark.operators.similarity import (
    brp_lsh_ann_pairs,
    embedding_norms_by_label,
    knn_cosine,
)

EMB_COLS = "vec_id long, embedding array<float>, label int"


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0], 1),   # orthogonal
        (3, [0.7, 0.7, 0.0], 1),
        (4, [-1.0, 0.0, 0.0], 2),  # opposite
    ]
    return spark.createDataFrame(rows, EMB_COLS)


def test_knn_cosine_ordering(spark):
    out = knn_cosine(_emb(spark), query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    assert out[0]["cos_sim"] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), abs=1e-6)
    assert out[2]["cos_sim"] == 0.0


def test_norms_by_label(spark):
    out = {r["label"]: r for r in embedding_norms_by_label(_emb(spark)).collect()}
    assert out[0]["n_vectors"] == 2
    assert out[2]["avg_norm"] == pytest.approx(1.0)
    assert out[1]["avg_norm"] == pytest.approx((1.0 + math.sqrt(0.98)) / 2, abs=1e-6)


def test_brp_lsh_finds_close_pair(spark):
    # vec 0 and 1 are at euclidean distance sqrt(0.01+0.01)≈0.141
    pairs = {
        (r["vec_id_a"], r["vec_id_b"]): r["euclidean_dist"]
        for r in brp_lsh_ann_pairs(_emb(spark), max_distance=0.5).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == pytest.approx(math.sqrt(0.02), abs=1e-5)
    assert (0, 4) not in pairs  # distance 2.0 > threshold


def test_cosine_nn_within_label_planted(spark):
    """Planted geometry: within label 'x', v1 is v0's nearest neighbour
    (and vice versa); v10 in a singleton label emits no row; exact
    duplicate vectors tie at cos=1.0 and break to the LOWEST vec_id."""
    from etl_challenge_localiza_spark.operators.similarity import (
        cosine_nn_within_label,
    )

    rows = [
        (0, [1.0, 0.0], "x"),
        (1, [0.9, 0.1], "x"),   # closest to v0
        (2, [0.0, 1.0], "x"),
        (10, [1.0, 1.0], "solo"),
        (20, [1.0, 2.0], "dup"),
        (21, [1.0, 2.0], "dup"),
        (22, [2.0, 4.0], "dup"),  # same direction: cos=1.0 with both
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r["vec_id"]: (r["nn_vec_id"], r["cos_sim"]) for r in cosine_nn_within_label(emb).collect()}
    assert 10 not in out                      # singleton label: no neighbour
    assert out[0][0] == 1 and out[1][0] == 0  # mutual NN in 'x'
    assert out[22] == (20, 1.0)               # tie at 1.0 -> lowest vec_id
    assert out[20] == (21, 1.0)               # 21 before 22 on the tie


def test_label_pca_variance_matches_numpy(spark):
    """The exact-int power-iteration estimate (r12 redesign — see the
    operator docstring) converges to numpy's eigvalsh on a GAPPED
    spectrum (first axis ×5 → λ₂/λ₁ ≈ 0.04, residual ≪ 1e-8 by sweep
    24); the trace is exact up to the 1e-6 input quantization."""
    import numpy as np

    from etl_challenge_localiza_spark.operators.similarity import label_pca_variance

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    vecs[:, 0] *= 5.0
    rows = [(1, [float(x) for x in v]) for v in vecs]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    r = label_pca_variance(df).first()

    c = np.cov(vecs, rowvar=False, bias=True)
    eig = np.linalg.eigvalsh(c)
    assert r["n_vectors"] == 40
    assert r["total_variance"] == pytest.approx(float(np.trace(c)), rel=1e-5)
    assert r["leading_eigenvalue"] == pytest.approx(float(eig[-1]), rel=1e-4)
    assert r["explained_ratio"] == pytest.approx(
        float(eig[-1] / np.trace(c)), rel=1e-4
    )


def test_label_pca_variance_ragged_widths_raise(spark):
    """Mixed embedding widths raise instead of summarizing a truncated
    Gram matrix (regression: n_vectors=2 for 3 rows and a negative
    leading eigenvalue); an all-NULL input is the empty summary."""
    from etl_challenge_localiza_spark.operators.similarity import label_pca_variance

    ragged = spark.createDataFrame(
        [(1, [1.0]), (1, [0.0, 1.0]), (1, [1.0, 1.0])],
        "label long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="mixed widths"):
        label_pca_variance(ragged).collect()
    nulls = spark.createDataFrame([(1, None)], "label long, embedding array<float>")
    assert label_pca_variance(nulls).collect() == []


def test_ivf_and_kmeans_ignore_null_embeddings(spark):
    """A NULL-embedding row changes nothing: ivf_assign gives it no row
    (regression: centroid 0 with a NULL dist, or a TypeError when it
    is a seed) and kmeans_fit / kmeans_summary skip it (regression:
    TypeError from the local Lloyd fit)."""
    from etl_challenge_localiza_spark.operators.kmeans import kmeans_fit, kmeans_summary
    from etl_challenge_localiza_spark.operators.similarity import ivf_assign

    vecs = [(i, [float(i % 3), float(i // 3), 1.0], i % 2) for i in range(8)]
    clean = spark.createDataFrame(vecs, EMB_COLS)
    want_ivf = sorted(ivf_assign(clean, n_centroids=3).collect())
    want_fit = kmeans_fit(clean, k=3, max_sweeps=3)
    want_sum = kmeans_summary(clean, k=3, max_sweeps=3).collect()
    # -1 is a seed id (vec_id < k), 8 is not
    for null_id in (-1, 8):
        dirty = spark.createDataFrame(vecs + [(null_id, None, 0)], EMB_COLS)
        assert sorted(ivf_assign(dirty, n_centroids=3).collect()) == want_ivf
        assert kmeans_fit(dirty, k=3, max_sweeps=3) == want_fit
        assert kmeans_summary(dirty, k=3, max_sweeps=3).collect() == want_sum


def test_brp_lsh_recall_floor_vs_brute_force(spark):
    """Accuracy bound for the brp_lsh_ann_pairs query (the
    IVF path has recall@10 = 1.0 vs brute force; this closes the same
    loop for BRP-LSH): on the real sf0.01 embeddings, the LSH pair set
    must recover >= 90% of the TRUE close pairs (brute-force euclidean
    < max_distance), and every pair it reports must be genuinely within
    the threshold (precision = 1.0 by construction — the operator
    verifies exact distances on candidates; recall is what the bucketing
    can lose)."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.similarity import (
        brp_lsh_ann_pairs,
        euclidean_sq,
    )
    from etl_challenge_localiza_spark.sources.readers import load_table

    sf_dir = "/root/testdata/sf0.01"
    emb = load_table(spark, sf_dir, "embeddings")
    max_distance = 1.2  # the registry query's threshold

    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    truth = {
        (r["ia"], r["ib"])
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .withColumn("d2", euclidean_sq(F.col("ea"), F.col("eb")))
        .filter(F.col("d2") < max_distance * max_distance)
        .select("ia", "ib")
        .collect()
    }
    assert truth, "degenerate: no close pairs in the corpus at this threshold"

    found = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in brp_lsh_ann_pairs(emb, max_distance=max_distance).collect()
    }
    assert found <= truth  # exact-distance verification on candidates
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, (
        f"BRP-LSH recall {recall:.3f} < 0.9 ({len(truth)} true pairs)"
    )


def test_brp_lsh_null_first_row_and_ragged_widths(spark):
    """The width comes from functions.vectors.embedding_dim: a NULL
    embedding in the first row is skipped (it never forms a pair), and
    mixed widths raise ValueError instead of returning pairs computed
    over a truncated width."""
    with_null = spark.createDataFrame(
        [(1, None, 0), (2, [1.0, 0.0], 0), (3, [1.0, 0.0], 0)], EMB_COLS
    )
    assert [tuple(r) for r in brp_lsh_ann_pairs(with_null).collect()] == [
        (2, 3, 0.0)
    ]
    ragged = spark.createDataFrame(
        [(1, [1.0], 0), (2, [1.0, 0.0], 0), (3, [1.0, 0.0], 0)], EMB_COLS
    )
    with pytest.raises(ValueError, match="mixed widths"):
        brp_lsh_ann_pairs(ragged)


def test_semdedup_drops_planted_cluster_duplicate(spark):
    """A near-identical pair inside one k-means cluster loses its
    higher vec_id; vectors merely in the same cluster but below the
    cosine threshold survive."""
    from etl_challenge_localiza_spark.operators.similarity import semdedup_drop

    rows = [
        # cluster A (seeded by vec 0)
        (0, [1.0, 0.0, 0.0], 0),
        (2, [0.95, 0.05, 0.0], 0),
        (3, [0.95, 0.05, 0.0], 0),      # exact dup of vec 2 → dropped
        # cluster B (seeded by vec 1)
        (1, [0.0, 1.0, 0.0], 1),
        (4, [0.05, 0.95, 0.0], 1),      # same cluster, cos < 0.999 → kept
    ]
    emb = spark.createDataFrame(rows, EMB_COLS)
    out = {r["centroid_id"]: r for r in semdedup_drop(emb, k=2, max_sweeps=3).collect()}
    assert sum(r["n_dropped"] for r in out.values()) == 1
    assert sum(r["n_kept"] for r in out.values()) == 4
    # the dup was in vec 0's cluster
    assert out[0]["n_dropped"] == 1


def test_hard_negatives_pick_closest_other_label(spark, tmp_path):
    import os

    from etl_challenge_localiza_spark.registry import QUERIES

    # anchor 0 (label 0) at [1,0]; same-label 1 at [1,0.01] must be
    # IGNORED; other-label 2 at [0.9,0.1] is the hard negative even
    # though other-label 3 at [0,1] also exists (it is easy).
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.01], 0),
        (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1),
    ]
    from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    emb = spark.createDataFrame(rows, schema)
    d = str(tmp_path)
    emb.coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {r["vec_id"]: r for r in QUERIES["hard_negatives_ann"].fn(spark, d).collect()}
    assert out[0]["neg_vec_id"] == 2 and out[0]["neg_label"] == 1
    assert out[1]["neg_vec_id"] == 2
    # anchors of label 1 must pick a label-0 vector
    assert out[2]["neg_label"] == 0 and out[3]["neg_label"] == 0


def test_semdedup_pruned_finds_planted_dups_and_conserves(spark):
    """semdedup_drop_pruned: planted identical vectors always co-locate
    (same deterministic argmin at both codebook levels), so every
    planted group loses size-1 vectors; counts conserve; far-apart
    vectors are never dropped (precision is exact — every reported
    pair passes the cosine test); and the whole operator is
    deterministic across runs."""
    import math

    from etl_challenge_localiza_spark.operators.similarity import (
        semdedup_drop_pruned,
    )

    # 4 well-separated direction groups in 3-d; group g has g+1
    # identical members → exactly g dups dropped per group, 4 total
    rows = []
    vid = 0
    dirs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [0.6, 0.64, 0.48]]
    for g, d in enumerate(dirs):
        for _ in range(g + 1):
            rows.append((vid, d, g))
            vid += 1
    emb = spark.createDataFrame(rows, EMB_COLS)
    run1 = semdedup_drop_pruned(emb, k=4, coarse=2, max_sweeps=3).collect()
    run2 = semdedup_drop_pruned(emb, k=4, coarse=2, max_sweeps=3).collect()
    assert [tuple(r) for r in run1] == [tuple(r) for r in run2]  # deterministic
    n_dropped = sum(r["n_dropped"] for r in run1)
    n_kept = sum(r["n_kept"] for r in run1)
    assert n_kept + n_dropped == len(rows)  # conservation
    assert n_dropped == sum(g for g in range(len(dirs)))  # 0+1+2+3
    # no group dropped below one keeper: total kept = number of groups
    # plus any sub-threshold singletons (none here)
    assert n_kept == len(dirs)

    # precision: pairwise-distinct directions (cos < 0.999 everywhere)
    # must drop nothing even when forced into few clusters
    spread = [
        (i, [math.cos(0.25 * i), math.sin(0.25 * i), 0.0], 0) for i in range(8)
    ]
    emb2 = spark.createDataFrame(spread, EMB_COLS)
    out2 = semdedup_drop_pruned(emb2, k=2, coarse=2, max_sweeps=2).collect()
    assert sum(r["n_dropped"] for r in out2) == 0
    assert sum(r["n_kept"] for r in out2) == 8


def test_semdedup_variants_empty_input(spark):
    """Both SemDeDup variants return an empty (centroid_id, n_kept,
    n_dropped) frame on an empty embeddings table — the pruned
    variant's driver-side sample fit must not crash on the 1-D empty
    ndarray (regression: numpy AxisError)."""
    from etl_challenge_localiza_spark.operators.similarity import (
        semdedup_drop,
        semdedup_drop_pruned,
    )

    emb = spark.createDataFrame([], "vec_id long, label string, embedding array<float>")
    for fn in (semdedup_drop, semdedup_drop_pruned):
        out = fn(emb, k=4)
        assert out.columns == ["centroid_id", "n_kept", "n_dropped"]
        assert out.count() == 0
    from etl_challenge_localiza_spark.operators.similarity import brp_lsh_ann_pairs

    pairs = brp_lsh_ann_pairs(emb)
    assert pairs.columns == ["vec_id_a", "vec_id_b", "euclidean_dist"]
    assert pairs.count() == 0


def test_semdedup_variants_ignore_null_embeddings(spark):
    """A NULL embedding row is filtered out on entry: both SemDeDup
    variants return exactly what they return without it (regression:
    TypeError from the k-means fit on the NULL vector)."""
    from etl_challenge_localiza_spark.operators.similarity import (
        semdedup_drop,
        semdedup_drop_pruned,
    )

    dirs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [0.6, 0.64, 0.48]]
    planted = [(i, dirs[i % 4], i % 4) for i in range(8)]
    clean = spark.createDataFrame(planted, EMB_COLS)
    # the NULL row has the lowest vec_id, so it would be a k-means seed
    dirty = spark.createDataFrame([(-1, None, 0)] + planted, EMB_COLS)
    for fn in (semdedup_drop, semdedup_drop_pruned):
        want = [tuple(r) for r in fn(clean, k=4, max_sweeps=3).collect()]
        assert sum(r[2] for r in want) == 4  # each direction drops its copy
        assert [tuple(r) for r in fn(dirty, k=4, max_sweeps=3).collect()] == want


def test_rrf_fuse_known_rankings(spark):
    from etl_challenge_localiza_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 3.0), (20, 2.0), (30, 1.0)], "doc_id int, s double"
    )
    sem = spark.createDataFrame(
        [(20, 0.9), (40, 0.8), (10, 0.7)], "doc_id int, c double"
    )
    out = rrf_fuse([lex, sem], "doc_id", k=4, r=100).collect()
    got = {r["doc_id"]: r["rrf_score"] for r in out}
    exp = {
        10: round(1 / 61 + 1 / 63, 6),
        20: round(1 / 62 + 1 / 61, 6),
        30: round(1 / 63, 6),
        40: round(1 / 62, 6),
    }
    assert got == exp
    # fused order: 20 (two high ranks) first, then 10, then 40, then 30
    assert [r["doc_id"] for r in out] == [20, 10, 40, 30]


def test_rrf_fuse_respects_r_cut(spark):
    from etl_challenge_localiza_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(1, 6)], "doc_id int, s double"
    )
    # r=2 → only doc 1 and 2 survive the lexical cut
    out = rrf_fuse([lex], "doc_id", k=10, r=2).collect()
    assert [r["doc_id"] for r in out] == [1, 2]


def test_rrf_fuse_rejects_wide_frame(spark):
    import pytest as _pytest

    from etl_challenge_localiza_spark.operators.similarity import rrf_fuse

    bad = spark.createDataFrame([(1, 1.0, 2.0)], "doc_id int, a double, b double")
    with _pytest.raises(ValueError, match="must be exactly"):
        rrf_fuse([bad], "doc_id")


def test_mmr_rerank_prefers_diverse(spark):
    """Hand-computed geometry: three candidates with EQUAL relevance
    to the query, two of them clones. Plain kNN top-2 returns the
    clone pair (tie → lowest vec_id); MMR must spend rank 2 on the
    diverse candidate: clone score = λ·rel − (1−λ)·1.0 = 0.364 <
    diverse score = λ·rel − (1−λ)·0.8 = 0.424 (λ=0.7, rel=3/√10)."""
    from etl_challenge_localiza_spark.operators.similarity import knn_cosine, mmr_rerank

    s10 = 10 ** 0.5
    rows = [
        (0, [1.0, 0.0], "q"),
        (1, [3 / s10, 1 / s10], "a"),
        (2, [3 / s10, 1 / s10], "a"),   # clone of 1
        (3, [3 / s10, -1 / s10], "b"),  # same relevance, sim 0.8 to 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")

    knn2 = [r["vec_id"] for r in knn_cosine(emb, query_vec_id=0, k=2).collect()]
    assert knn2 == [1, 2]  # the clone pair

    out = mmr_rerank(emb, k=2, r=10).collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    assert [r["mmr_rank"] for r in out] == [1, 2]
    # rank 1 pays no similarity penalty (score = λ·rel, unrounded —
    # scores are exact 7-decimal doubles by construction); rank 2 does
    assert out[0]["mmr_score"] == 0.7 * out[0]["relevance"]
    assert out[1]["mmr_score"] < 0.7 * out[1]["relevance"]


def test_mmr_rerank_deterministic_on_real_data(spark, sf0001):
    from etl_challenge_localiza_spark.operators.similarity import mmr_rerank
    from etl_challenge_localiza_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    a = mmr_rerank(emb, k=10, r=50).collect()
    b = mmr_rerank(emb, k=10, r=50).collect()
    assert a == b
    assert len(a) == 10 and [r["mmr_rank"] for r in a] == list(range(1, 11))


def test_rrf_fuse_tolerates_duplicate_ids(spark):
    """ADVICE r9: a duplicated id within one ranking frame must
    contribute exactly ONE reciprocal-rank term (its best rank) and
    must not fan out the fusion join — the fused frame still has one
    row per id and the duplicate-free list is unaffected."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.similarity import rrf_fuse

    dup = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (2, 0.7)], ["id", "s"]
    )
    clean = spark.createDataFrame([(2, 0.5), (1, 0.4)], ["id", "s"])
    out = rrf_fuse([dup, clean], "id", k=10, r=100).collect()
    assert [r["id"] for r in out] == sorted(
        [r["id"] for r in out], key=lambda i: -[x["rrf_score"] for x in out][[y["id"] for y in out].index(i)]
    )
    got = {r["id"]: r["rrf_score"] for r in out}
    # id 1: best rank 1 in dup list (the rank-2 duplicate is dropped),
    # rank 2 in clean; id 2: rank 3 in dup (after the two id-1 rows),
    # rank 1 in clean
    assert len(out) == 2
    assert got[1] == round(1 / 61 + 1 / 62, 6)
    assert got[2] == round(1 / 63 + 1 / 61, 6)


def test_pq_adc_recall_vs_exact(spark):
    """PQ/ADC is a compression, not an exactness claim — pin its
    quality with bounds the UNTRAINED seed codebook actually earns
    (production PQ k-means-trains each subspace; the registry keeps
    seeds so the whole model stays oracle-replayable): on the real
    embeddings (64x compression, m=4 k=16), at least 70% of the ADC
    top-10 must sit inside the exact squared-euclidean top-50 (the
    top decile of 499 candidates), the picks' mean exact-rank must
    beat 4x-better-than-random, and ADC distances are non-negative.
    Measured at authoring time: 9/10 in the exact top-50, mean rank
    26.3 vs 249 random."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.sources.readers import load_table

    SF = "/root/testdata/sf0.001"
    adc = QUERIES["pq_adc_topk"].fn(spark, SF).collect()
    assert len(adc) == 10 and all(r["adc_dist"] >= 0 for r in adc)
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("e", "qe", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .collect()
    )
    rank = {r["vec_id"]: i for i, r in enumerate(exact)}
    picks = [r["vec_id"] for r in adc]
    top50 = {r["vec_id"] for r in exact[:50]}
    hit = len(set(picks) & top50) / len(picks)
    assert hit >= 0.7, f"ADC top-10 fell out of the exact top decile: {hit}"
    mean_rank = sum(rank[v] for v in picks) / len(picks)
    assert mean_rank <= len(exact) / 8, f"ADC enrichment collapsed: {mean_rank}"


def test_sq8_rerank_recovers_exact_neighbors(spark, sf0001):
    """The SQ8 lane's quantize-scan-rerank recovers the exact cosine
    top-10 on the test corpus (measured 10/10; asserted >= 8/10 for
    robustness margin), with descending reranked similarity and
    nonnegative integer code distances."""
    from etl_challenge_localiza_spark.registry import QUERIES

    sq8 = QUERIES["sq8_search_vec0"].fn(spark, sf0001).collect()
    knn = QUERIES["knn_cosine_vec0"].fn(spark, sf0001).collect()
    assert len(sq8) == 10
    sims = [r["cos_sim"] for r in sq8]
    assert sims == sorted(sims, reverse=True)
    assert all(r["qdist8"] >= 0 for r in sq8)
    overlap = {r["vec_id"] for r in sq8} & {r["vec_id"] for r in knn}
    assert len(overlap) >= 8
