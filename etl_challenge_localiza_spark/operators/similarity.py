"""Similarity search over the ``embeddings`` table (SURVEY.md §2.9).

- :func:`knn_cosine` — exact brute-force top-k for one query vector.
  Linear scan, JVM-side higher-order functions, TakeOrderedAndProject
  for the top-k (no global sort). This is the correctness baseline;
  its re-rank, :func:`cosine_topk`, also ranks the IVF candidates that
  :func:`ivf_probe` selects.
- :func:`cosine_nn_within_label` — exact nearest neighbour per vector,
  restricted by a blocking column to stay sub-quadratic.
- :func:`brp_lsh_ann_pairs` — approximate pair search via
  bucketed random projections (md5-derived unit directions, so a
  DuckDB oracle replays every bucket; embeddings here are unit-norm
  so euclidean distance is a monotone proxy for cosine). The 100-TB
  path: candidates meet only inside hash buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.localrel import values_table
from ..functions.vectors import cosine, cosine_fixed, embedding_dim, l2_norm
from ..session import shuffle_width


def knn_cosine(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact cosine top-k neighbours of one stored vector: the whole
    corpus but the query itself through :func:`cosine_topk`."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    return cosine_topk(emb.filter(F.col("vec_id") != query_vec_id), q, k)


def cosine_topk(cand: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Cosine top-k of the candidate rows (vec_id, label, embedding)
    against the 1-row query frame ``q`` (q_embedding).

    The query side is broadcast; the candidate side never shuffles.
    Similarity is rounded to 6 dp before ranking so ordering (and
    therefore the selected top-k set) is stable across engines/runs;
    ties break on vec_id. Returns (vec_id, label, cos_sim).
    """
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine("embedding", "q_embedding"), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def embedding_norms_by_label(emb: DataFrame) -> DataFrame:
    """Per-label vector stats (count + mean L2 norm, rounded to 6 dp) —
    the sanity profile for an embedding corpus."""
    return (
        emb.select("label", l2_norm("embedding").alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
        )
    )


def cosine_nn_within_label(emb: DataFrame) -> DataFrame:
    """Exact nearest neighbour (by cosine) for every vector WITHIN its
    label block — the kNN-graph construction step of embedding-based
    near-dup detection (threshold the edges downstream).

    Scale design: the self-join is BLOCKED on label (the standard
    guard against all-pairs, mirroring the (lang, source) text blocks),
    and the per-vector argmax is a ``max(struct(...))`` aggregate —
    partial aggregation runs inside the join stage's tasks, so the
    pair stream itself is never shuffled; only one row per vec_id per
    task reaches the exchange. Vectors whose label block has size 1
    have no neighbour and are absent (matches the oracle join).

    Similarity is rounded to 6 dp before the argmax so ranking ties are
    engine-stable; ties break to the LOWEST neighbour vec_id (the
    struct max compares -vec_id after cos_sim).

    The per-pair cosine uses the fixed-width unrolled fold
    (functions.vectors.cosine_fixed, optimization r14): higher-order
    folds run interpreted at ~20 µs per 64-d pair, dominating this
    pair-quadratic block join — 6.0 s → 1.7 s at sf0.1, bit-identical
    output. One 1-row dim probe at plan build pays for it.
    """
    from ..sources.readers import spread_small_scan

    dim = embedding_dim(emb)
    # spread the PROBE side (optimization r14, second segment): the
    # local single-row-group scan is one task and the label join
    # broadcasts the build side, so the whole pair enumeration +
    # partial argmax ran serially in the scan stage (3.3 s CPU on one
    # task at sf0.1). Round-robin spreading the probe rows fans the
    # quadratic work across the cores; the aggregate output is
    # order-independent (max over a multiset).
    a = spread_small_scan(emb).select(
        F.col("label").alias("__lbl"),
        F.col("vec_id").alias("__vid"),
        F.col("embedding").alias("__emb"),
    )
    b = emb.select(
        F.col("label").alias("__lbl_b"),
        F.col("vec_id").alias("__vid_b"),
        F.col("embedding").alias("__emb_b"),
    )
    pairs = a.join(
        b,
        (F.col("__lbl") == F.col("__lbl_b")) & (F.col("__vid") != F.col("__vid_b")),
    )
    best = F.max(
        F.struct(
            F.round(cosine_fixed("__emb", "__emb_b", dim), 6).alias("cos_sim"),
            (-F.col("__vid_b")).alias("__neg_id"),
            F.col("__vid_b").alias("nn_vec_id"),
        )
    )
    return (
        pairs.groupBy(F.col("__vid").alias("vec_id"))
        .agg(best.alias("b"))
        .select(
            "vec_id",
            F.col("b.nn_vec_id").cast("long").alias("nn_vec_id"),
            F.col("b.cos_sim").alias("cos_sim"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 10,
    r: int = 100,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of N retrieval rankings: score(d) = Σ 1/(60 + rank) over the lists
    that retrieved d within their top-``r``, rounded to 6 dp — the
    standard hybrid-retrieval combiner for a lexical (BM25) and a semantic
    (embedding-cosine) list, score-scale-free by construction.

    Each input frame is (``id_col``, score) with higher = better; the
    score column is whatever single column isn't ``id_col``. Scale
    shape: each list is first cut to its top-``r`` by
    TakeOrderedAndProject (distributed — no global sort touches the
    corpus), and only then numbered with a one-task row_number: the
    unpartitioned window sees ≤ r rows by construction (the documented
    k-row-probe exception to the no-global-window rule). The fusion
    join carries ≤ N·r rows. Input-score ties and fused-score ties
    both break on the id, and contributions are summed in list order
    (1/(60+rank) terms are exact double quotients of small ints), so
    the fused scores are engine- and run-stable.

    Precondition: each ranking frame should carry ONE row per id (the
    natural shape of a retrieval list). Duplicated ids are tolerated
    defensively (ADVICE r9) — after ranking, only the BEST (minimum)
    rank per id survives, so a duplicate can neither contribute two
    reciprocal-rank terms to one list's sum nor fan out the fusion
    full-outer join; the dedup runs on the ≤ r-row ranked frame, so
    the guard costs one tiny exchange, never a corpus shuffle.
    """
    contribs = []
    for i, df in enumerate(rankings):
        score = [col for col in df.columns if col != id_col]
        if len(score) != 1:
            raise ValueError(
                f"ranking {i} must be exactly ({id_col}, <score>); got {df.columns}"
            )
        order = [F.col(score[0]).desc(), F.col(id_col).asc()]
        top = df.orderBy(*order).limit(r)
        ranked = (
            top.select(
                id_col, F.row_number().over(Window.orderBy(*order)).alias("rank")
            )
            .groupBy(id_col)
            .agg(F.min("rank").alias("rank"))
        )
        contribs.append(
            ranked.select(
                id_col,
                (F.lit(1.0) / (F.lit(60.0) + F.col("rank"))).alias(f"rrf_{i}"),
            )
        )
    fused = contribs[0]
    for nxt in contribs[1:]:
        fused = fused.join(nxt, id_col, "full_outer")
    total = None
    for i in range(len(contribs)):
        term = F.coalesce(F.col(f"rrf_{i}"), F.lit(0.0))
        total = term if total is None else total + term
    return (
        fused.select(id_col, F.round(total, 6).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def euclidean_sq(a, b) -> F.Column:
    """Σ (aᵢ−bᵢ)² with double accumulation in element order."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def centroid_literal(emb: DataFrame, n_centroids: int = 8) -> F.Column:
    """Collect the centroid set (a MODEL PARAMETER — ``n_centroids``
    rows by construction, like KMeans.fit cluster centers) into an
    array-of-structs literal usable in per-row expressions.

    The ``vec_id < n`` filter pushes into the parquet scan, so this is
    a tiny driver action, not a data collect. A seed row with a NULL
    embedding is skipped (no centroid for its vec_id).
    """
    rows = (
        emb.filter((F.col("vec_id") < n_centroids) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect()
    )
    return F.array(
        *[
            F.struct(
                F.lit(int(r.vec_id)).alias("centroid_id"),
                # float32 → exact double literals, identical to an
                # in-engine cast('double') of the stored floats
                F.array(*[F.lit(float(x)) for x in r.embedding]).alias("c_emb"),
            )
            for r in sorted(rows, key=lambda r: r.vec_id)
        ]
    )


def ivf_probe(q: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF probe: the ids of the 2 centroids (nprobe = 2) nearest the
    1-row query frame ``q`` (q_embedding), as a lazy frame of
    centroid_id. ``cents`` is the codebook (centroid_id, c_emb); it is
    broadcast. Distances are rounded to 6 dp and ties break on
    centroid_id, the oracle's ``row_number`` order. A caller reading a
    centroid-partitioned index collects the ids into literals, so its
    bucket filter prunes index partitions at plan time."""
    return (
        q.crossJoin(F.broadcast(cents))
        .select(
            "centroid_id",
            F.round(F.sqrt(euclidean_sq("q_embedding", "c_emb")), 6).alias("qdist"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("qdist").asc(), F.col("centroid_id").asc())
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("centroid_id")
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 8) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (here: the first ``n_centroids`` stored vectors as fixed,
    deterministic seeds — production would use KMeans.fit, same
    assignment plan).

    ZERO-SHUFFLE assignment: centroids ride along as an array-of-structs
    literal and the argmin is a per-row ``array_min`` over (dist,
    centroid_id) structs — the corpus is scanned once, never exchanged
    (the old crossJoin×centroids + Window.partitionBy(vec_id) shape
    shuffled n_centroids× the corpus). This is the partitioning step
    that makes ANN search sub-linear: queries probe only their
    centroid's bucket. Returns (vec_id, centroid_id, dist) — exact,
    engine-portable. Rows with a NULL embedding are skipped: they get
    no row (and are never a seed).
    """
    return ivf_assign_against(emb, centroid_literal(emb, n_centroids))


def ivf_assign_against(df: DataFrame, cents: F.Column) -> DataFrame:
    """ivf_assign's zero-shuffle argmin against an EXPLICIT codebook
    literal (array of (centroid_id, c_emb) structs) — the shape the
    streaming index refresher needs: each micro-batch is assigned
    against the PERSISTED codebook (model parameters loaded once),
    never re-deriving seeds from the batch, so the assignment is a
    pure per-vector function and the built index is identical under
    any micro-batch slicing. Rows with a NULL embedding are skipped:
    their NULL distance would sort first in ``array_min`` and assign
    them to the first centroid."""
    # struct ordering is lexicographic → min = (lowest dist, then lowest
    # centroid_id): identical tie semantics to the oracle's row_number.
    best = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(
                F.round(F.sqrt(euclidean_sq(F.col("embedding"), c["c_emb"])), 6).alias("dist"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
    )
    return (
        df.filter(F.col("embedding").isNotNull())
        .select("vec_id", best.alias("b"))
        .select(
            "vec_id", F.col("b.centroid_id").alias("centroid_id"), F.col("b.dist").alias("dist")
        )
    )


def brp_lsh_projections(num_hash_tables: int, d: int) -> list[tuple[int, list[float]]]:
    """Deterministic md5-derived projection directions for
    :func:`brp_lsh_ann_pairs`: r[h][i] = (md5_60bit("h:i") / 2^60)·2 − 1,
    uniform in [−1, 1). Both engines recompute the identical doubles —
    Python hashlib here, DuckDB md5() in the oracle — so the whole
    blocking layer is engine-portable (the md5-derived minhash
    principle applied to random projections)."""
    import hashlib
    import math

    rows = []
    for h in range(num_hash_tables):
        rv = []
        for i in range(1, d + 1):
            u = int(hashlib.md5(f"{h}:{i}".encode()).hexdigest()[:15], 16)
            rv.append((u / float(1 << 60)) * 2.0 - 1.0)
        # normalize to UNIT norm — MLlib's BRP-LSH draws randUnitVectors,
        # and bucket granularity scales with ||r||: raw uniform [-1,1)
        # directions (||r|| ~ sqrt(d/3)) measured recall 0.873 and a
        # sqrt(3)-scaled variant 0.677 vs MLlib's >= 0.9; the unit-norm
        # match restores parity. Same left-fold + sqrt + divide
        # op order as the SQL oracle, so the doubles agree bit-for-bit.
        nrm = math.sqrt(sum(x * x for x in rv))
        rows.append((h, [x / nrm for x in rv]))
    return rows


def brp_lsh_ann_pairs(emb: DataFrame, max_distance: float = 1.2) -> DataFrame:
    """Approximate near-neighbour PAIRS via random-projection LSH.

    Returns (vec_id_a, vec_id_b, euclidean_dist) with a < b and
    distance < max_distance. Deterministic. This is the sub-quadratic
    ANN path; the brute-force functions above are its accuracy oracle.

    Three md5-derived unit projection directions (brp_lsh_projections),
    the floor(v·r / bucketLength) bucketing with bucketLength 1.0,
    candidate join on equal (table, bucket), and the exact euclidean
    verify — every stage is SQL-replayable, because the only randomness
    is a hash both engines compute (full oracle since r12). Plan shape:
    explode ×3, equi-join blocking, never all-pairs.

    Rows with a NULL embedding never form a pair; an input with no
    non-NULL embedding returns the empty pair frame, and mixed
    embedding widths raise ``ValueError`` (see
    :func:`functions.vectors.embedding_dim`)."""
    from ..functions.vectors import dot_fixed_sql

    if not emb.filter(F.col("embedding").isNotNull()).head(1):
        return emb.sparkSession.createDataFrame(
            [], "vec_id_a long, vec_id_b long, euclidean_dist double"
        )
    d = embedding_dim(emb)
    pv = values_table(
        emb.sparkSession,
        brp_lsh_projections(3, d),
        "h int, rv array<double>",
    )
    pscal = pv.agg(
        F.sort_array(F.collect_list(F.struct("h", "rv"))).alias("parr")
    )
    # optimization r14 (guide §8 / §2.3): candidates are decided by
    # 16-byte (h, bucket, vec_id) keys, then embeddings are joined
    # back for the verify ONLY on the distinct candidate pairs. The
    # previous shape self-joined the hashed stream WITH the full
    # 64-double array on both sides, so every raw bucket collision
    # (×H tables) shuffled two embedding payloads and the pair
    # dedup exchanged them again — the §8 antipattern (heavy rows
    # moving to make a decision only keys participate in). The
    # candidate join stays a JOIN (not minhash's collect_set pair
    # expansion: a degenerate bucketing — observed at sf0.1, 2
    # buckets/table of ~1000 members — would materialize million-
    # struct arrays per bucket row, measured 22 s; a join streams
    # the same pairs and AQE skew-join can split oversized bucket
    # partitions). The dot / distance folds are fixed-width
    # unrolled (codegen) instead of interpreted HOFs —
    # bit-identical values (same element-order fold, same 0.0
    # seed). Measured 12.6 s → 2.9 s at sf0.1.
    ve = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # one SQL-text expression instead of a Column-API lambda
    # (optimization r14, second segment): the unrolled d-term dot
    # built per-element through py4j cost ~2 s of plan-BUILD time
    # per dispatch; the equivalent SQL text parses JVM-side into
    # the identical tree (same fold order — collect()-equal).
    hashed = (
        ve.crossJoin(F.broadcast(pscal))
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    "transform(parr, s -> struct(s.h as h, "
                    f"cast(floor(({dot_fixed_sql('e', 's.rv', d)}) / "
                    "cast('1.0' as double)) "
                    "as bigint) as bucket))"
                )
            ).alias("hb"),
        )
        .select(
            "vec_id",
            F.col("hb.h").alias("h"),
            F.col("hb.bucket").alias("bucket"),
        )
    )
    # Pin the candidate-join width (the semdedup pinning rationale):
    # the hashed stream is a few KB, so AQE's byte-based coalescing
    # ran the bucket self-join — whose OUTPUT is the ~per-bucket-
    # quadratic candidate stream — on ONE post-shuffle partition
    # (measured: a single task emitting the full match volume at
    # sf0.1). An explicit-width repartition on the join key is
    # exempt from coalescing; both aliases share the one exchange.
    hashed = hashed.repartition(shuffle_width(emb.sparkSession), "h", "bucket")
    cand = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id_a"),
            F.col("y.vec_id").alias("vec_id_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    ea = ve.select(F.col("vec_id").alias("vec_id_a"), F.col("e").alias("ea"))
    eb = ve.select(F.col("vec_id").alias("vec_id_b"), F.col("e").alias("eb"))
    # same SQL-text build as `hashed` above (arrays are already
    # double, so no per-element cast — identical fold to the old
    # Column-API loop)
    dist_sq = F.expr(
        "0.0D + "
        + " + ".join(
            f"(ea[{i}] - eb[{i}]) * (ea[{i}] - eb[{i}])" for i in range(d)
        )
    )
    return (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .withColumn("__dist", F.sqrt(dist_sq))
        .filter(F.col("__dist") < F.lit(float(max_distance)))
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(F.col("__dist"), 6).alias("euclidean_dist"),
        )
    )


def label_pca_variance(emb: DataFrame) -> DataFrame:
    """Per-label PCA summary — cluster-compactness signal (collapsed
    embedding groups have explained_ratio → 1) via DETERMINISTIC power
    iteration on the EXACT integer Gram matrix. Full-oracle since r12
    (r11 directive #2): the r11 version ran numpy ``eigvalsh`` inside
    ``applyInPandas`` — a float eigensolve no SQL engine replays — so
    it was rows-only; this redesign makes every step integer-exact and
    order-free, so a DuckDB oracle re-runs the identical computation:

    1. ONE distributed pass accumulates per label the exact sufficient
       statistics: n, S_i = Σx_i (scaled-int64) and the raw second
       moments M_ij = Σx_i·x_j for i ≤ j (decimal(38,0) sums — exact
       and cross-partition order-free, the Gini/decimal house rule).
       State is labels × (d + d(d+1)/2) cells; the corpus is never
       collected.
    2. The driver (Python arbitrary-precision ints) forms the centered
       Gram matrix exactly: μ_i = round-half-away(S_i/n) as integers,
       G_ij = M_ij − μ_i·S_j − μ_j·S_i + n·μ_i·μ_j, then runs 24
       power-iteration sweeps from the all-ones vector with integer
       renormalization (v ← trunc(w·2^20 / max|w|)) — every
       intermediate is an exact integer, so the unrolled-CTE oracle
       (hugeint arithmetic, same trunc-toward-zero division) lands on
       bit-identical vectors.
    3. Outputs per label: n_vectors, total_variance = trace(G)/(n·SCALE²),
       leading_eigenvalue = Rayleigh quotient (vᵀGv)/(vᵀv)/(n·SCALE²)
       — a deterministic LOWER bound of λ₁ that converges as
       (λ₂/λ₁)^24 (accuracy pinned by pytest on a gapped spectrum)
       — and explained_ratio = leading/trace (null when trace = 0).
       The only doubles are the final three divisions, identically
       parenthesized in both engines, rounded HALF_UP at 6dp
       (decimal-replay of SQL round(), the mmr_rerank pattern).

    The width ``d`` comes from :func:`functions.vectors.embedding_dim`:
    NULL embeddings are ignored, an input with no non-NULL embedding
    returns the empty summary, and mixed widths raise ``ValueError``.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from .kmeans import SCALE

    spark = emb.sparkSession
    try:
        d = embedding_dim(emb)
    except ValueError:
        # no non-NULL embedding: the empty summary; mixed widths re-raise
        if emb.filter(F.col("embedding").isNotNull()).head(1):
            raise
        return spark.createDataFrame(
            [],
            "label long, n_vectors long, total_variance double, "
            "leading_eigenvalue double, explained_ratio double",
        )
    xs = emb.select(
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long"),
        ).alias("v"),
    )
    ex_i = xs.select("label", F.posexplode("v").alias("i", "xi"), "v")
    moments = (
        ex_i.select("label", "i", "xi", F.posexplode("v").alias("j", "xj"))
        .filter(F.col("j") >= F.col("i"))
        .groupBy("label", "i", "j")
        .agg(
            F.sum((F.col("xi") * F.col("xj")).cast("decimal(38,0)")).alias("m")
        )
        .collect()
    )
    firsts = (
        ex_i.groupBy("label", "i")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )

    def tdiv(a: int, b: int) -> int:
        """truncate-toward-zero division (DuckDB's // for hugeint)."""
        return a // b if (a >= 0) == (b > 0) else -((-a) // b)

    labels = sorted({r["label"] for r in firsts})
    S: dict[int, list[int]] = {lb: [0] * d for lb in labels}
    N: dict[int, int] = {}
    for r in firsts:
        S[r["label"]][r["i"]] = int(r["s"])
        N[r["label"]] = int(r["n"])
    M: dict[int, dict[tuple[int, int], int]] = {lb: {} for lb in labels}
    for r in moments:
        M[r["label"]][(r["i"], r["j"])] = int(r["m"])

    V_SCALE = 1 << 20
    out_rows = []
    for lb in labels:
        n = N[lb]
        s = S[lb]
        # round-half-away integer mean (exact; both engines' // floors
        # the nonnegative operand identically)
        mu = [
            (2 * si + n) // (2 * n) if si >= 0 else -((-2 * si + n) // (2 * n))
            for si in s
        ]
        G = [[0] * d for _ in range(d)]
        for (i, j), m in M[lb].items():
            gij = m - mu[i] * s[j] - mu[j] * s[i] + n * mu[i] * mu[j]
            G[i][j] = gij
            G[j][i] = gij
        v = [V_SCALE] * d
        for _ in range(24):
            w = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
            aw = max(abs(x) for x in w)
            if aw == 0:
                break
            v = [tdiv(wi * V_SCALE, aw) for wi in w]
        trg = sum(G[i][i] for i in range(d))
        num = sum(v[i] * G[i][j] * v[j] for i in range(d) for j in range(d))
        den = sum(vi * vi for vi in v)
        scale2 = float(n) * float(SCALE) * float(SCALE)
        lam = float(num) / float(den)

        def r6(x: float) -> float:
            return float(
                Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )

        out_rows.append(
            (
                int(lb),
                n,
                r6(float(trg) / scale2),
                r6(lam / scale2),
                r6(lam / float(trg)) if trg != 0 else None,
            )
        )
    return values_table(
        spark,
        out_rows,
        "label long, n_vectors long, total_variance double, "
        "leading_eigenvalue double, explained_ratio double",
    )


def _within_cluster_drop(asg: DataFrame, cids: list[int], dim: int) -> DataFrame:
    """The within-cluster pair drop both SemDeDup variants end with:
    over ``asg`` = (vec_id, embedding, cid), find cosine >= 0.999
    pairs inside each cluster and drop the higher vec_id
    of each pair. Returns (centroid_id, n_kept, n_dropped) for every
    id in ``cids``, empty clusters included."""
    spark = asg.sparkSession
    # Pin the pair-join shuffle width: the within-cluster cosine filter
    # is CPU-bound, not byte-bound, and AQE's byte-based coalescing
    # packs the small shuffle (60k rows ≈ a few MB compressed at ×30
    # test scale) into ONE post-shuffle partition, serializing ~N²/2k
    # cosine evaluations on a single task (measured: 205 s → 23 s at
    # ×30 by pinning; an explicit-width repartition is exempt from AQE
    # coalescing). Both join branches and the sizes aggregate hang off
    # the same exchange, so assignment is computed once (ReusedExchange).
    asg = asg.repartition(shuffle_width(spark), "cid")
    a = asg.select(F.col("cid"), F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = asg.select(F.col("cid"), F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    # fixed-width unrolled cosine (optimization r14): the width is
    # known from the fitted centroids, so the pair filter runs
    # codegen'd instead of as an interpreted HOF fold — bit-identical
    # values (same element-order fold).
    dropped = (
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .filter(cosine_fixed("ea", "eb", dim) >= F.lit(0.999))
        .select("cid", "vb")
        .distinct()
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    model = values_table(spark, [(int(cid),) for cid in cids], "cid int")
    return (
        model.join(sizes, "cid", "left")
        .join(dropped, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("centroid_id"),
            (F.coalesce(F.col("n_total"), F.lit(0)) - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
        .orderBy("centroid_id")
    )


def semdedup_drop(
    emb: DataFrame,
    k: int = 8,
    max_sweeps: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped to TRAINED
    k-means clusters — the production alternative to the label-blocked
    ``embedding_near_dup_drop`` when no natural blocking key exists.
    Fit k centroids (exact fixed-point Lloyd, operators/kmeans.py),
    assign every vector zero-shuffle against the centroid literal,
    then find cosine >= 0.999 pairs WITHIN each cluster and
    drop the higher vec_id of each pair.

    Returns (centroid_id, n_kept, n_dropped) per cluster, every
    cluster present. Rows with a NULL embedding are filtered out on
    entry: they are neither kept nor dropped.

    Scale shape: the only quadratic step is blocked by the trained
    clusters (at 100 TB, k grows with N — SemDeDup uses k ≈ N/100 so
    cluster size stays bounded and the within-cluster join stays
    ~linear); assignment is a codegen'd argmin over a k×d literal with
    no shuffle, and the pair stream collapses to per-cluster counts
    via map-side partial aggregation. Cosine is the element-order
    double fold (functions/vectors.py) — bit-identical to DuckDB's
    list_dot_product, so the threshold cut is engine-stable."""
    from .kmeans import SCALE, _best, _centroid_scalar, kmeans_fit
    from ..sources.readers import spread_small_scan

    spark = emb.sparkSession
    emb = emb.filter(F.col("embedding").isNotNull())
    cents, _ = kmeans_fit(emb, k, max_sweeps)
    # spread before the assignment projection (optimization r14,
    # second segment): the argmin over k centroids is an interpreted
    # HOF per row and the local single-row-group scan is ONE task —
    # the whole assignment ran serially (2.4 s at sf0.1) below the
    # pinned repartition. Round-robin spreading the raw rows first
    # fans it out; on a cluster-width scan this is a no-op.
    emb = spread_small_scan(emb)
    vecs = emb.select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long"),
        ).alias("v"),
    ).crossJoin(F.broadcast(_centroid_scalar(spark, cents)))
    asg = vecs.select(
        "vec_id",
        "embedding",
        _best(F.col("cents_arr"))["cid"].alias("cid"),
    )
    dim = len(cents[0][1]) if cents else 0
    return _within_cluster_drop(asg, [cid for cid, _ in cents], dim)


def semdedup_drop_pruned(
    emb: DataFrame,
    k: int = 64,
    coarse: int | None = None,
    max_sweeps: int = 3,
) -> DataFrame:
    """SemDeDup with the assignment cost PRUNED for k ∝ N (the Abbas
    et al. production regime, k ≈ N/100). ``semdedup_drop`` holds its
    within-cluster pair join linear by growing k with N — but its
    flat argmin over a k-centroid literal then costs O(N·k) = O(N²)
    per pass, and its distributed fit pays that per sweep (measured:
    ×38 wall at ×30 data with k=8→240; fixed k=8 was killed in the
    ×900 pair-join regime). This operator is the faiss-IVF recipe:

    1. FIT ON A SAMPLE — ≤ 32768 vectors chosen
       deterministically (TakeOrdered by the md5-derived
       ``portable_hash60(vec_id)``, so a DuckDB oracle replays the
       sample order bit-for-bit), collected
       once, and clustered in the driver with the same 1e6-scaled
       exact-int Lloyd discipline as operators/kmeans.py (int64
       distance sums, floor-division centroid update, first-min
       argmin — deterministic for a given sample order). Fit cost is
       O(sample·k), INDEPENDENT of N.
    2. TWO-LEVEL CODEBOOK — √k coarse cells, then ⌈k/√k⌉ fine
       centroids per cell (trained on the cell's sample members),
       shipped to executors as a ONE-ROW broadcast scalar (coarse
       array + cell→fine-array map built by createDataFrame +
       collect_list, one Arrow batch): O(1) py4j calls and an O(1)
       expression tree where a k×d literal costs O(k·d) driver
       round-trips to build (measured 14–46 s at k=240, d=64).
    3. PRUNED ASSIGNMENT — one shuffle-free JVM pass per vector
       (the broadcast join moves the codebook, never the vectors):
       argmin over the coarse array, then argmin over only that
       cell's fine array (map lookup): O(N·2√k) comparisons
       instead of O(N·k).
    4. the same within-fine-cluster cosine-pair drop as
       ``semdedup_drop`` — one shuffle keyed on (fine) cid, cluster
       sizes bounded because k grew with N.

    Approximation is confined to BLOCKING (exactly like the exact
    variant's own cross-cluster blindness): a vector near a coarse
    boundary may land apart from its near-duplicate, trading recall —
    never precision, since every reported pair still passes the exact
    cosine test. Identical vectors always co-locate (same argmin).
    Returns (centroid_id, n_kept, n_dropped) per fine centroid. Rows
    with a NULL embedding are filtered out on entry: they are neither
    kept nor dropped.

    Beyond broadcast-sized codebooks (k·d ≳ 10⁸ entries — past the
    executor broadcast budget) the same two-level structure splits
    the fine map across a keyed broadcast-join on the coarse cell and
    an Arrow-batched matmul assignment; the plan shape is unchanged."""
    import math

    from .dedup import portable_hash60
    from .kmeans import SCALE, _best, _centroid_scalar, scaled_vectors

    spark = emb.sparkSession
    emb = emb.filter(F.col("embedding").isNotNull())
    if coarse is None:
        coarse = max(2, int(math.isqrt(k)))
    k_cell = max(1, -(-k // coarse))

    import numpy as np

    sample = (
        scaled_vectors(emb)
        .orderBy(portable_hash60(F.col("vec_id").cast("string")), "vec_id")
        .limit(32768)
        .collect()
    )
    if not sample:
        # no vectors → no codebook to fit; mirror semdedup_drop's
        # empty-input result (0 rows, same schema) instead of letting
        # the 1-D empty ndarray crash the sample fit with an AxisError
        return spark.createDataFrame(
            [], "centroid_id long, n_kept long, n_dropped long"
        )
    pts = np.array([list(r["v"]) for r in sample], dtype=np.int64)

    def dist2(P: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # |p|² + |c|² − 2p·c, all int64 — exact (coords ≤ ~2e6 scaled,
        # so every term ≤ d·4e12 ≪ 2⁶³) and an order of magnitude
        # cheaper than the broadcasted difference
        return (
            (P * P).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (P @ C.T)
        )

    def lloyd(P: "np.ndarray", kk: int) -> "np.ndarray":
        """Exact-int driver Lloyd over ≤ 32768 points: int64-exact
        squared distances, floor-division update, first-min argmin —
        deterministic for a given (hash-ordered) sample order."""
        kk = min(kk, len(P))
        if kk == 0:
            return P[:0]
        step = max(1, len(P) // kk)
        cents = P[[i * step for i in range(kk)]].copy()
        for _ in range(max_sweeps):
            assign = dist2(P, cents).argmin(axis=1)  # first-min ties
            cnts = np.bincount(assign, minlength=kk)
            sums = np.zeros_like(cents)
            np.add.at(sums, assign, P)
            new = np.where(
                cnts[:, None] > 0, sums // np.maximum(cnts, 1)[:, None], cents
            )
            if (new == cents).all():
                break
            cents = new
        return cents

    coarse_cents = lloyd(pts, coarse)
    cell_of = dist2(pts, coarse_cents).argmin(axis=1)

    fine: dict[int, list[tuple[int, list[int]]]] = {}
    next_cid = 0
    for ci in range(len(coarse_cents)):
        members = pts[cell_of == ci]
        cell_cents = lloyd(members, k_cell)
        rows = cell_cents if len(cell_cents) else coarse_cents[ci : ci + 1]
        fine[ci] = [
            (next_cid + j, [int(x) for x in c]) for j, c in enumerate(rows)
        ]
        next_cid += len(rows)

    # Ship the codebook as a ONE-ROW broadcast scalar (the repo's
    # scalar-broadcast pattern), not a literal expression tree: a
    # k×d literal costs O(k·d) py4j round-trips to BUILD (measured:
    # 46 s per-element / 14 s lit-per-centroid at k=240, d=64 — the
    # whole driver-side wall for k ∝ N) while createDataFrame ships
    # the same ints in one Arrow batch and the expression tree stays
    # O(1) nodes (two column references). Assignment math is
    # unchanged: exact int64 dist2, array_min first-min ties.
    fine_rows = [
        (int(ci), int(cid), [int(x) for x in vec])
        for ci in fine
        for cid, vec in fine[ci]
    ]
    cb = values_table(spark, fine_rows, "cell int, cid int, c array<long>")
    fine_scal = cb.groupBy("cell").agg(
        F.sort_array(F.collect_list(F.struct("cid", "c"))).alias("cell_arr")
    ).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("cell", "cell_arr")))
        ).alias("fine_map")
    )
    coarse_scal = _centroid_scalar(spark, list(enumerate(coarse_cents)))

    # spread before the two-level assignment (same rationale as
    # semdedup_drop: the interpreted argmin otherwise runs serially on
    # the one-task local scan; no-op on a cluster-width scan)
    from ..sources.readers import spread_small_scan

    vecs = spread_small_scan(emb).select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long"),
        ).alias("v"),
    ).crossJoin(F.broadcast(fine_scal.crossJoin(coarse_scal)))
    cell_arr = F.element_at(F.col("fine_map"), _best(F.col("cents_arr"))["cid"])
    asg = vecs.select("vec_id", "embedding", _best(cell_arr)["cid"].alias("cid"))
    cids = [cid for ci in fine for cid, _ in fine[ci]]
    return _within_cluster_drop(asg, cids, int(pts.shape[1]))


def mmr_rerank(emb: DataFrame, k: int = 10, r: int = 50) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` of the top-``r`` cosine neighbours
    of vector 0 by score = λ·relevance − (1−λ)·max-similarity-to-
    already-selected with λ = 0.7 — the diversity-aware answer to "top-k cosine returns k near-copies"
    (and the retrieval-time complement of SemDeDup, which removes the
    copies corpus-side).

    Scale shape: candidate generation is the distributed exact
    cosine top-``r`` (TakeOrderedAndProject — the corpus is never
    globally sorted); the greedy selection then runs driver-side over
    the collected r×d candidate block, the same bounded-probe pattern
    as the registry's 1-row query fetch and ≤20-row lineage cut (the
    k-step argmax is inherently sequential — k tiny Spark jobs would
    add k scheduling floors to rerank 50 rows). All similarities are
    rounded to 6 dp before any comparison and ties break
    to the lowest vec_id, so the selection is engine- and run-stable.

    Returns (mmr_rank 1..k, vec_id, relevance, mmr_score) as a
    DataFrame built from the selection."""
    cand_rows = (
        knn_cosine(emb, k=r)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "cos_sim", "embedding")
        .collect()
    )
    cands = [
        (row["vec_id"], row["cos_sim"], [float(x) for x in row["embedding"]])
        for row in cand_rows
    ]
    cands.sort(key=lambda c: (-c[1], c[0]))

    # engine-exact rounding: Spark's round() on double is BigDecimal
    # HALF_UP on the exact binary value — Decimal(float) replicates it
    # bit-for-bit (python's round() is half-even and would diverge on
    # exact .5 ties), which is what lets a SQL oracle replay the greedy
    from decimal import ROUND_HALF_UP, Decimal

    quant = Decimal(1).scaleb(-6)

    def _rnd(x: float) -> float:
        return float(Decimal(x).quantize(quant, rounding=ROUND_HALF_UP))

    def cos(a: list[float], b: list[float]) -> float:
        dp = na = nb = 0.0
        for x, y in zip(a, b):
            dp += x * y
            na += x * x
            nb += y * y
        import math

        return _rnd(dp / math.sqrt(na * nb))

    selected: list[tuple[int, float, float]] = []  # (vec_id, rel, score)
    # running max-similarity-to-selected per remaining candidate
    # (ADVICE r9): each greedy step only needs cos(candidate, the
    # NEWLY selected embedding) folded into the cached max — O(k·r)
    # cosine evaluations instead of recomputing against every chosen
    # embedding at every step (O(k²·r)). max over a set is
    # insertion-order-free, so the cached value is EXACTLY the old
    # max(cos(e, s) for s in chosen) — same selection, bit for bit.
    # No entry = nothing selected yet → 0.0, the empty-set default;
    # once anything is selected every remaining id has a true-max
    # entry (which may be NEGATIVE — cosines live in [-1, 1], so a
    # 0.0 floor would silently inflate diversity penalties of
    # anti-correlated candidates).
    max_sim: dict[int, float] = {}
    remaining = list(cands)
    while remaining and len(selected) < k:
        best = None
        for vid, rel, e in remaining:
            # the score is NOT rounded: rel and max_sim sit on the 1e-6
            # grid, so λ·rel − (1−λ)·max_sim is an exact 7-decimal
            # value — rounding it to 6 digits would hit .5 ties
            # systematically (where engines' rounding modes differ),
            # while the raw double is bit-identical across engines
            score = 0.7 * rel - (1.0 - 0.7) * max_sim.get(vid, 0.0)
            cand_key = (-score, vid)
            if best is None or cand_key < best[0]:
                best = (cand_key, vid, rel, score, e)
        _, vid, rel, score, e = best
        selected.append((vid, rel, score))
        remaining = [c for c in remaining if c[0] != vid]
        for cvid, _, ce in remaining:
            s = cos(ce, e)
            prev = max_sim.get(cvid)
            if prev is None or s > prev:
                max_sim[cvid] = s

    spark = emb.sparkSession
    return spark.createDataFrame(
        [
            (i + 1, int(vid), float(rel), float(score))
            for i, (vid, rel, score) in enumerate(selected)
        ],
        "mmr_rank int, vec_id long, relevance double, mmr_score double",
    )
