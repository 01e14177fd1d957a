"""Text-analysis operators over the ``documents`` table
(SURVEY.md §2.9: token counting, quality scoring, language-ID,
fingerprinting, rollups).

Each operator is a pure DataFrame plan (no UDFs) so it rides on
whole-stage codegen; the token/shingle helpers live in functions.text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    content_sha256,
    fingerprint,
    lang_marker_hits,
    quality_score,
    stopword_ratio,
    distinct_ratio,
    tokens,
)
from ..sources.readers import spread_small_scan
from .dedup import portable_hash60


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document stats: token count, char length, fingerprint,
    content hash. One codegen'd projection pass."""
    tok = tokens("text")
    return spread_small_scan(docs).select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        fingerprint("text").alias("fingerprint"),
        content_sha256("text").alias("content_sha"),
    )


def lang_source_rollup(docs: DataFrame) -> DataFrame:
    """Corpus rollup by (lang, source): doc counts + char volume.
    The avg is computed as exact-sum/count so it is engine-portable."""
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


def token_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k token frequencies across the corpus.

    explode → hash-aggregate (map-side partial) → TakeOrderedAndProject;
    no global sort. Ties broken by token text for determinism.
    """
    return (
        spread_small_scan(docs).select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def doc_quality(docs: DataFrame) -> DataFrame:
    """Quality-score heuristic per document (length/diversity/stopword
    terms — the classic pre-training quality-filter shape)."""
    tok = tokens("text")
    return spread_small_scan(docs).select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        distinct_ratio(tok).alias("distinct_ratio"),
        stopword_ratio(tok).alias("stopword_ratio"),
        quality_score(tok).alias("quality_score"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Exact TF-IDF with top-k terms per document.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    exact integer counts + a fixed-form double expression → engine-
    portable. ONE explode pass, ONE full-stream shuffle: tf (groupBy
    doc,token) already materializes each distinct (doc, token) once,
    so df = count of tf rows per token — derived from tf's output
    (NDV-sized, map-side combined) instead of a second
    dedup-the-token-stream shuffle over the corpus (round-9 stage
    audit: the old shape re-shuffled the full exploded stream a
    second time just to dedup it). N is a broadcast scalar subquery.

    At 100 TB this is the exact (verification) path; the approximate
    production path is :func:`feature_hashing_tfidf_norms` over the
    same tokens.
    """
    # spread the one-task local scan before the tokenize+explode
    # (optimization r14, second segment — the txn-family rationale:
    # parallelize the per-row parse itself, not the stream after it);
    # the N aggregate below keeps the unspread frame (column-pruned
    # count, no parse)
    tok = spread_small_scan(docs).select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # N rides along as a broadcast 1-row aggregate (cross join) instead
    # of a driver-side .first() — keeps the whole query ONE job.
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    idf = F.log((F.col("__n_docs") + F.lit(1.0)) / (F.col("df").cast("double") + F.lit(1.0))) + F.lit(1.0)
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf").cast("double") * idf, 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the LM-based
    quality filter: score each document by its average Laplace-smoothed
    bigram log-probability under the corpus's own counts.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V);
    lm_score(doc) = round(Σ ln P / n_bigrams, 6).

    All counts are exact integers; the per-doc sum of logs is rounded
    (cross-row accumulation order is engine-dependent). Three hash
    aggregates + two broadcast-ish joins — no UDFs.
    """
    from ..functions.text import shingles, tokens

    tok = tokens("text")
    docs = spread_small_scan(docs)
    bg = docs.select(
        "doc_id", F.explode(shingles(tok, 2)).alias("bigram")
    ).withColumn("w1", F.split("bigram", " ").getItem(0))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    # |V| as a broadcast 1-row aggregate instead of a driver-side
    # .count() pre-action — the whole score is ONE job.
    vocab = (
        docs.select(F.explode(tok).alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("__vocab"))
    )
    lnp = F.log(
        (F.col("n2").cast("double") + F.lit(1.0))
        / (F.col("n1").cast("double") + F.col("__vocab"))
    )
    return (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.sum(lnp) / F.count(F.lit(1)), 6).alias("lm_score"),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language-ID heuristic: count marker hits per
    language, guess = argmax with a fixed priority order on ties
    ('unknown' when no marker hits at all)."""
    tok = tokens("text")
    docs = spread_small_scan(docs)
    df = docs.select("doc_id", "lang", tok.alias("__tok"))
    langs = list(LANG_MARKERS)
    for lg in langs:
        df = df.withColumn(f"hits_{lg}", lang_marker_hits(F.col("__tok"), lg))
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    guess = F.lit("unknown")
    # fixed priority: later langs only win with strictly more hits, so
    # build the CASE from last to first
    for lg in reversed(langs):
        guess = F.when(F.col(f"hits_{lg}") == best, F.lit(lg)).otherwise(guess)
    guess = F.when(best > 0, guess).otherwise(F.lit("unknown"))
    return df.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[F.col(f"hits_{lg}") for lg in langs],
        guess.alias("lang_guess"),
    )


def feature_hashing_tfidf_norms(
    docs: DataFrame, num_features: int = 1024
) -> DataFrame:
    """Feature-hashing TF-IDF norms with an ENGINE-PORTABLE hash:
    fixed-width feature hashing folds term counts into buckets
    (collisions MERGE — no vocabulary shuffle, O(1) executor memory),
    bucket-level df, ln((N+1)/(df+1)) idf, per-doc L2 norm. The bucket
    hash is :func:`~.dedup.portable_hash60` mod ``num_features``, so
    DuckDB replays the whole pipeline bit-for-bit.
    The per-doc square-sum folds in BUCKET ORDER on both engines
    (array_sort + F.aggregate == list(v ORDER BY bucket) + list_sum),
    the cross-engine float-determinism recipe; the only libm call
    (ln) is absorbed by the final 6-dp round, the same pattern as the
    green pmi/tfidf oracles.

    Scale shape: explode → two hash aggregates (map-side combined) →
    one broadcast scalar join → per-doc fold. All JVM-side — no
    Python crossing, no ML-vector materialization, no IDF.fit job."""
    toked = spread_small_scan(docs).select(
        "doc_id", F.explode(tokens("text")).alias("w")
    )
    bucket = portable_hash60(F.col("w")) % F.lit(int(num_features))
    tf = (
        toked.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfb = tf.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = (
        tf.join(dfb, "bucket")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "bucket",
            (
                F.col("tf").cast("double")
                * F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("v"),
        )
    )
    norms = v.groupBy("doc_id").agg(
        F.round(
            F.sqrt(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bucket", "v"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["v"] * s["v"],
                )
            ),
            6,
        ).alias("tfidf_l2_norm")
    )
    return (
        docs.select("doc_id")
        .join(norms, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tfidf_l2_norm", F.lit(0.0)).alias("tfidf_l2_norm"),
        )
    )


def boilerplate_segment_scrub(
    docs: DataFrame, width: int = 8, max_df: int = 10
) -> DataFrame:
    """Corpus-level boilerplate removal — the Common-Crawl curation
    step: chop each document into NON-OVERLAPPING ``width``-token
    segments, count each segment's document frequency across the
    corpus, drop segments appearing in more than ``max_df`` documents
    (navigation chrome, license banners, templated headers), and
    reassemble the surviving text IN ORDER.

    Scale shape: one explode of the segment stream, one hash aggregate
    for df, one anti join (hot side is small by Zipf — no hint, AQE
    decides), and an order-preserving reassembly via
    collect_list(struct(pos, seg)) + array_sort — per-doc state only,
    no window. The df aggregate is the same sub-quadratic pattern the
    jaccard/minhash family uses.
    """
    t = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        "toks",
        F.when(F.size("toks") > 0, F.ceil(F.size("toks") / F.lit(width)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_segments"),
    )
    segs = F.when(
        F.col("n_segments") > 0,
        F.transform(
            F.sequence(F.lit(0), (F.col("n_segments") - 1).cast("int")),
            lambda i: F.array_join(F.slice("toks", i * width + 1, width), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = t.select(
        "doc_id", F.posexplode(segs).alias("pos", "seg")
    )
    dfc = chunks.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("seg_df")
    )
    kept = chunks.join(dfc.filter(F.col("seg_df") > max_df), "seg", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        t.select("doc_id", "n_segments")
        .join(reassembled, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_segments",
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Okapi, idf = ln((N-df+0.5)/
    (df+0.5)+1)) for one query over the corpus — the scoring layer the
    inverted-index build feeds. Returns the top-``k`` (doc_id, bm25).

    Plan shape: the exploded token stream is filtered to the query
    terms BEFORE the (doc, term) aggregation — per-term work is
    |query| wide, not |vocab|; corpus stats (N, avgdl) and per-term df
    are tiny aggregates broadcast back (scalar-broadcast pattern);
    the per-doc sum is rounded before ranking (engine-portability
    rule for float reductions) with a doc_id tiebreak, and the top-k
    is TakeOrderedAndProject — no global sort."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    dl = toks.select("doc_id", F.size("tk").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    wc = (
        toks.select("doc_id", F.explode("tk").alias("w"))
        .filter(F.col("w").isin(*terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = wc.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    part = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    return (
        wc.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), round_digits).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 30) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information (Church & Hanks 1990): PMI(a,b) = ln(P(a,b) /
    (P(a)·P(b))) with probabilities from EXACT corpus counts — bigram
    mass over the bigram total, unigram mass over the token total.
    The collocation-extraction layer a phrase-mining / vocab-building
    pipeline runs on top of bpe_top_merges' raw pair counts.

    One scan, one keyed shuffle: unigram and bigram occurrences are
    emitted as ONE unified exploded stream ((w, NULL) for unigrams,
    (w1, w2) for bigrams) so a single map-side-combined hash aggregate
    counts both at once. The marginal joins and totals run over the
    aggregated (vocab + bigram-type)-sized table only — the identical
    shuffle subtree below them is deduplicated by ReuseExchange, so
    the corpus is scanned and partially aggregated once. The two
    scalar totals broadcast (scalar-broadcast pattern). At 100 TB
    nothing but (pair, count) partials ever shuffles; the final PMI is
    one double expression over exact int64 counts, rounded to 6 dp for
    cross-engine hash stability, ranked by TakeOrderedAndProject with
    a total (pmi, w1, w2) tiebreak.
    """
    tok = tokens("text")
    unis = F.transform(
        tok,
        lambda w: F.struct(w.alias("w1"), F.lit(None).cast("string").alias("w2")),
    )
    n_pairs = F.greatest(F.size(tok) - F.lit(1), F.lit(0))
    zipped = F.arrays_zip(F.slice(tok, 1, n_pairs), F.slice(tok, 2, n_pairs))
    bis = F.transform(
        zipped, lambda s: F.struct(s["0"].alias("w1"), s["1"].alias("w2"))
    )
    counts = (
        spread_small_scan(docs)
        .select(F.explode(F.concat(unis, bis)).alias("s"))
        .select("s.w1", "s.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    uc = counts.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("w"), F.col("c").alias("cw")
    )
    bc = counts.filter(
        F.col("w2").isNotNull() & (F.col("c") >= min_count)
    ).select("w1", "w2", F.col("c").alias("c_ab"))
    totals = counts.agg(
        F.sum(F.when(F.col("w2").isNull(), F.col("c")).otherwise(0))
        .cast("long")
        .alias("t_total"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("c")).otherwise(0))
        .cast("long")
        .alias("b_total"),
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("t_total").cast("double"))
            * F.col("t_total").cast("double")
            / (
                (F.col("b_total").cast("double") * F.col("c1").cast("double"))
                * F.col("c2").cast("double")
            )
        ),
        6,
    )
    return (
        bc.join(
            uc.select(F.col("w").alias("w1"), F.col("cw").alias("c1")), "w1"
        )
        .join(uc.select(F.col("w").alias("w2"), F.col("cw").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )
