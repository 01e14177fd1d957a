"""Unit tests for the training-data curation battery
(operators/curation.py): repetition signals, PII scrubbing, and the
composite quality gate."""

from __future__ import annotations

import pytest

from etl_challenge_localiza_spark.operators.curation import (
    pii_scrub,
    plant_pii,
    quality_gate,
    repetition_signals,
)

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_COLS)


def test_repetition_signals_flags_repeated_doc(spark):
    rows = [
        (1, "spam spam spam spam spam", "en", "s", 24),
        (2, "one two three four five six seven eight nine ten", "en", "s", 48),
    ]
    out = {r["doc_id"]: r for r in repetition_signals(_docs(spark, rows)).collect()}
    assert out[1]["repetitive"] is True
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_word_frac"] == pytest.approx(0.8)
    assert out[2]["repetitive"] is False
    assert out[2]["top_word_frac"] == pytest.approx(0.1)
    assert out[2]["dup_word_frac"] == 0.0


def test_pii_scrub_counts_and_redacts(spark):
    text = "reach me at bob.smith+x@corp.example.org or +1-555-1234 host 192.168.0.1 ok"
    df = _docs(spark, [(7, text, "en", "s", len(text))])
    r = pii_scrub(df).first()
    assert r["n_emails"] == 1
    assert r["n_phones"] == 1
    assert r["n_ips"] == 1
    # redaction shortens the text by the pattern/placeholder delta
    assert r["chars_removed"] > 0


def test_pii_scrub_clean_doc_untouched(spark):
    text = "no personal data here at all"
    df = _docs(spark, [(8, text, "en", "s", len(text))])
    r = pii_scrub(df).first()
    assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (0, 0, 0)
    assert r["chars_removed"] == 0


def test_plant_pii_is_deterministic(spark):
    df = _docs(spark, [(42, "base text", "en", "s", 9)])
    a = plant_pii(df).first()["text"]
    b = plant_pii(df).first()["text"]
    assert a == b
    assert "user42@mail.example.com" in a
    assert "+1-555-0042" in a
    assert "10.0.42.7" in a


def test_quality_gate_reason_precedence(spark):
    long_ok = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, "too short", "en", "s", 9),  # < 10 tokens
        (2, " ".join(["abcdefghijklmnop"] * 12), "en", "s", 200),  # huge words
        (3, " ".join(f"w{i}" for i in range(20)), "en", "s", 60),  # no stopwords
        (4, long_ok, "en", "s", len(long_ok)),
    ]
    out = {r["doc_id"]: r for r in quality_gate(_docs(spark, rows)).collect()}
    assert out[1]["reason"] == "too_short" and out[1]["keep"] is False
    # doc 2: word_length fires before repetitive despite the single
    # repeated token (fixed precedence)
    assert out[2]["reason"] == "word_length"
    assert out[3]["reason"] == "low_stopword"
    assert out[4]["reason"] is None and out[4]["keep"] is True


def test_quality_gate_token_bounds(spark):
    many = " ".join(["the cat sat on the mat"] * 1000)  # 6000 tokens
    out = quality_gate(_docs(spark, [(9, many, "en", "s", len(many))])).first()
    assert out["reason"] == "too_long"


# ---------------------------------------------------------------------------
# round 6: model-based quality scoring (hashed-n-gram linear classifier)
# ---------------------------------------------------------------------------


def _py_logit(text, weights, bias=0.125):
    """Independent reimplementation: hashed unigram+bigram mean weight."""
    import hashlib

    toks = [t for t in text.lower().split(" ") if t]
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    if not feats:
        return bias, 0
    s = sum(
        weights[int(hashlib.md5(f.encode()).hexdigest()[:2], 16) % len(weights)]
        for f in feats
    )
    return bias + s / len(feats), len(feats)


def test_hashed_feature_logit_matches_independent_computation(spark):
    from etl_challenge_localiza_spark.operators.curation import (
        default_quality_weights,
        hashed_feature_logit,
    )

    w = default_quality_weights()
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "single"),
        (2, "a a a a a a"),
        (3, "Mixed CASE Tokens  with   double spaces"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in hashed_feature_logit(docs).collect()}
    for did, text in rows:
        want_logit, want_n = _py_logit(text, w)
        assert out[did]["n_feats"] == want_n, did
        # exact equality: dyadic weights → exact sums, one IEEE division
        assert out[did]["logit"] == want_logit, did
        assert out[did]["model_pass"] == (want_logit >= 0.0)


def test_model_quality_gate_precedence(spark):
    """Heuristic reasons take precedence; 'model_score' labels docs
    ONLY the model rejects; keep requires both gates."""
    from etl_challenge_localiza_spark.operators.curation import model_quality_gate

    # doc 0 fails the heuristic (too_short: < 10 tokens); with a
    # uniformly negative weight vector every doc fails the model
    neg_w = [-1.0] * 256
    docs = spark.createDataFrame(
        [
            (0, "tiny doc", "en"),
            (1, "the and of a " * 5 + "one two three four five six seven", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in model_quality_gate(docs, weights=neg_w).collect()}
    assert out[0]["reason"] == "too_short" and not out[0]["keep"]
    assert out[1]["reason"] == "model_score" and not out[1]["keep"]

    # with a uniformly positive vector, doc 1 passes both gates
    pos_w = [1.0] * 256
    out2 = {r["doc_id"]: r for r in model_quality_gate(docs, weights=pos_w).collect()}
    assert out2[1]["reason"] is None and out2[1]["keep"]
    assert out2[0]["reason"] == "too_short"  # heuristic label unchanged


def _py_dsir(rows, d=256, alpha=1.0, target_lang="en"):
    """Independent DSIR reimplementation: smoothed hashed-bucket
    unigram models, 1e-6-scaled integer log-ratio sums."""
    import hashlib
    import math

    def feats(text):
        toks = [t for t in text.lower().split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:2], 16) % d

    nr, nt = [0] * d, [0] * d
    for _did, text, lang in rows:
        for f in feats(text):
            b = bucket(f)
            nr[b] += 1
            if lang == target_lang:
                nt[b] += 1
    tr, tt = float(sum(nr)), float(sum(nt))
    lrs = [
        round(
            (
                math.log((nt[b] + alpha) / (tt + alpha * d))
                - math.log((nr[b] + alpha) / (tr + alpha * d))
            )
            * 1e6
        )
        for b in range(d)
    ]
    out = {}
    for did, text, lang in rows:
        fs = feats(text)
        s = sum(lrs[bucket(f)] for f in fs)
        out[did] = (len(fs), s / 1e6, s >= 0)
    return out


def test_dsir_matches_independent_computation(spark):
    from etl_challenge_localiza_spark.operators.curation import dsir_log_weights

    # target (en) docs share a distinctive vocabulary; the raw corpus
    # mixes in de docs with their own — en-vocab docs must score high.
    rows = [
        (0, "clean careful prose about science and method", "en"),
        (1, "clean careful prose about history and method", "en"),
        (2, "der hund läuft schnell durch den wald heute", "de"),
        (3, "die katze schläft gern in der warmen sonne", "de"),
        (4, "clean careful prose der hund about method", "en"),
        (5, "", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in dsir_log_weights(docs).collect()}
    want = _py_dsir(rows)
    for did, (w_n, w_lw, w_lean) in want.items():
        assert got[did]["n_feats"] == w_n, did
        # scaled-int sums are exact; the only cross-impl risk is the
        # final-ulp of ln() inside the 256 model rows → 1e-6 slack
        assert abs(got[did]["log_weight"] - w_lw) <= 2e-6, did
    # semantic sanity: pure-target docs outrank pure-source docs
    assert got[0]["log_weight"] > got[2]["log_weight"]
    assert got[1]["log_weight"] > got[3]["log_weight"]
    # empty doc scores 0 with 0 features
    assert got[5]["n_feats"] == 0 and got[5]["log_weight"] == 0.0


def test_auc_rank_sum_equals_pairwise_definition(spark, sf0001):
    """The rank-sum AUC must equal the O(n+ * n-) pairwise definition
    (#(score_pos > score_neg) + 0.5 * ties) / (n_pos * n_neg) —
    computed independently on the same docs."""
    from etl_challenge_localiza_spark.operators.curation import (
        hashed_feature_logit,
        quality_gate,
    )
    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    heur = {r["doc_id"]: r["keep"] for r in quality_gate(docs).collect()}
    logit = {r["doc_id"]: r["logit"] for r in hashed_feature_logit(docs).collect()}
    pos = [logit[d] for d, k in heur.items() if k]
    neg = [logit[d] for d, k in heur.items() if not k]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
    out = QUERIES["model_quality_auc"].fn(spark, sf0001).collect()[0]
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert abs(out["auc"] - expected) < 1e-12


def test_reliability_bins_monotone_and_partition(spark, tmp_path):
    import os

    from etl_challenge_localiza_spark.registry import QUERIES

    # reuse real testdata at the smallest SF — the property under test is
    # structural: bins partition the corpus, logit ranges are disjoint
    # and ordered, and pos_rate is the exact n_pos/n ratio.
    rows = QUERIES["model_reliability_bins"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["bin"] for r in rows] == list(range(1, 11))
    assert sum(r["n"] for r in rows) == 500
    for r in rows:
        assert r["min_logit"] <= r["max_logit"]
        assert r["pos_rate"] == r["n_pos"] / r["n"]
    for a, b in zip(rows, rows[1:]):
        assert a["max_logit"] <= b["min_logit"]  # deciles are ordered ranges


def test_temperature_mix_upsamples_tail_languages(spark, tmp_path):
    import os

    from etl_challenge_localiza_spark.registry import QUERIES

    # head language 900 docs, tail language 100 -> alpha=0.7 shrinks the gap
    rows = [(i, "t", "en" if i < 900 else "sw", "s", 10) for i in range(1000)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path)
    docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["lang"]: r for r in QUERIES["temperature_mix_weights"].fn(spark, d).collect()}
    w_en, w_sw = out["en"]["mix_weight"], out["sw"]["mix_weight"]
    assert abs(w_en + w_sw - 1.0) < 1e-6
    # natural share of sw is 0.1; temperature sampling must raise it
    assert w_sw > 0.1 and out["sw"]["upsample_factor"] > 1.0
    assert out["en"]["upsample_factor"] < 1.0
    # alpha=0.7 closed form: w_sw = 100^0.7 / (900^0.7 + 100^0.7)
    expected = 100 ** 0.7 / (900 ** 0.7 + 100 ** 0.7)
    assert abs(w_sw - expected) < 1e-6


def test_curriculum_packs_order_by_quality(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["curriculum_packing"].fn(spark, "/root/testdata/sf0.001").collect()
    assert [r["pack_id"] for r in rows] == list(range(len(rows)))
    # curriculum property: early packs are at least as good on average
    # as late packs (monotone non-increasing mean quality, tiny jitter
    # allowed where a pack boundary splits equal scores)
    means = [r["mean_logit"] for r in rows]
    assert means[0] == max(means)
    assert means[-1] == min(means)
    # packs hold ~4096 chars each except possibly the last
    for r in rows[:-1]:
        assert r["pack_chars"] >= 3500  # greedy fill approximation


def test_split_leakage_audit_safe_is_zero(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    r = QUERIES["split_leakage_audit"].fn(spark, "/root/testdata/sf0.01").first()
    assert r["n_near_dup_pairs"] > 0  # the generator plants duplicates
    assert r["safe_cross_pairs"] == 0  # structural guarantee holds
    # per-doc hashing leaks SOME pairs across splits at this dup rate
    assert 0 <= r["naive_cross_pairs"] <= r["n_near_dup_pairs"]


def test_token_budget_keeps_best_until_boundary(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    r = QUERIES["token_budget_subset"].fn(spark, "/root/testdata/sf0.001").first()
    # budget binds at this SF: a strict subset is kept, and it holds at
    # least the budget (the boundary doc is included)
    assert 0 < r["n_docs_kept"] < r["n_docs_total"]
    assert r["chars_kept"] >= 100_000
    # the cutoff is a real score the kept set achieved
    assert r["quality_cutoff"] is not None


def test_churn_labels_time_split(spark):
    import os
    import tempfile
    from datetime import datetime

    from etl_challenge_localiza_spark.registry import QUERIES

    rows = [
        # user 1: active in both windows -> not churned
        (1, datetime(2024, 1, 2), 1, "purchase", 10.0, "{}"),
        (2, datetime(2024, 1, 25), 1, "view", 0.0, "{}"),
        # user 2: observation only -> churned
        (3, datetime(2024, 1, 3), 2, "view", 0.0, "{}"),
        (4, datetime(2024, 1, 4), 2, "view", 0.0, "{}"),
        # user 3: born in the outcome window -> absent (no features)
        (5, datetime(2024, 1, 28), 3, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = {r["user_id"]: r for r in QUERIES["churn_labels"].fn(spark, d).collect()}
    assert set(out) == {1, 2}
    assert not out[1]["churned"] and out[1]["revenue_obs"] == 10.0
    assert out[2]["churned"] and out[2]["n_events_obs"] == 2
    assert out[2]["active_days_obs"] == 2


def test_implicit_negatives_exclude_seen_interactions(spark):
    from etl_challenge_localiza_spark.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    out = QUERIES["implicit_feedback_negatives"].fn(spark, sf).collect()
    assert 0 < len(out) <= 300  # 100 customers x 3 candidates, minus hits
    # verify against the actual interaction set: no emitted pair was seen
    from etl_challenge_localiza_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, sf, "orders").filter(F.col("o_custkey") < 100)
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    seen = set(
        (r["o_custkey"], r["l_partkey"])
        for r in orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    )
    assert all((r["custkey"], r["neg_partkey"]) not in seen for r in out)
    assert len(out) < 300  # at this SF some candidates WERE seen and dropped


def test_dsir_weights_follow_a_table_rewrite(spark, sf0001, tmp_path):
    """Rewriting the documents table in place and dispatching
    dsir_importance_weights again scores with a model fit on the NEW
    table: both dispatches equal the DuckDB oracle on the file as it
    stands at that moment."""
    import shutil

    import duckdb

    from etl_challenge_localiza_spark.registry import QUERIES
    from tests.oracle_harness import compare

    q = QUERIES["dsir_importance_weights"]
    src = f"{sf0001}/documents.parquet"
    path = tmp_path / "documents.parquet"
    shutil.copy(src, path)

    def problems() -> list[str]:
        con = duckdb.connect()
        con.execute(f"create view documents as select * from '{path}'")
        oracle = con.sql(q.oracle).fetchdf()
        return compare(q.name, q.fn(spark, str(tmp_path)).toPandas(), oracle)

    assert problems() == []
    staged = tmp_path / "rewrite.parquet"
    duckdb.connect().execute(
        f"copy (select * from '{src}' where lang = 'en' or doc_id % 2 = 0) "
        f"to '{staged}' (format parquet)"
    )
    staged.replace(path)
    assert problems() == []


def test_eval_decontaminate_flags_shared_ngram(spark):
    """A corpus doc sharing a 5-gram with the eval set is flagged with
    exact distinct-gram counts; clean and sub-w docs are not."""
    from etl_challenge_localiza_spark.operators.curation import eval_decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains eval 5-gram "quick brown fox jumps over" (and 3 more)
            (1, "here the quick brown fox jumps over a fence today"),
            (2, "completely unrelated text with many distinct words here"),
            (3, "too short"),  # < 5 tokens: zero grams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in eval_decontaminate(corpus, eval_docs).collect()}
    assert set(rows) == {1}
    r = rows[1]
    # doc 1 has 10 tokens -> 6 distinct 5-grams; 4 of them appear in eval
    # ("the quick brown fox jumps", "quick brown fox jumps over" share a
    # span with eval; check exact overlap count computed independently)
    eval_grams = set()
    toks = "the quick brown fox jumps over the lazy dog".split()
    for i in range(len(toks) - 4):
        eval_grams.add(" ".join(toks[i : i + 5]))
    doc_toks = "here the quick brown fox jumps over a fence today".split()
    doc_grams = {" ".join(doc_toks[i : i + 5]) for i in range(len(doc_toks) - 4)}
    assert r["n_grams"] == len(doc_grams)
    assert r["n_contaminated"] == len(doc_grams & eval_grams)
    assert r["contamination_ratio"] == round(
        len(doc_grams & eval_grams) / len(doc_grams), 6
    )


def test_eval_decontaminate_plan_shape(spark):
    """The scale contract: the eval gram set rides a BROADCAST hash
    join (hash built once per task, never per row) and there is no
    sort-merge join — the only corpus-keyed shuffle is the
    hit-altitude groupBy(doc_id)."""
    from etl_challenge_localiza_spark.operators.curation import eval_decontaminate

    eval_docs = spark.createDataFrame([(9, "a b c d e f")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    plan = eval_decontaminate(corpus, eval_docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
