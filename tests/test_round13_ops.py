"""Round-13 additions: semantic unit tests on constructed fixtures for
the new drift/rank/forecast/chunking/classifier queries (the oracle
harness checks engine parity; these check the MATH against hand-derived
values)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_wasserstein_registry_shape(spark):
    """W1 on the real table: symmetric bounds, zero iff halves equal;
    here just sanity — nonnegative, finite, one row."""
    from etl_challenge_localiza_spark.registry import QUERIES

    r = QUERIES["wasserstein_value_drift"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(r) == 1
    row = r[0]
    assert row["n_early"] > 0 and row["n_late"] > 0
    assert row["w1_distance"] >= 0.0


def test_kendall_tau_hand_case(spark):
    """tau-b hand case driven through the FULL registry function
    (monkeypatched load_table, the levenshtein-test pattern — ADVICE
    r13: an inline re-implementation exercised none of the lane's
    calendar spine, zero-fill, or tie-correction plumbing).

    Orders are constructed so the lane's daily grid comes out as
    x=(1,2,2,4) revenue over m=(1,3,2,2) orders across 4 contiguous
    days, plus a GAP day (day 5 absent, day 6 present) so the spine's
    zero-fill contributes one (x=0, m=0) row:

      final series over 6 grid days: x=(1,2,2,4,0,1), m=(1,3,2,2,0,1)

    Hand enumeration of the 15 pairs: concordant 11, discordant 1
    (day2 vs day4: revenue up, order count down), x-ties {1:2, 2:2}
    → 2 pairs, m-ties {1:2, 2:2} → 2 pairs,
    tau_b = (11-1)/sqrt((15-2)*(15-2)) = 10/13."""
    import etl_challenge_localiza_spark.registry as R

    prices = {
        "2024-01-01": ["1.00"],
        "2024-01-02": ["0.50", "0.75", "0.75"],
        "2024-01-03": ["1.00", "1.00"],
        "2024-01-04": ["2.00", "2.00"],
        # 2024-01-05 is the zero-filled gap day
        "2024-01-06": ["1.00"],
    }
    rows = [(d, p) for d, ps in prices.items() for p in ps]
    orders = spark.createDataFrame(
        rows, "o_orderdate string, o_totalprice string"
    ).select(
        F.to_date("o_orderdate").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    xs = [1.0, 2.0, 2.0, 4.0, 0.0, 1.0]
    ms = [1, 3, 2, 2, 0, 1]
    nc = nd = 0
    for i in range(6):
        for j in range(i + 1, 6):
            p = (xs[i] - xs[j]) * (ms[i] - ms[j])
            if p > 0:
                nc += 1
            elif p < 0:
                nd += 1
    n0, n1, n2 = 15, 2, 2
    assert (nc, nd) == (11, 1)
    tau = round((nc - nd) / math.sqrt((n0 - n1) * (n0 - n2)), 6)
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: orders  # noqa: E731
        got = R.QUERIES["kendall_tau_daily"].fn(spark, "ignored").first()
    finally:
        R.load_table = orig
    assert got["n_days"] == 6
    assert (got["concordant"], got["discordant"]) == (nc, nd)
    assert (got["ties_revenue"], got["ties_count"]) == (n1, n2)
    assert got["tau_b"] == tau


def test_holt_recurrence_two_steps(spark):
    """The exact-integer Holt state after two updates matches the
    hand-walked recurrence (alpha=beta=1/2, round-half-up halving)."""

    def rhu2(v):
        return (v + 1) // 2 if v >= 0 else -((-v + 1) // 2)

    xs = [10_000_000, 12_000_000, 9_000_000, 15_000_000]  # micro-units
    l, b = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        nl = rhu2(x + l + b)
        b = rhu2(nl - l + b)
        l = nl
    # replicate via the same fold the query builds
    arr = [(i, xs[i]) for i in range(4)]
    df = spark.createDataFrame(arr, "i long, m long").agg(
        F.sort_array(F.collect_list(F.struct("i", "m"))).alias("a")
    )

    def srhu2(v):
        return F.when(v >= 0, F.shiftright(v + F.lit(1), 1)).otherwise(
            -F.shiftright(-v + F.lit(1), 1)
        )

    e1 = F.element_at(F.col("a"), 1)["m"]
    e2 = F.element_at(F.col("a"), 2)["m"]
    init = F.struct(e1.alias("l"), (e2 - e1).alias("b"))

    def step(acc, e):
        nl = srhu2(e["m"] + acc["l"] + acc["b"])
        return F.struct(nl.alias("l"), srhu2(nl - acc["l"] + acc["b"]).alias("b"))

    got = df.select(
        F.aggregate(F.slice(F.col("a"), 2, F.size("a") - 1), init, step).alias("s")
    ).first()["s"]
    assert (got["l"], got["b"]) == (l, b)


def test_cdc_chunks_content_anchored(spark):
    """Inserting one word changes only the chunk containing it: the
    other chunks' strings are unchanged (the CDC property fixed-width
    windows lack)."""
    from etl_challenge_localiza_spark.functions.text import tokens

    def chunks_of(text: str) -> list[str]:
        toks = tokens("text")
        n = F.size("toks")
        bp = F.filter(
            F.sequence(F.lit(1), n),
            lambda p: F.substring(F.md5(F.element_at(F.col("toks"), p)), 1, 1)
            == "0",
        )
        inner = F.filter(bp, lambda p: p < n)
        starts = F.concat(F.array(F.lit(1)), F.transform(inner, lambda p: p + 1))
        ends = F.concat(inner, F.array(n))
        ch = F.zip_with(
            starts,
            ends,
            lambda s, e: F.concat_ws(" ", F.slice(F.col("toks"), s, e - s + F.lit(1))),
        )
        df = spark.createDataFrame([(text,)], "text string").select(
            toks.alias("toks")
        )
        return df.select(ch.alias("c")).first()["c"]

    base_words = [f"w{i}" for i in range(200)]
    base = " ".join(base_words)
    mutated = " ".join(base_words[:100] + ["INSERTED"] + base_words[100:])
    c1, c2 = chunks_of(base), chunks_of(mutated)
    assert len(c1) > 3, "fixture should produce several chunks"
    # every base chunk not containing the insertion point survives
    shared = set(c1) & set(c2)
    assert len(shared) >= len(c1) - 2


def test_levenshtein_blocking_recall_complete(spark):
    """A near-identical pair straddling a length-bucket boundary is
    still found (the adjacent-bucket probe), and edit distances agree
    with DuckDB's levenshtein."""
    import duckdb

    a = "x" * 63
    b = "x" * 63 + "yy"  # lev 2; n_chars 63 vs 65 -> buckets 0 vs 1
    docs = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = docs.select(
        "doc_id", "lang", "text", F.floor(F.col("n_chars") / 64).alias("lb")
    )
    left = d.select(
        F.col("doc_id").alias("da"),
        F.col("lang").alias("la"),
        F.col("text").alias("ta"),
        F.col("lb").alias("lba"),
        F.explode(F.array(F.col("lb"), F.col("lb") + 1)).alias("key"),
    )
    cand = left.join(
        d,
        (F.col("key") == F.col("lb"))
        & (F.col("la") == F.col("lang"))
        & (
            (F.col("lba") < F.col("lb"))
            | ((F.col("lba") == F.col("lb")) & (F.col("da") < F.col("doc_id")))
        ),
    )
    lev = F.levenshtein(F.col("ta"), F.col("text"))
    out = cand.filter(lev <= 16).select(lev.alias("d")).collect()
    assert len(out) == 1 and out[0]["d"] == 2
    assert duckdb.sql(f"select levenshtein('{a}', '{b}')").fetchone()[0] == 2


def test_matryoshka_prefix_energy_exact(spark):
    """A vector with all energy in the first 8 dims scores ratio 1.0
    at every tier; a uniform vector scores tier/64."""
    from etl_challenge_localiza_spark.registry import QUERIES

    front = [1.0] * 8 + [0.0] * 56
    flat = [1.0] * 64
    emb = spark.createDataFrame(
        [(1, front, 0), (2, flat, 1)],
        "vec_id long, embedding array<float>, label long",
    )
    import etl_challenge_localiza_spark.registry as R

    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: emb  # noqa: E731
        rows = {
            (r["label"], r["tier"]): r["avg_energy_ratio"]
            for r in QUERIES["matryoshka_energy_tiers"].fn(spark, "ignored").collect()
        }
    finally:
        R.load_table = orig
    assert rows[(0, 8)] == 1.0 and rows[(0, 64)] == 1.0
    assert rows[(1, 8)] == round(8 / 64, 6)
    assert rows[(1, 32)] == round(32 / 64, 6)


def test_kfold_balance(spark, sf0001):
    """Every (lang, fold) count is within 1 of n_lang/5 and folds
    partition each stratum exactly."""
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["kfold_stratified_assign"].fn(spark, sf0001).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["n_docs"])
    for lang, counts in by_lang.items():
        assert max(counts) - min(counts) <= 1, (lang, counts)


def test_nb_classifier_separable_corpus(spark):
    """On a perfectly separable two-language corpus the confusion
    matrix is diagonal."""
    import etl_challenge_localiza_spark.registry as R

    docs = spark.createDataFrame(
        [
            (1, "aaa bbb aaa", "L1", "s", 11),
            (2, "aaa aaa bbb", "L1", "s", 11),
            (3, "ccc ddd ccc", "L2", "s", 11),
            (4, "ddd ccc ccc", "L2", "s", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731
        rows = R.QUERIES["nb_lang_confusion"].fn(spark, "ignored").collect()
    finally:
        R.load_table = orig
    conf = {(r["true_lang"], r["pred_lang"]): r["n_docs"] for r in rows}
    assert conf == {("L1", "L1"): 2, ("L2", "L2"): 2}


def test_lsh_param_plan_properties(spark):
    """p_candidate is monotone in jaccard for fixed banding, hits ~0.5
    at the published crossover threshold, and b=16/r=1 dominates b=1/r=16 at
    low similarity."""
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["lsh_param_plan"].fn(spark, "/root/testdata/sf0.001").collect()
    by_band: dict[int, list] = {}
    for r in rows:
        by_band.setdefault(r["bands"], []).append(r)
    for b, rs in by_band.items():
        rs.sort(key=lambda r: r["jaccard"])
        ps = [r["p_candidate"] for r in rs]
        assert ps == sorted(ps), f"non-monotone at b={b}"
        # at the steepest-rise threshold s=(1/b)^(1/r), the catch
        # probability is exactly 1-(1-1/b)^b (-> 1-1/e for large b)
        thr = rs[0]["crossover_threshold"]
        r_rows = rs[0]["rows_per_band"]
        p_at_thr = 1 - (1 - thr**r_rows) ** b
        assert abs(p_at_thr - (1 - (1 - 1 / b) ** b)) < 1e-4
    lo = {r["bands"]: r["p_candidate"] for r in rows if r["jaccard"] == 0.25}
    assert lo[16] > lo[1]


def test_skipgram_ppmi_planted_collocation(spark):
    """A token pair that ALWAYS co-occurs within the +/-2 window tops a
    pair that co-occurs at chance."""
    import etl_challenge_localiza_spark.registry as R

    rows_fixture = []
    for i in range(20):
        rows_fixture.append((i, f"alpha beta filler{i % 3} gamma", "en", "s", 30))
    docs = spark.createDataFrame(
        rows_fixture, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731
        out = R.QUERIES["skipgram_ppmi_topk"].fn(spark, "ignored").collect()
    finally:
        R.load_table = orig
    assert out, "planted collocations must clear the min-count"
    top = out[0]
    assert {top["token_a"], top["token_b"]} <= {"alpha", "beta", "gamma"}


def test_brier_decomposition_vs_independent(spark, sf0001):
    """The decomposition terms match an independent Python replay of
    the same binned definition (forecast = min-max rescaled logit,
    deciles by (logit, doc_id))."""
    from etl_challenge_localiza_spark.operators.curation import (
        hashed_feature_logit,
        quality_gate,
    )
    from etl_challenge_localiza_spark.registry import QUERIES, load_table

    docs = load_table(spark, sf0001, "documents")
    heur = {r["doc_id"]: r["keep"] for r in quality_gate(docs).collect()}
    logit = {r["doc_id"]: r["logit"] for r in hashed_feature_logit(docs).collect()}
    rows = sorted(logit.items(), key=lambda kv: (kv[1], kv[0]))
    l0, l1 = min(logit.values()), max(logit.values())
    n = len(rows)
    ps, ys, bins = [], [], []
    for pos, (d, lg) in enumerate(rows):
        p = (lg - l0) / (l1 - l0) if l1 > l0 else 0.5
        ps.append(round(p, 9))
        ys.append(1.0 if heur[d] else 0.0)
        # SQL-standard ntile over n rows: first n%10 buckets get one extra
        big, base = n % 10, n // 10
        bins.append(
            pos // (base + 1) + 1
            if pos < big * (base + 1)
            else big + (pos - big * (base + 1)) // base + 1
        )
    brier = sum(round((p - y) ** 2, 9) for p, y in zip(ps, ys)) / n
    obar = sum(ys) / n
    rel = res = 0.0
    for b in set(bins):
        idx = [i for i, bb in enumerate(bins) if bb == b]
        nk = len(idx)
        pbar = sum(ps[i] for i in idx) / nk
        ok = sum(ys[i] for i in idx) / nk
        rel += round(nk * (pbar - ok) ** 2, 9)
        res += round(nk * (ok - obar) ** 2, 9)
    got = QUERIES["brier_decomposition"].fn(spark, sf0001).first()
    assert got["n_docs"] == n
    assert abs(got["brier"] - round(brier, 6)) <= 2e-6
    assert abs(got["reliability"] - round(rel / n, 6)) <= 2e-6
    assert abs(got["resolution"] - round(res / n, 6)) <= 2e-6
    assert got["uncertainty"] == round(obar * (1 - obar), 6)


def test_wilson_ci_properties(spark, sf0001):
    """Wilson bounds bracket the pass rate, stay in [0,1], and match an
    independent closed-form replay."""
    import math

    from etl_challenge_localiza_spark.registry import QUERIES

    for r in QUERIES["gate_pass_wilson_ci"].fn(spark, sf0001).collect():
        n, k = r["n"], r["k"]
        p = k / n
        z2 = 1.96 * 1.96
        half = 1.96 * math.sqrt(p * (1 - p) / n + z2 / 4 / (n * n))
        lo = (p + z2 / 2 / n - half) / (1 + z2 / n)
        hi = (p + z2 / 2 / n + half) / (1 + z2 / n)
        assert 0.0 <= r["wilson_lo"] <= r["pass_rate"] <= r["wilson_hi"] <= 1.0
        assert abs(r["wilson_lo"] - round(lo, 6)) <= 1e-6
        assert abs(r["wilson_hi"] - round(hi, 6)) <= 1e-6


def test_heaps_fit_recovers_planted_exponent(spark):
    """On a corpus built to follow V = 2 * N^0.5 exactly (per source),
    the log-log OLS recovers beta ~ 0.5."""
    import etl_challenge_localiza_spark.registry as R

    rows = []
    did = 0
    for si, n_tok in enumerate([100, 400, 900, 1600, 2500]):
        v = int(2 * n_tok**0.5)
        toks = [f"s{si}w{i % v}" for i in range(n_tok)]
        rows.append((did, " ".join(toks), "en", f"src{si}", len(" ".join(toks))))
        did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731
        got = R.QUERIES["heaps_law_fit"].fn(spark, "ignored").first()
    finally:
        R.load_table = orig
    assert got["n_sources"] == 5
    assert abs(got["beta"] - 0.5) < 0.02
    assert abs(got["k_coef"] - 2.0) < 0.1


def test_ann_recall_bounds_and_exact_arm(spark, sf0001):
    """recall@10 is in [0,1] per probe, and the IVF arm can never beat
    the exact arm (hits <= 10); a probe whose two buckets contain the
    full exact top-10 scores 1.0."""
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["ann_recall_at_k"].fn(spark, sf0001).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_hits"] <= 10
        assert r["recall_at_10"] == round(r["n_hits"] / 10.0, 2)


def test_vocab_growth_monotone_and_consistent(spark, sf0001):
    """Cumulative columns are nondecreasing, the last row equals the
    corpus totals, and vocab_cum never exceeds n_tokens_cum."""
    from etl_challenge_localiza_spark.registry import QUERIES, load_table
    from etl_challenge_localiza_spark.functions.text import tokens as toks_fn

    rows = QUERIES["vocab_growth_curve"].fn(spark, sf0001).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs_cum"] <= b["n_docs_cum"]
        assert a["n_tokens_cum"] <= b["n_tokens_cum"]
        assert a["vocab_cum"] <= b["vocab_cum"]
    last = rows[-1]
    docs = load_table(spark, sf0001, "documents")
    from pyspark.sql import functions as F

    tot = docs.select(F.explode(toks_fn("text")).alias("w")).agg(
        F.count("*").alias("nt"), F.countDistinct("w").alias("v")
    ).first()
    assert last["n_tokens_cum"] == tot["nt"]
    assert last["vocab_cum"] == tot["v"]
    assert all(r["vocab_cum"] <= r["n_tokens_cum"] for r in rows)


def test_levenshtein_budget_refuses_on_skew(spark, monkeypatch):
    """With the escalation ladder disabled, a corpus piling docs into
    one (lang, bucket) past the pair budget refuses loudly, naming the
    measured volume — the refuse tier of the refusal→sample→exact
    ladder."""
    import pytest

    import etl_challenge_localiza_spark.registry as R

    n = 3300  # C(3300,2) ~ 5.44M > 5M budget
    docs = spark.createDataFrame(
        [(i, "zz word", "en", "s", 7) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(R, "_LEV_MAX_ESCALATIONS", 0)
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731
        with pytest.raises(ValueError, match="exceeds budget"):
            R.QUERIES["levenshtein_block_pairs"].fn(spark, "ignored")
    finally:
        R.load_table = orig


def test_levenshtein_escalation_ladder_tiers(spark, monkeypatch, caplog):
    """The three tiers of the budget ladder (VERDICT r13 #3), pinned
    on one fixture family:

    - EXACT: in-budget corpus → sampled_fraction == 1.0 and the exact
      pair set;
    - SAMPLE: over-budget corpus → a deterministic md5-sampled audit
      whose re-measured volume fits the budget, sampled_fraction < 1,
      and every returned pair is a pair of surviving docs (a SUBSET of
      the exact answer — distances still exact);
    - REFUSE: ladder exhausted (escalations=0 pinned in the test
      above; here budget=0 makes even f→0 slices over-budget... a
      0-pair slice always fits, so refusal needs the disabled ladder —
      asserted via max_escalations=0 on the over-budget corpus).

    Each escalation is reported through the registry's logger.
    """
    import logging

    import etl_challenge_localiza_spark.registry as R

    caplog.set_level(logging.WARNING, logger=R.__name__)

    def escalations():
        return [
            r.getMessage()
            for r in caplog.records
            if r.name == R.__name__ and "escalating" in r.getMessage()
        ]

    n = 100
    docs = spark.createDataFrame(
        [(i, "zz word", "en", "s", 7) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731

        # EXACT tier: C(100,2)=4950 <= 5000
        monkeypatch.setattr(R, "_LEV_PAIR_BUDGET", 5_000)
        rows = R.QUERIES["levenshtein_block_pairs"].fn(spark, "ignored").collect()
        assert len(rows) == n * (n - 1) // 2
        assert all(r["sampled_fraction"] == 1.0 for r in rows)
        assert all(r["edit_distance"] == 0 for r in rows)
        assert escalations() == []

        # SAMPLE tier: C(100,2)=4950 > 1000 → one escalation lands a
        # ~0.40 slice (~40 docs → ~800 pairs <= 1000)
        monkeypatch.setattr(R, "_LEV_PAIR_BUDGET", 1_000)
        sampled = R.QUERIES["levenshtein_block_pairs"].fn(spark, "ignored").collect()
        assert 0 < len(sampled) <= 1_000
        logged = escalations()
        assert len(logged) == 1
        assert logged[0].startswith(
            "levenshtein_block_pairs: volume 4950 > budget 1000; "
            "escalating to md5-sampled slice f=0."
        )
        fracs = {r["sampled_fraction"] for r in sampled}
        assert len(fracs) == 1 and 0.0 < next(iter(fracs)) < 1.0
        kept = {r["doc_id_a"] for r in sampled} | {r["doc_id_b"] for r in sampled}
        m = len(kept)
        # the sampled slice is pairwise-complete on the surviving docs
        assert len(sampled) == m * (m - 1) // 2
        # determinism: the md5 slice is a pure function of doc_id
        again = R.QUERIES["levenshtein_block_pairs"].fn(spark, "ignored").collect()
        assert sorted(map(tuple, sampled)) == sorted(map(tuple, again))
    finally:
        R.load_table = orig


def test_lsh_recall_audit_identical_docs_always_caught(spark):
    """Identical docs have identical minhash signatures, so every
    band matches: the j=1.0 bin must show catch_rate 1.0 and
    theory_catch 1.0. A planted moderate-overlap pair lands in a
    lower bin with theory strictly below 1. Driven through the FULL
    registry function (monkeypatched load_table)."""
    import etl_challenge_localiza_spark.registry as R

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    twin = base  # identical -> jaccard 1.0
    # ~2/3 shingle overlap with base: same prefix, divergent tail
    near = "alpha beta gamma delta epsilon zeta omega psi chi phi"
    far = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, base), (1, twin), (2, near), (3, far)],
        "doc_id long, text string",
    )
    orig = R.load_table
    try:
        R.load_table = lambda spark, sf, name: docs  # noqa: E731
        rows = {
            r["bin"]: r
            for r in R.QUERIES["lsh_recall_audit"].fn(spark, "ignored").collect()
        }
    finally:
        R.load_table = orig
    assert 9 in rows, rows
    top = rows[9]
    assert top["n_pairs"] >= 1
    assert top["n_caught"] == top["n_pairs"]
    assert top["catch_rate"] == 1.0
    assert top["theory_catch"] == 1.0
    assert top["bin_lo"] == 0.9
    for r in rows.values():
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert 0.0 <= r["catch_rate"] <= 1.0
        assert 0.0 <= r["theory_catch"] <= 1.0
    lower = [b for b in rows if b < 9]
    for b in lower:
        assert rows[b]["theory_catch"] < 1.0
