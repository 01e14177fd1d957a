"""Unit tests for content dedup operators (SURVEY.md §2.9)."""

from __future__ import annotations

from etl_challenge_localiza_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash_near_dup_pairs,
)

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different words compose this unrelated document body here now"


def _docs(spark):
    rows = [
        (1, BASE, "en", "s0", len(BASE)),
        (2, BASE, "en", "s0", len(BASE)),   # exact dup of 1
        (3, NEAR, "en", "s0", len(NEAR)),   # near dup of 1
        (4, OTHER, "en", "s0", len(OTHER)),
    ]
    return spark.createDataFrame(rows, DOC_COLS)


def test_exact_dedup_groups(spark):
    out = {r["keeper_doc_id"]: r["n_copies"] for r in exact_dedup_groups(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1+2 collapse, keeper is min id
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0          # identical
    assert 0.5 < pairs[(1, 3)] < 1.0     # one word changed
    assert (1, 4) not in pairs           # unrelated


def test_minhash_near_dup(spark):
    # 8 bands × 2 rows: a pair with jaccard j is a candidate with
    # probability 1 − (1 − j²)^8 — about 96% at j ≈ 0.57 (docs 1/3) and
    # 97% at j = 0.6 (the 40 planted pairs below, one word changed in
    # 14). Any single near pair can miss; the fixture's own 1/3 pair
    # does under the md5 hash family (6 of 16 signature components
    # match, none of the 2-row bands). So recall is asserted over all
    # 41 near pairs, against a floor set well below the theory.
    rows = list(_docs(spark).collect())
    near = {(1, 3)}
    for p in range(40):
        words = [f"w{p}x{k}" for k in range(14)]
        a, b = 100 + 2 * p, 101 + 2 * p
        rows.append((a, " ".join(words), "en", "s0", 0))
        words[7] = f"v{p}"
        rows.append((b, " ".join(words), "en", "s0", 0))
        near.add((a, b))
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            spark.createDataFrame(rows, DOC_COLS),
            num_hashes=16,
            bands=8,
            threshold=0.2,
        ).collect()
    }
    # identical docs always collide in every band; verified jaccard exact
    assert pairs.pop((1, 2)) == 1.0
    assert set(pairs) <= near  # unrelated docs (e.g. 1/4) never pair
    assert all(0.5 < j < 1.0 for j in pairs.values())
    assert len(pairs) / len(near) >= 0.85


def test_simhash_near_dup(spark):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text → identical simhash
    assert (1, 4) not in pairs or pairs[(1, 4)] > 10


def test_containment_catches_quote_jaccard_misses(spark):
    from etl_challenge_localiza_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    # doc 1: a short notice; doc 2: a long article quoting it verbatim
    short = "the court ruled today that the merger may proceed as planned"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    rows = [
        (1, short, "en", "s", len(short)),
        (2, filler + " " + short, "en", "s", 0),
        (3, "completely unrelated text about gardens and soil", "en", "s", 0),
    ]
    docs = spark.createDataFrame(rows, DOC_COLS)
    jacc = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    cont = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    # every shingle of doc 1 appears in doc 2 -> containment 1.0
    assert cont == {(1, 2): 1.0}
    # but jaccard is diluted by doc 2's length — far below any dedup cut
    assert jacc[(1, 2)] < 0.1


def test_normalized_dedup_folds_accents_case_whitespace(spark):
    import os
    import tempfile

    from etl_challenge_localiza_spark.registry import QUERIES

    rows = [
        (1, "Café  au\tlait ", "fr", "s", 0),
        (2, "cafe au lait", "fr", "s", 0),    # same after folding
        (3, "café au laits", "fr", "s", 0),   # different content
    ]
    docs = spark.createDataFrame(rows, DOC_COLS)
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["keeper_doc_id"]: r["n_copies"]
               for r in QUERIES["normalized_dedup_docs"].fn(spark, d).collect()}
    assert out == {1: 2, 3: 1}  # 1 and 2 collapse; byte-dedup would not


def test_dup_rate_report_histogram(spark):
    import os
    import tempfile

    from etl_challenge_localiza_spark.registry import QUERIES

    # 4 unique docs, one duplicated x3, one x2 -> clusters {1:2, 2:1, 3:1}
    rows = [
        (1, "aaa", "en", "s", 0), (2, "aaa", "en", "s", 0), (3, "aaa", "en", "s", 0),
        (4, "bbb", "en", "s", 0), (5, "bbb", "en", "s", 0),
        (6, "ccc", "en", "s", 0), (7, "ddd", "en", "s", 0),
    ]
    docs = spark.createDataFrame(rows, DOC_COLS)
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["cluster_size"]: r for r in QUERIES["dup_rate_report"].fn(spark, d).collect()}
    assert {k: v["n_clusters"] for k, v in out.items()} == {1: 2, 2: 1, 3: 1}
    assert out[3]["n_docs_in_size"] == 3
    assert out[1]["n_dropped_corpus"] == 3  # 7 docs - 4 clusters
    assert out[1]["dup_rate_corpus"] == 1 - 4 / 7  # unrounded exact IEEE


def test_prefix_filter_matches_brute_force(spark):
    """prefix_filter_jaccard_pairs == brute-force all-pairs jaccard on
    a synthetic corpus with near-dups, partial overlaps, and disjoint
    docs — completeness of the prefix filter (no pair with J >= t may
    be lost to candidate pruning) and exactness of the verify."""
    import itertools

    from etl_challenge_localiza_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i k",   # near-dup of 1
        3: "a b c d e f g h i j",   # exact dup of 1
        4: "z y x w v u t s r q",   # disjoint
        5: "a b c d e q r s t u",   # partial overlap
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    t = 0.5

    def sh(txt):
        toks = txt.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        A, B = sh(texts[a]), sh(texts[b])
        j = len(A & B) / len(A | B)
        if j >= t:
            want[(a, b)] = j
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, n=3, threshold=t).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_prefix_filter_candidate_budget_guard(spark):
    """VERDICT r11 #4: the exact no-knob lane must REFUSE loudly when
    the prefix self-join would explode — a skewed corpus (every doc
    shares the same hot shingles, so every prefix lands in the same
    buckets) trips the guard, while the same corpus passes with the
    default budget unchanged in output."""
    import pytest as _pytest

    from etl_challenge_localiza_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    # 40 docs over the SAME token stream with tiny unique tails:
    # every doc's rarest-first prefix still contains hot shingles
    # (the sets are mostly hot), so candidate volume ~ C(40,2).
    base = "a b c d e f g h i j k l"
    docs = spark.createDataFrame(
        [(i, f"{base} t{i} u{i}", "en", "s", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with _pytest.raises(ValueError, match="candidate volume"):
        prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5, candidate_budget=100)
    # in-budget: guard on (default budget) == guard off, row for row
    on = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    off = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            docs, n=3, threshold=0.5, candidate_budget=None
        ).collect()
    }
    assert on == off and len(on) > 0


def test_portable_hash60_matches_duckdb(spark):
    """The one engine-portable 60-bit hash, value for value against the
    DuckDB form the oracles replay: empty, non-ASCII and salted inputs
    agree with ``cast(concat('0x', substr(md5(concat(salt, v)), 1, 15))
    as bigint)``. NULL hashes to NULL, as it does with DuckDB's
    NULL-propagating ``||``; DuckDB's ``concat`` skips NULL arguments,
    so the concat form would hash a NULL as the bare salt."""
    import duckdb
    from pyspark.sql import functions as F

    vals = ["", "a", "naïve café 東京", "42", None]
    salts = ["", "levsample:", "3:"]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, v string")
    got = {
        (r["i"], salt): r[f"h{j}"]
        for r in df.select(
            "i", *[portable_hash60(F.col("v"), s).alias(f"h{j}") for j, s in enumerate(salts)]
        ).collect()
        for j, salt in enumerate(salts)
    }
    assert len(got) == len(vals) * len(salts)
    con = duckdb.connect()
    for (i, salt), h in got.items():
        v = vals[i]
        want = con.execute(
            "select cast('0x' || substr(md5(? || ?), 1, 15) as bigint)", [salt, v]
        ).fetchone()[0]
        assert h == want, (salt, v)
        if v is None:
            assert h is None
        else:
            assert 0 <= h < 1 << 60
            assert h == con.execute(
                "select cast(concat('0x', substr(md5(concat(?, ?)), 1, 15)) as bigint)",
                [salt, v],
            ).fetchone()[0], (salt, v)
