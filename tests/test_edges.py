"""Degenerate-input robustness: the dedup/text operators must handle
empty tables, single rows, and sub-n-token documents without crashing
and with semantically correct (empty) outputs — the failure mode that
bites real pipelines on an empty partition or a fresh-day run. The
reference's own edge policy (empty input → conformity 1.0, empty
outputs, flows/pipeline.py:89) is tested in test_pipeline/test_quality;
this extends it to the extension operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_challenge_localiza_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_dedup_ops_on_empty_table(spark):
    empty = _docs(spark, [])
    assert exact_dedup_groups(empty).count() == 0
    assert ngram_jaccard_pairs(empty).count() == 0
    assert minhash_near_dup_pairs(empty).count() == 0
    assert simhash_near_dup_pairs(empty).count() == 0


def test_dedup_ops_on_single_and_short_docs(spark):
    rows = [
        (1, "only", "en", "s", 4),          # 1 token: no 3-gram shingles
        (2, "two words", "en", "s", 9),     # 2 tokens: still none
        (3, "", "en", "s", 0),              # empty text
    ]
    docs = _docs(spark, rows)
    # no shingles anywhere → no pairs, but exact dedup still hashes text
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_near_dup_pairs(docs).count() == 0
    assert exact_dedup_groups(docs).count() == 3
    # simhash tokenizes (not shingles): docs 1 and 2 have signatures;
    # pairs require a shared 16-bit chunk — just assert no crash and
    # a well-formed schema
    out = simhash_near_dup_pairs(docs)
    assert set(out.columns) == {"doc_id_a", "doc_id_b", "hamming"}
    out.count()


def test_identical_docs_found_by_every_near_dup_path(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "en", "s", len(text)),
        (2, text, "en", "s", len(text)),
        (3, "completely different words here nothing shared at all today", "en", "s", 59),
    ]
    docs = _docs(spark, rows)
    for fn, kw in [
        (ngram_jaccard_pairs, {"threshold": 0.9}),
        (minhash_near_dup_pairs, {"threshold": 0.9}),
    ]:
        pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in fn(docs, **kw).collect()}
        assert (1, 2) in pairs, fn.__name__
        assert all(3 not in p for p in pairs), fn.__name__
    ham = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs).collect()
    }
    assert ham.get((1, 2)) == 0
