"""operators.substring: ExactSubstr (Lee et al. 2022) — cross-doc
repeated-substring spans and keep-first scrubbing, with planted
repeats whose maximal spans are known in closed form."""

from __future__ import annotations

from etl_challenge_localiza_spark.operators.substring import (
    repeated_substring_spans,
    scrub_repeated_substrings,
)

#: a 6-token run planted across docs (w=4 ⇒ 3 windows ⇒ one span of 6)
RUN = "alpha beta gamma delta epsilon zeta"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def _fill(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_planted_cross_doc_run_yields_maximal_span(spark):
    docs = _docs(
        spark,
        [
            f"{_fill(5, 'a')} {RUN} {_fill(5, 'b')}",   # run at tokens 6..11
            f"{RUN} {_fill(10, 'c')}",                  # run at tokens 1..6
            _fill(16, "d"),                             # no repeats
        ],
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in repeated_substring_spans(docs, w=4).collect()
    }
    # a 6-token repeat with w=4 gives 3 overlapping windows per doc,
    # merged into ONE maximal span covering exactly the run
    assert spans == {(0, 6, 11, 3), (1, 1, 6, 3)}


def test_scrub_keeps_first_occurrence_only(spark):
    docs = _docs(
        spark,
        [
            f"{RUN} {_fill(6, 'a')}",    # doc 0: canonical (lowest doc_id)
            f"{_fill(6, 'b')} {RUN}",    # doc 1: duplicate — scrubbed
            _fill(12, "c"),              # untouched
        ],
    )
    out = {r["doc_id"]: r for r in scrub_repeated_substrings(docs, w=4).collect()}
    assert out[0]["clean_text"] == f"{RUN} {_fill(6, 'a')}"  # byte-identical
    assert out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == _fill(6, "b")  # run removed, rest intact
    assert out[1]["n_removed"] == 6
    assert out[2]["n_removed"] == 0
    assert all(r["n_tokens"] == 12 for r in out.values())


def test_within_doc_repeat_is_not_cross_doc(spark):
    # the SAME run twice in one doc, nowhere else: n_docs == 1 for all
    # its windows, so the cross-doc detector must stay silent
    docs = _docs(spark, [f"{RUN} {_fill(4, 'a')} {RUN}", _fill(16, "z")])
    assert repeated_substring_spans(docs, w=4).count() == 0


def test_adjacent_runs_merge_and_short_docs_pass_through(spark):
    # two planted runs back-to-back in doc 1 (tokens 1..12) vs split
    # across docs 0 and 2 — islands must merge the touching windows;
    # a doc shorter than w yields no windows and survives scrubbing
    run2 = "eta theta iota kappa lambda mu"
    docs = _docs(
        spark,
        [
            f"{RUN} {_fill(8, 'a')}",
            f"{RUN} {run2} {_fill(4, 'b')}",
            f"{_fill(8, 'c')} {run2}",
            "tiny doc",  # < w tokens
        ],
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_substring_spans(docs, w=4).collect()
    }
    assert (1, 1, 12) in spans  # the two touching runs merged
    out = {r["doc_id"]: r for r in scrub_repeated_substrings(docs, w=4).collect()}
    assert out[3]["clean_text"] == "tiny doc"
    assert out[3]["n_removed"] == 0
