"""Round-15 optimization tests: the three ADVICE-r14 fixes.

- attribution '(direct)' group guaranteed even when every conversion
  has a credited touch (medium — all three lanes diverged from their
  oracles' unconditional UNION ALL branch on such data);
- prefix-filter threshold arithmetic exact for non-dyadic thresholds
  (low — the double ceil/multiply forms could prune a boundary pair);
- values_table renders empty arrays with an explicit element type
  (low — bare array() typed array<string> and the analysis error
  escaped the createDataFrame fallback).
"""

from __future__ import annotations

import itertools

import pytest


def test_attribution_direct_row_always_present(spark):
    """ADVICE r14 (medium): when every conversion has at least one
    credited touch, the oracles' ungrouped UNION ALL branch still
    emits ('(direct)', 0, 0, NULL); the grouped Spark form must too."""
    from etl_challenge_localiza_spark.registry import (
        _attribution_channel_totals,
    )

    conv = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "conv_id long, value double"
    )
    credit = spark.createDataFrame(
        [("click", 1, 10.0), ("view", 2, 20.0)],
        "channel string, conv_id long, credit double",
    )
    rows = {r["channel"]: r for r in _attribution_channel_totals(conv, credit).collect()}
    assert "(direct)" in rows, "direct bucket must exist even with no untouched conversions"
    d = rows["(direct)"]
    assert (d["n_conversions"], d["n_touches"], d["credit_total"]) == (0, 0, None)
    # and with an untouched conversion the numbers are unchanged vs the
    # old form: conv 3 has no credit rows -> value flows to '(direct)'
    conv2 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 7.5)], "conv_id long, value double"
    )
    rows2 = {
        r["channel"]: r for r in _attribution_channel_totals(conv2, credit).collect()
    }
    d2 = rows2["(direct)"]
    assert (d2["n_conversions"], d2["n_touches"], d2["credit_total"]) == (1, 0, 7.5)
    assert rows2["click"]["credit_total"] == 10.0
    assert rows2["view"]["n_conversions"] == 1


@pytest.mark.parametrize("t", [0.3, 0.5, 0.7])
def test_prefix_filter_nondyadic_threshold_brute_force(spark, t):
    """ADVICE r14 (low): the length/positional/prefix-length filters
    now compare in exact integer (decimal) arithmetic of the
    threshold's dyadic representation — for thresholds where t, t/(1+t)
    are NOT exactly representable (0.3, 0.7) the filter may not prune
    any pair whose exact Jaccard meets the threshold. Brute force is
    the completeness oracle."""
    from etl_challenge_localiza_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i k",
        3: "a b c d e f g h i j",
        4: "z y x w v u t s r q",
        5: "a b c d e q r s t u",
        6: "a b c d e f q r s t",
        7: "m n o p a b c d e f",
    }
    docs = spark.createDataFrame(
        [(i, txt, "en", "s", len(txt)) for i, txt in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def sh(txt):
        toks = txt.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

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


def test_values_table_empty_array_typed(spark, monkeypatch):
    """ADVICE r14 (low): an empty array renders as cast(array() as
    <declared type>) so a VALUES list mixing empty and non-empty
    arrays analyzes with the right element type instead of raising
    outside the fallback's try block."""
    from etl_challenge_localiza_spark.functions.localrel import values_table

    df = values_table(
        spark,
        [(1, [10, 20]), (2, [])],
        "id bigint, v array<bigint>",
    )
    rows = {r["id"]: r["v"] for r in df.collect()}
    assert rows == {1: [10, 20], 2: []}
    assert dict(df.dtypes)["v"] == "array<bigint>"
    # single-row all-empty case: the declared type must still win
    df2 = values_table(spark, [([],)], "v array<double>")
    assert df2.collect()[0]["v"] == []
    assert dict(df2.dtypes)["v"] == "array<double>"

    # nested empty arrays render through VALUES too (no createDataFrame
    # fallback), with ANSI on and off
    def no_fallback(*args, **kwargs):
        raise AssertionError("values_table fell back to createDataFrame")

    monkeypatch.setattr(spark, "createDataFrame", no_fallback)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for vals in ([[[1]], []], [[]], [[[]]]):
                df3 = values_table(
                    spark, list(enumerate(vals)), "id bigint, v array<array<bigint>>"
                )
                assert dict(df3.dtypes)["v"] == "array<array<bigint>>"
                assert sorted((r["id"], r["v"]) for r in df3.collect()) == list(enumerate(vals))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
