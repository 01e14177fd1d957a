"""BPE tokenizer training/encoding (operators/bpe.py): a from-scratch
reference implementation, hand-derived merges, and conservation
properties beside the bpe_train_encode oracle."""

from __future__ import annotations

from collections import Counter

from etl_challenge_localiza_spark.operators.bpe import (
    _segment,
    bpe_encode_stats,
    train_bpe_merges,
)


def ref_train(word_counts: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Independent reference trainer: explicit dict-of-lists state,
    recount from scratch each sweep."""
    segmented = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, segs in segmented.items():
            for pair in zip(segs, segs[1:]):
                counts[pair] += word_counts[w]
        if not counts:
            break
        # max count; ties broken by lexicographically smallest pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w, segs in segmented.items():
            out, i = [], 0
            while i < len(segs):
                if i < len(segs) - 1 and segs[i] == a and segs[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(segs[i])
                    i += 1
            segmented[w] = out
    return merges


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider new new",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_training_matches_reference_trainer(spark):
    words: Counter = Counter()
    for t in CORPUS:
        words.update(t.split())
    expected = ref_train(dict(words), 6)
    got = train_bpe_merges(_docs(spark), n_merges=6)
    assert got == expected


def test_first_merges_hand_derived(spark):
    # hand count: ('e','w'), ('n','e'), ('w','e') all appear 8 times
    # (newest x6 + new x2 for the first two; newest x6 + lower/wider x2
    # for 'we'... recount: 'we' in lower? l-o-w-e-r yes, wider? w-i-d-e-r
    # no → 'we': newest 6 + lower 2 = 8). Tiebreak: lexicographically
    # smallest pair wins → ('e','w').
    got = train_bpe_merges(_docs(spark), n_merges=1)
    assert got == [("e", "w")]


def test_segment_greedy_rank_order():
    # rank order matters: with ('a','b') before ('b','c'), 'abc' → ['ab','c']
    assert _segment("abc", {("a", "b"): 0, ("b", "c"): 1}) == ["ab", "c"]
    # reversed priority → ['a','bc']
    assert _segment("abc", {("a", "b"): 1, ("b", "c"): 0}) == ["a", "bc"]
    # all-occurrence left-to-right merge within one step
    assert _segment("abab", {("a", "b"): 0}) == ["ab", "ab"]
    assert _segment("aaa", {("a", "a"): 0}) == ["aa", "a"]


def test_encode_stats_conservation(spark):
    docs = _docs(spark)
    merges = train_bpe_merges(docs, n_merges=6)
    out = {r["doc_id"]: r for r in bpe_encode_stats(docs, merges).collect()}
    for i, t in enumerate(CORPUS):
        words = t.split()
        r = out[i]
        assert r["n_words"] == len(words)
        assert r["n_chars"] == sum(len(w) for w in words)
        # each word is >= 1 token and <= its char count
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        # concatenating segments reproduces each word exactly
        ranks = {p: j for j, p in enumerate(merges)}
        for w in words:
            assert "".join(_segment(w, ranks)) == w
    # merges actually compress: strictly fewer tokens than chars
    assert all(r["n_bpe_tokens"] < r["n_chars"] for r in out.values())
