"""Byte-pair-encoding tokenizer: distributed TRAINING (the iterative
re-segmentation loop `bpe_top_merges` is iteration 1 of) and corpus
ENCODING with a learned merge list.

Not in the reference (its text surface stops at string cleaning,
flows/pipeline.py:68-101); this is the standard LLM-pipeline tokenizer
op (Sennrich et al. 2016; the GPT-2 merge algorithm).

Scale design:

- Training state is the merge list — n_merges (pair, pair) rows on the
  driver, independent of data size. Everything data-sized stays
  distributed: the (distinct word, count) vocabulary is built with ONE
  shuffle and localCheckpoint'd (re-read per sweep without lineage
  replay, the components-loop discipline), and each sweep is one
  Arrow-batched pass emitting per-task (pair, weighted-count) partials
  that collapse in a map-side-combined aggregate; only the single
  argmax row reaches the driver per sweep.
- Encoding caches segmentations per DISTINCT word within each Arrow
  batch (Zipf: a few thousand distinct words cover most tokens), so
  the per-row Python cost is a dict lookup, not a merge loop.
- The merge loop itself is the textbook greedy algorithm: repeatedly
  merge ALL left-to-right occurrences of the lowest-rank adjacent
  pair present in the word. Pure function of (word, merges) — results
  are partitioning-independent.

BPE is iterative, yet a fit of fixed length is SQL-replayable: the
``bpe_train_encode`` registry query's DuckDB oracle chains one CTE
per exact-greedy sweep (registry ``_bpe_sweep``). tests/test_bpe.py
adds a from-scratch reference trainer, hand-derived merges, and
conservation properties.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE segmentation: start from characters, repeatedly merge
    every left-to-right occurrence of the present pair with the lowest
    merge rank."""
    segs = list(word)
    while len(segs) >= 2:
        best_rank = None
        best_pair = None
        for a, b in zip(segs, segs[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(segs):
            if i < len(segs) - 1 and segs[i] == a and segs[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(segs[i])
                i += 1
        segs = out
    return segs


def _word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) vocabulary — the one data-sized shuffle of training."""
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def train_bpe_merges(docs: DataFrame, n_merges: int = 8) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges from the corpus: EXACT greedy
    BPE (Sennrich et al. 2016). Each sweep re-segments the distributed
    vocabulary under the merges so far, counts adjacent symbol pairs
    weighted by word frequency, and accepts the single top candidate
    (count desc, pair asc — a total tiebreak, so training is
    deterministic for any partitioning); it stops early once no pair
    occurs at least twice.
    """
    vocab = _word_counts(docs).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        ranks = {p: i for i, p in enumerate(merges)}

        def count_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                acc: dict[tuple[str, str], int] = {}
                for w, n in zip(pdf["w"], pdf["n"]):
                    segs = _segment(w, ranks)
                    for pair in zip(segs, segs[1:]):
                        acc[pair] = acc.get(pair, 0) + int(n)
                yield pd.DataFrame(
                    {
                        "a": [p[0] for p in acc],
                        "b": [p[1] for p in acc],
                        "n": list(acc.values()),
                    }
                )

        top = (
            vocab.mapInPandas(count_pairs, schema="a string, b string, n long")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        merges.append((top[0]["a"], top[0]["b"]))
    return merges


def bpe_encode_stats(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode every document with the learned merges; emit per-doc
    (n_words, n_chars, n_bpe_tokens, compression = chars per BPE
    token, rounded). One Arrow crossing; per-batch distinct-word
    segmentation cache. The integer counts come out of the UDF; the
    ``compression`` ratio is a JVM-side ``F.round`` expression
    (HALF_UP of the exact binary value — the engine-portable rounding;
    Python's ``round`` is half-even and diverges from SQL engines)."""
    ranks = {p: i for i, p in enumerate(merges)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "n_words": [], "n_chars": [],
                "n_bpe_tokens": [],
            }
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in (text or "").lower().split(" ") if w]
                n_chars = sum(len(w) for w in words)
                n_bpe = 0
                for w in words:
                    got = cache.get(w)
                    if got is None:
                        got = len(_segment(w, ranks))
                        cache[w] = got
                    n_bpe += got
                out["doc_id"].append(did)
                out["n_words"].append(len(words))
                out["n_chars"].append(n_chars)
                out["n_bpe_tokens"].append(n_bpe)
            yield pd.DataFrame(out)

    from ..sources.readers import spread_small_scan

    counts = spread_small_scan(docs.select("doc_id", "text")).mapInPandas(
        run,
        schema="doc_id long, n_words long, n_chars long, n_bpe_tokens long",
    )
    return counts.withColumn(
        "compression",
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
            ),
        ),
    )
