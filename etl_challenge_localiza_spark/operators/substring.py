"""Substring-level cross-document deduplication (ExactSubstr).

The missing middle layer between doc-level near-dup (operators.dedup:
MinHash/SimHash decide whole documents are similar) and segment-level
boilerplate scrub (textops.boilerplate_segment_scrub: fixed disjoint
chunks): exact detection and removal of REPEATED TOKEN RUNS that cross
document boundaries — the Lee et al. ("Deduplicating Training Data
Makes Language Models Better", ACL 2022) ExactSubstr operator a
pretraining pipeline runs between those two. Their suffix-array
formulation is a single-machine algorithm; the distributed
re-expression below uses overlapping hashed token windows, which finds
exactly the duplicated runs of length >= w (a repeated run of length
L >= w is covered by L - w + 1 repeated windows, which merge back into
the maximal span).

Pipeline (all JVM-side, one corpus parse, one full shuffle):

1. every document yields its overlapping w-token windows with their
   1-based start position, keyed by the md5 hex of the window string
   (DuckDB-mirrorable, so the oracle value-checks every stage — same
   trick as minhash);
2. ONE shuffle partitions the (doc_id, start_pos, window-key) stream
   by window key; window functions over that partition give each
   occurrence its group's distinct-doc count and its rank by
   (doc_id, start_pos) — no self-join, no second corpus pass, and the
   occurrence list for one window key is linear in its frequency (a
   corpus-hot window concentrates in one sort-based window partition,
   which spills rather than blows up — same bound the LSH bucket
   stage carries);
3. occurrences of cross-doc-repeated windows (distinct-doc count >= 2)
   come back per doc and merge into MAXIMAL spans with the classic
   gaps-and-islands pattern: because all windows have equal width w,
   consecutive occurrences s1 < s2 overlap-or-touch iff s2 <= s1 + w,
   so island boundaries are lag-based — one tiny shuffle keyed on
   doc_id over repeated occurrences only (a small fraction of the
   corpus);
4. the scrub variant keeps the FIRST occurrence of each duplicated
   window (the group's (doc_id, start_pos) minimum — Lee et al.'s
   remove-all-but-one semantics), merges only the non-keeper
   occurrences into removal spans, and drops the covered tokens from
   each document's token array with a per-row higher-order filter
   (position-in-any-span test against the doc's collected span list —
   the span list joins back to the corpus keyed on doc_id and is
   candidate-sized, so AQE broadcasts it while small).

At 100 TB: the window stream is ~#tokens rows of (long, long, md5
hex) — the same order and shape as the minhash shingle stream; everything
downstream of the one full shuffle touches only repeated occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..sources.readers import spread_small_scan


def _window_occurrences(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, start_pos, wkey): every overlapping w-token window of
    every document, keyed by md5 hex (a SQL oracle reproduces
    md5(window string) exactly)."""
    keys = F.transform(shingles(tokens("text"), w), F.md5)
    return (
        spread_small_scan(docs)
        .select("doc_id", F.posexplode(keys).alias("pos0", "wkey"))
        .select("doc_id", (F.col("pos0") + 1).alias("start_pos"), "wkey")
    )


def _flagged_occurrences(docs: DataFrame, w: int) -> DataFrame:
    """Window occurrences annotated (per window-key group, one shuffle)
    with ``n_docs`` (distinct documents containing the window) and
    ``rn`` (rank by (doc_id, start_pos) — rn=1 is the canonical
    occurrence Lee-et-al-style scrubbing keeps).

    ``n_docs`` is computed as ``max(dense_rank() over (wkey order by
    doc_id))`` in two window passes over the SAME wkey shuffle, not as
    ``size(collect_set(doc_id))``: collect_set holds the distinct-doc
    set in the aggregate buffer, so a corpus-hot window (boilerplate
    repeated across 10^7+ docs at 100 TB) would pin O(distinct docs)
    memory on one task — the sort-based window operator spills ROWS,
    not aggregate state. dense_rank and unordered max each carry O(1)
    state, the ordered pass shares the (doc_id, start_pos) sort with
    row_number, and no new Exchange is introduced (both windows
    partition by wkey)."""
    occ = _window_occurrences(docs, w)
    grp = Window.partitionBy("wkey")
    order = grp.orderBy("doc_id", "start_pos")
    ranked = occ.select(
        "doc_id",
        "start_pos",
        "wkey",
        F.dense_rank().over(grp.orderBy("doc_id")).alias("doc_rank"),
        F.row_number().over(order).alias("rn"),
    )
    return ranked.select(
        "doc_id",
        "start_pos",
        F.max("doc_rank").over(grp).alias("n_docs"),
        "rn",
    )


def _merge_islands(occ: DataFrame, w: int) -> DataFrame:
    """Merge an occurrence stream (doc_id, start_pos) into maximal
    spans [span_start, span_end] (1-based inclusive token indices):
    equal-width intervals merge iff the next start is <= prev + w."""
    byd = Window.partitionBy("doc_id").orderBy("start_pos")
    prev = F.lag("start_pos").over(byd)
    with_island = occ.select(
        "doc_id",
        "start_pos",
        F.sum(
            F.when(prev.isNull() | (F.col("start_pos") > prev + w), 1).otherwise(0)
        )
        .over(byd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return with_island.groupBy("doc_id", "island").agg(
        F.min("start_pos").cast("long").alias("span_start"),
        (F.max("start_pos") + (w - 1)).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    )


def repeated_substring_spans(docs: DataFrame, w: int = 50) -> DataFrame:
    """Maximal cross-document repeated substrings, per document.

    Returns (doc_id, span_start, span_end, n_windows): every maximal
    token range covered by w-token windows that appear (verbatim) in
    at least one OTHER document. The diagnostic surface of ExactSubstr
    — feed it to auditing/reporting, or use
    :func:`scrub_repeated_substrings` for the corpus rewrite.
    """
    rep = _flagged_occurrences(docs, w).filter(F.col("n_docs") >= 2)
    return _merge_islands(rep.select("doc_id", "start_pos"), w).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "span_start",
        "span_end",
        "n_windows",
    )


def scrub_repeated_substrings(docs: DataFrame, w: int = 50) -> DataFrame:
    """ExactSubstr corpus rewrite: remove all-but-one occurrence of
    every cross-document duplicated w-token run.

    Keeper = the window group's (doc_id, start_pos) minimum; tokens of
    every NON-keeper occurrence of a cross-doc window are dropped and
    the survivors reassembled in order. Returns
    (doc_id, clean_text, n_tokens, n_removed). A doc whose every
    window is canonical (or unique) passes through byte-identical.
    """
    flagged = _flagged_occurrences(docs, w)
    removable = flagged.filter((F.col("n_docs") >= 2) & (F.col("rn") > 1))
    spans = _merge_islands(removable.select("doc_id", "start_pos"), w)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    tok = tokens("text")
    empty = F.array().cast("array<struct<span_start:long,span_end:long>>")
    sp = F.coalesce(F.col("spans"), empty)
    kept = F.filter(
        tok,
        lambda t, i: ~F.exists(
            sp, lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"])
        ),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(tok).cast("long").alias("n_tokens"),
            (F.size(tok) - F.size(kept)).cast("long").alias("n_removed"),
        )
    )
