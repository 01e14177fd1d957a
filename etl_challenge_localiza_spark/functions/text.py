"""Text-analysis column expressions (SURVEY.md §2.9 extensions).

All expressions are JVM-side built-ins (split / transform / sequence /
md5 / sha2 ...) — no Python UDFs — so they stay inside whole-stage
codegen and scale linearly with input. The token model is deliberately
simple and engine-portable (single-space split, empties dropped) so a
SQL oracle can reproduce it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language marker vocabularies for the n-gram/stopword
#: language-ID heuristic. Deterministic and SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "und", "die", "das"],
    "es": ["el", "los", "una", "que"],
    "fr": ["le", "les", "des", "une"],
    "zh": ["de5", "shi4", "le5", "zai4"],
}

#: stopwords for the quality-score heuristic.
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens with empties removed (array<string>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles: concat_ws(' ', tokens[i:i+n]) for each
    valid start (array<string>, empty when the doc has < n tokens).

    Built as arrays_zip over n length-L shifted slices (L = #shingles),
    so the per-doc work is n O(L) slices + one zip + L cheap concats —
    NOT an O(L) slice per shingle (the per-shingle-slice form is
    quadratic in doc length and ~4x slower measured; it also crashed on
    < n-token docs because sequence(1, 0) descends to a 0 slice start).
    """
    L = F.greatest(F.size(tok) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(tok, k + 1, L) for k in range(n)])
    return F.transform(
        z, lambda s: F.concat_ws(" ", F.array(*[s[str(k)] for k in range(n)]))
    )


def shingle_hashes(tok: Column, n: int = 3) -> Column:
    """Pre-hashed word n-gram shingles (array<long>) — the fast path.

    Hashes each token ONCE (xxhash64), then mixes the n consecutive
    token hashes of each shingle position with one more xxhash64 call,
    so no shingle string is ever materialized: per doc the work is one
    token-hash pass + n O(L) slices + L 3-long mixes, and everything
    downstream (explode/distinct/joins/min-aggs) shuffles 8-byte longs
    instead of ~n-word strings. Set semantics are identical to
    ``shingles()`` up to 64-bit collisions (birthday bound ~1e-9 at 1e5
    distinct shingles; at 1e12 shingles a handful of collisions shift a
    jaccard count by ±1 — noise for near-dup detection). The
    string-shingle path (``shingles``) remains for oracles that must be
    mirrored in portable SQL.
    """
    th = F.transform(tok, lambda t: F.xxhash64(t))
    L = F.greatest(F.size(tok) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(th, k + 1, L) for k in range(n)])
    return F.transform(z, lambda s: F.xxhash64(*[s[str(k)] for k in range(n)]))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: leading 16 hex digits of md5 (engine-portable;
    the rolling-hash role from SURVEY.md §2.9 with a standard hash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c), 1, 16)


def content_sha256(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def stopword_ratio(tok: Column) -> Column:
    """#STOPWORDS tokens / #tokens (0.0 for empty docs). Exact rational
    arithmetic on int counts → identical across engines."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(tok, lambda x: F.array_contains(sw, x)))
    n = F.size(tok)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def distinct_ratio(tok: Column) -> Column:
    n = F.size(tok)
    return F.when(
        n > 0, F.size(F.array_distinct(tok)).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def quality_score(tok: Column) -> Column:
    """Composite quality heuristic in [0,1]:
    0.4·min(1, n_tokens/50) + 0.3·distinct_ratio + 0.3·(1−stopword_ratio).

    Written as one fixed-order expression so Spark and the SQL oracle
    produce bit-identical doubles.
    """
    n = F.size(tok).cast("double")
    length_term = F.least(F.lit(1.0), n / F.lit(50.0))
    return (
        F.lit(0.4) * length_term
        + F.lit(0.3) * distinct_ratio(tok)
        + F.lit(0.3) * (F.lit(1.0) - stopword_ratio(tok))
    )


def lang_marker_hits(tok: Column, lang: str) -> Column:
    """#tokens ∩ markers(lang) — the language-ID signal."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(tok, markers)).cast("long")
