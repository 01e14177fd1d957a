"""Range (interval) join — the other time-series join Spark lacks as a
first-class operator (SURVEY.md §2.9 'custom operators').

Problem shape: probe rows at time t against interval rows valid over
[start, start + W). A naive implementation is an equi-join on the key
plus a range predicate — Spark plans the range part as a post-join
filter, which degenerates to a per-key cross product on hot keys.

Scale shape implemented here: bucketize time into W-sized buckets. An
interval of width W overlaps at most 2 buckets, so each interval row
is emitted ≤2 times, each probe row once, and the join runs on
(key, bucket) — bounded fan-out, an ordinary shuffled hash join, no
BroadcastNestedLoopJoin. The exact range predicate filters afterward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def auto_bin_us(
    interval_len_us: int,
    span_us: int = 1,
    target_parallelism: int = 1,
    n_coarse_keys: int | None = None,
) -> int:
    """The bin-width rule for bucketized interval joins, as one pure
    function shared by every bin-based range join in the repo
    (interval_coactivity_pairs, events_within_window_pairs, the
    attribution family). Two faces of one knob:

    1. **Candidate volume** (bin ≈ interval length): bins shorter than
       the typical interval only REPLICATE each interval into every
       bin it covers while per-bin density barely drops — candidates
       scale as interval²/(span·bin) below the interval length and as
       bin/span above it, so the volume optimum is bin ≈ interval.
       Measured (PERF.md round-10, interval_coactivity_pairs at ×100,
       ~7.8 h median intervals): 10-min bins 67.84 s / 1 h 43.97 s /
       6 h 15.84 s / 24 h 8.71 s — identical output all four.
    2. **Parallelism floor** (bin ≤ keys·span/width): the join key is
       (coarse_key, bin), so bin count also sets join parallelism.
       With few coarse keys (e.g. ~30 days) and day-wide bins the join
       runs ~30 tasks — 7 % util@32 measured at ×30. The largest bin
       that still yields ≥ ``target_parallelism`` occupied keys is
       ``n_coarse_keys · span / target``.

    The rule: ``bin = max(interval_len, n_coarse·span/target)``
    — i.e. never below the interval length, and otherwise the largest
    bin that keeps keys ≥ the shuffle width. When the join key already
    contains a high-cardinality column (user-keyed range joins —
    attribution, follow-up pairs), pass ``n_coarse_keys=None``: the
    floor is satisfied by the key itself and the rule degenerates to
    ``bin = interval length`` (exactly the W-sized buckets those
    operators pin). When the two faces CONFLICT (interval longer than
    ``n_coarse·span/target`` — long intervals on a short calendar),
    the candidate-volume face wins and the caller should SALT the
    join key instead (``salt_for_bin`` gives the factor;
    interval_coactivity_pairs wires it).
    """
    if target_parallelism <= 0:
        raise ValueError("target_parallelism must be positive")
    interval_len_us = max(int(interval_len_us), 1)
    span_us = max(int(span_us), 1)
    if n_coarse_keys is None:
        par_term = 0  # key already high-cardinality; no floor needed
    else:
        par_term = (max(int(n_coarse_keys), 1) * span_us) // int(
            target_parallelism
        )
    return int(max(interval_len_us, par_term))


def salt_for_bin(bin_us: int, span_us: int, target_parallelism: int) -> int:
    """Salt factor that restores the parallelism floor when the
    candidate-volume face of :func:`auto_bin_us` won the conflict on a
    single coarse key: occupied keys ≈ span/bin; salting multiplies the
    key space by S, so S = ceil(target / occupied_keys). Returns 1
    (no-op) whenever the bin already meets the floor."""
    occupied = max(1, max(int(span_us), 1) // max(int(bin_us), 1))
    return max(1, -(-int(target_parallelism) // occupied))


def derive_interval_stats(
    intervals: DataFrame, start_col: str = "s", end_col: str = "e"
) -> tuple[int, int]:
    """(median interval length µs, total span µs) of an interval frame
    — the runtime inputs to :func:`auto_bin_us`. One small map-side-
    combined aggregate over the (already grouped) interval frame;
    approx_percentile keeps it a bounded-memory sketch, and the result
    only steers PLAN SHAPE (bin width), never output values, so the
    approximation is free of correctness risk."""
    row = intervals.agg(
        F.expr(
            f"approx_percentile({end_col} - {start_col}, 0.5)"
        ).alias("med"),
        F.min(start_col).alias("lo"),
        F.max(end_col).alias("hi"),
    ).first()
    med = int(row["med"] or 1)
    span = int((row["hi"] or 1) - (row["lo"] or 0)) or 1
    return max(med, 1), max(span, 1)


def events_within_window_pairs(events: DataFrame) -> DataFrame:
    """Directed pairs of same-user events within 30 minutes:
    (event_id_a, event_id_b) with 0 <= t_b − t_a < W and a ≠ b.

    The follow-on-activity join (what did this user do in the W after
    each event) — the classic funnel/attribution range join. Exact
    integer-µs arithmetic, engine-portable.

    Bin width comes from :func:`auto_bin_us` with
    ``n_coarse_keys=None``: the join key already carries user_id
    (high-cardinality), so the parallelism floor is satisfied by the
    key itself and the rule returns exactly the window width — the
    candidate-volume optimum, and the width at which the ≤2-bucket
    explode below is exact.
    """
    w_us = auto_bin_us(
        interval_len_us=30 * 60 * 1_000_000,
        n_coarse_keys=None,
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    a = events.select(
        F.col("event_id").alias("event_id_a"),
        F.col("user_id").alias("key"),
        us.alias("t_a"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(us / F.lit(w_us)),
                    F.floor((us + F.lit(w_us - 1)) / F.lit(w_us)),
                )
            )
        ).alias("bucket"),
    )
    b = events.select(
        F.col("event_id").alias("event_id_b"),
        F.col("user_id").alias("key"),
        us.alias("t_b"),
        F.floor(us / F.lit(w_us)).alias("bucket"),
    )
    return (
        a.join(b, ["key", "bucket"])
        .filter(
            (F.col("t_b") >= F.col("t_a"))
            & (F.col("t_b") < F.col("t_a") + F.lit(w_us))
            & (F.col("event_id_a") != F.col("event_id_b"))
        )
        .select("event_id_a", "event_id_b")
    )
