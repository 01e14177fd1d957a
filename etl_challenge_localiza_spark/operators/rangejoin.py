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


def events_within_window_pairs(events: DataFrame) -> DataFrame:
    """Directed pairs of same-user events within 30 minutes:
    (event_id_a, event_id_b) with 0 <= t_b − t_a < W and a ≠ b.

    The follow-on-activity join (what did this user do in the W after
    each event) — the classic funnel/attribution range join. Exact
    integer-µs arithmetic, engine-portable.

    The bucket width is the window width W: bins shorter than the
    window only replicate each row into more buckets, and W is the
    width at which the ≤2-bucket explode below is exact. The join key
    also carries user_id, so the key itself, not the bin count, sets
    the join's parallelism.
    """
    w_us = 30 * 60 * 1_000_000
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
