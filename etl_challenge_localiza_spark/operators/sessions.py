"""Gap-based sessionization over the events table (SURVEY.md §2.9 /
event-time analytics). Batch form of what Structured Streaming's
session_window does with state.

Shape: lag → gap flag → per-key running sum (the classic islands
trick). One shuffle on user_id; both window passes share the same
partitioning so Catalyst plans a single Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_width


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Assign session ids per user (new session when the gap since the
    previous event exceeds ``gap_minutes``) and aggregate per session.

    Gap arithmetic is exact integer microseconds so any engine
    reproduces it bit-for-bit. Returns one row per session:
    (user_id, session_id, n_events, session_start, session_end,
    duration_s).

    The user_id shuffle width is PINNED with an explicit repartition
    (round-9 gap attribution): the window stage is CPU-dense per
    shuffle byte — a few narrow columns carry two window passes plus
    the aggregate — so AQE's byte-based coalescing (64 MB advisory)
    collapsed it to ONE task at the ×30 tier (8.3 s of the query's
    8.9 s wall in a single task, 6% utilization). Same class as the
    round-8 SemDeDup pair-join pin. A user-specified repartition is
    exempt from AQE coalescing; both window passes and the session
    aggregate reuse its partitioning, so the plan still has exactly
    one exchange. Measured ×30: 8.87 s → 1.66 s wall.
    """
    events = events.repartition(shuffle_width(events.sparkSession), "user_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = int(gap_minutes) * 60 * 1_000_000
    with_flag = events.withColumn(
        "__new_session",
        F.when(
            (us - F.lag(us).over(w_order)).isNull()
            | ((us - F.lag(us).over(w_order)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_id = with_flag.withColumn(
        "session_id", F.sum("__new_session").over(w_run).cast("long")
    )
    return (
        with_id.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (
                    F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                    - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
                ).cast("double")
                / F.lit(1_000_000.0)
            ).alias("duration_s"),
        )
    )


def interval_coactivity_counts(events: DataFrame) -> DataFrame:
    """COUNT, per day, the unordered user pairs whose purchase
    intervals [first, last] overlap (users with ≥ 2 purchases that
    day) — co-activity detection — WITHOUT materializing the pairs:
    an O(n log n) plan in place of a pair self-join. Per day,

        n_overlap = C(n,2) − #{(a,b) : e_a < s_b}

    and the disjoint-pair count is a MERGE RANK: sort every start and
    end on one per-day timeline (starts before ends at equal t — the
    overlap predicate is inclusive, s_b ≤ e_a overlaps) and give each
    START the running count of ENDS strictly before it. Each disjoint
    unordered pair is counted exactly once, under its earlier-ending
    orientation. This is the same endpoint-sweep family as
    concurrent_open_orders, and the plan DuckDB's specialized
    IEJoin gets for free — expressed in Spark as one per-day window
    over 2n endpoint rows. Exact integer µs endpoints; returns
    (day, n_pairs) for days with at least one overlapping pair, the
    answer of the direct overlap self-join the registry's oracle
    runs."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.to_date("ts").alias("day"), "user_id", us.alias("t"))
        .groupBy("day", "user_id")
        .agg(
            F.min("t").alias("s"),
            F.max("t").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 2)
        .drop("n")
    )
    endpoints = iv.select(
        "day", F.col("s").alias("t"), F.lit(0).alias("kind")
    ).unionByName(iv.select("day", F.col("e").alias("t"), F.lit(1).alias("kind")))
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    disjoint = (
        endpoints.withColumn("ends_before", F.sum("kind").over(w))
        .filter(F.col("kind") == 0)
        .groupBy("day")
        .agg(F.sum("ends_before").cast("long").alias("n_disjoint"))
    )
    totals = iv.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        totals.join(disjoint, "day")
        .select(
            "day",
            (F.col("n") * (F.col("n") - 1) / 2 - F.col("n_disjoint"))
            .cast("long")
            .alias("n_pairs"),
        )
        .filter(F.col("n_pairs") > 0)
    )
