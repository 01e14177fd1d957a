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


def _purchase_intervals(events: DataFrame) -> DataFrame:
    """Per-(day, user) purchase interval [s, e] in integer µs, for users
    with at least two purchases that day."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
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


def interval_coactivity_pairs(
    events: DataFrame,
    bin_us: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """BUCKETED interval-overlap self-join (the bin-based range-join
    technique): build per-(user, day) purchase intervals
    [first, last] (users with ≥ 2 purchases that day), then count, per
    day, the unordered user pairs whose intervals OVERLAP — co-activity
    detection.

    The scale move is the equi-join surrogate for the range predicate:
    each interval explodes into the TIME BINS it spans (bounded rows,
    bin ≥ typical interval length), candidate pairs form by
    (day, bin[, salt]) equi-join — never a per-day cross join — and
    the exact overlap predicate (s₁ ≤ e₂ ∧ s₂ ≤ e₁) then verifies
    candidates. Completeness: overlapping intervals share the bin of
    max(s₁,s₂), so every true pair appears in ≥1 shared bin; pairs
    meeting in several bins are deduped by DISTINCT.

    **Bin width is derived at runtime** (``bin_us=None``, the default)
    via :func:`operators.rangejoin.auto_bin_us`: one bounded-memory
    aggregate reads the median interval length and span off the
    (already grouped) interval frame, and the bin is
    ``max(median_len, span/shuffle_width)`` — never below the interval
    length (candidate volume), never so wide that occupied
    (day, bin) keys fall under the shuffle width (parallelism). The
    two faces of the knob, measured (PERF.md round-10, ×100 tier,
    ~7.8 h median intervals, 30-day span): 10-min bins 67.84 s /
    1 h 43.97 s / 6 h 15.84 s / 24 h 8.71 s — identical output all
    four, because candidates scale as interval²/(span·bin) below the
    interval length; but day-wide bins on a 30-day calendar cap the
    join at ~30 tasks (7 % util@32 measured at ×30). The derived
    ~22 h bin keeps the candidate optimum while filling the shuffle
    width. When the faces conflict (median interval longer than
    span/width — long intervals, short calendar), the candidate face
    wins the bin and a SALT restores the floor: side a is salted by
    hash(u1), side b replicated ``salt`` times, so the key space is
    (day, bin, salt) and each true pair still meets exactly once per
    shared bin (at salt = hash(u1) % S). ``salt=None`` derives it via
    :func:`operators.rangejoin.salt_for_bin` (1 = no-op whenever the
    bin already meets the floor).

    Exact integer microsecond endpoints; returns (day, n_pairs) —
    values are bin- and salt-independent (plan knobs only)."""
    from .rangejoin import auto_bin_us, derive_interval_stats, salt_for_bin

    width = shuffle_width(events.sparkSession)
    iv = _purchase_intervals(events)
    if bin_us is None or salt is None:
        # The stats job materializes iv anyway; cache it so the two
        # join sides below reuse the grouped frame instead of each
        # rescanning events (iv is the per-(day,user) aggregate —
        # key-bounded, small).
        iv = iv.cache()
        med_us, span_us = derive_interval_stats(iv, "s", "e")
        if bin_us is None:
            bin_us = auto_bin_us(med_us, span_us, width, n_coarse_keys=1)
        if salt is None:
            salt = salt_for_bin(bin_us, span_us, width)
    bin_us, salt = int(bin_us), max(int(salt), 1)
    binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / F.lit(bin_us)),
                F.floor(F.col("e") / F.lit(bin_us)),
            )
        ),
    )
    # Explicit repartition on the join keys: a user repartition is
    # exempt from AQE's byte-based coalescing, which otherwise
    # collapses this CPU-dense-per-byte pair join to ONE task at the
    # ×30 tier (same class as the sessionize pin above — measured
    # there 8.87 s → 1.66 s; here 10% → see PERF.md round-11 row).
    a = binned.select(
        "day", "bin",
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(salt))
        .cast("int").alias("salt"),
        F.col("user_id").alias("u1"),
        F.col("s").alias("s1"), F.col("e").alias("e1"),
    ).repartition(width, "day", "bin", "salt")
    b = binned.select(
        "day", "bin",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("salt"),
        F.col("user_id").alias("u2"),
        F.col("s").alias("s2"), F.col("e").alias("e2"),
    ).repartition(width, "day", "bin", "salt")
    pairs = (
        a.join(b, ["day", "bin", "salt"])
        .filter(
            (F.col("u1") < F.col("u2"))
            & (F.col("s1") <= F.col("e2"))
            & (F.col("s2") <= F.col("e1"))
        )
        .select("day", "u1", "u2")
        .distinct()
    )
    return pairs.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def interval_coactivity_counts(events: DataFrame) -> DataFrame:
    """COUNT overlapping same-day interval pairs WITHOUT materializing
    them — the O(n log n) counting complement to
    interval_coactivity_pairs (use that when downstream needs the pair
    list; use this for the metric): per day,

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
    (day, n_pairs), identical values to the pair-materializing plan
    (the registry pins both to the same oracle)."""
    iv = _purchase_intervals(events)
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
