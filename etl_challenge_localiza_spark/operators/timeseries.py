"""Time-series operators: gap filling and rolling interval windows.

Neither exists in the reference (its analytics stop at group-avg /
latest-per-key / top-k, flows/pipeline.py:178-211); both are standard
warehouse time-series shapes a reference user would reach for next, and
both compose from built-in DataFrame ops (sequence/explode, range-frame
windows) — no UDFs, fully codegen'd.

Scale design:
- gap filling generates the dense grid per group with ``sequence`` over
  the group's own [min, max] span: grid size is bounded by
  groups x span/step (time, not data volume), so it stays tiny while the
  fact-side aggregate does the heavy, parallel work. The grid→aggregate
  join is keyed on (group, bucket) — the aggregate output is already
  partitioned on those keys, and AQE broadcast-joins the grid when small.
- the rolling window runs over the *daily aggregate* (cardinality =
  distinct days, bounded by calendar span), not the raw fact table, so
  the unpartitioned ordered window frame is over thousands of rows even
  at 100 TB of facts; the day-grain pre-aggregate is the parallel
  shuffle. Sums accumulate in decimal so window results are exact and
  engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_width


def gap_fill_hourly(events: DataFrame, keep_null_sum: bool = False) -> DataFrame:
    """Per event_type hourly counts/sums with missing hours zero-filled
    across that type's own [min, max] hour span.

    Returns (event_type, hour_start, n_events, sum_value) — one row per
    (type, hour) in the dense grid. ``keep_null_sum=True`` returns the
    raw sum as ``sum_value_raw`` with NULL (not 0) for missing buckets
    — the input the interpolating variant needs to tell "no data" from
    "sums to zero".
    """
    hourly = events.groupBy(
        "event_type",
        # date_trunc always yields LTZ; cast back to the NTZ convention
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("hour_start").alias("h0"), F.max("hour_start").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour_start"),
    )
    joined = grid.join(hourly, ["event_type", "hour_start"], "left")
    if keep_null_sum:
        return joined.select(
            "event_type",
            "hour_start",
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            F.col("sv").cast("double").alias("sum_value_raw"),
        )
    return joined.select(
        "event_type",
        "hour_start",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0).cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
    )


def rolling_daily_revenue(orders: DataFrame) -> DataFrame:
    """Daily order revenue plus a trailing 7-day rolling sum.

    The range frame is expressed on epoch-day integers (identical frame
    semantics in Spark and ANSI SQL engines); revenue accumulates in
    decimal(14,2) so both the daily and the rolling sums are exact.
    """
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev")
    )
    day_no = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = Window.orderBy(day_no).rangeBetween(-6, 0)
    return daily.select(
        "o_orderdate",
        F.col("rev").cast("double").alias("day_revenue"),
        F.sum("rev").over(w).cast("double").alias("rolling_7d_revenue"),
    )


def rolling_distinct_users(
    events: DataFrame, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """Exact trailing-7-day DISTINCT-user count per observed day
    (rolling DAU/WAU) — the rolling metric a RANGE window cannot
    express (SUM distributes over frames; COUNT(DISTINCT) does not)
    and a sketch only approximates.

    Plan shape: dedup to (user, day) pairs, then a BOUNDED ×7
    explode (each pair contributes to the 7 target days it
    stays visible in) followed by a second dedup and a tiny per-day
    count. Cost at any scale: two keyed shuffles on frames ≤ 7 ×
    |user-days| — no global window, no per-user history rescan, no
    quadratic self-join on days. The observed-day filter is a
    broadcast semi-join (days are few even at 100 TB).
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    ud = events.select(day, F.col(user_col).alias("user_id")).distinct()
    obs = ud.select("day").distinct()
    tgt = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    ).distinct()
    win = (
        tgt.join(F.broadcast(obs), "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("users_7d"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return dau.join(win, "day").select("day", "dau", "users_7d")


def rolling_interval_exact(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Trailing-hour count + exact decimal sum per event, as the
    DIFFERENCE OF TWO ADD-ONLY PREFIX FRAMES instead of one sliding
    RANGE frame.

    Why: ``rangeBetween(-1 h, 0)`` has a moving LOWER bound, so
    Spark's SlidingWindowFunctionFrame must re-aggregate the frame
    whenever rows fall out (count/sum have no retract path) — O(rows x
    frame size) per partition, the one near-linear scaler in the
    round-5 relscale experiment (x16.5 wall at x30 data). Both frames
    here keep the lower bound PINNED at unboundedPreceding — one with
    upper bound 0, one with upper bound -(1 h + 1 µs) — so each is
    an add-only UnboundedPrecedingWindowFunctionFrame: O(rows) total,
    independent of event density. Same single shuffle on ``key``, same
    sort, two accumulators instead of one; and

        rolling(t) = prefix(t) - prefix(t - 1 h - 1 µs)

    is EXACT because both prefixes accumulate in decimal — the
    difference is the same rational as the direct frame sum, so the
    final double cast is bit-identical to the sliding-frame plan (and
    to a SQL oracle's RANGE window). Range frames are tie-insensitive
    in both formulations, so ties need no tiebreak.

    Emits the input row plus (__n_trail, __sum_trail) for the caller
    to alias; ``__sum_trail`` is decimal — cast it as needed.
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    val = F.col(value_col).cast("decimal(12,2)")
    # Pin the window shuffle to the session width with an EXPLICIT
    # keyed repartition (AQE honors user repartitions). Without it,
    # AQE's byte-based partition coalescing packs the shuffle into
    # ~64MB partitions — profiled at x30 relscale data: 3M rows
    # coalesced to 2 partitions, serializing the CPU-heavy window
    # (sort + two frame accumulators per row) onto 2 of 32 cores.
    # Windows are CPU-bound per row, not byte-bound, so advisory-size
    # coalescing is the wrong policy for this exchange; the explicit
    # repartition already satisfies the window's required
    # distribution, so no second exchange is added.
    width = shuffle_width(events.sparkSession)
    events = events.repartition(width, key)
    base = Window.partitionBy(key).orderBy(ts_us)
    w_cum = base.rangeBetween(Window.unboundedPreceding, 0)
    w_before = base.rangeBetween(Window.unboundedPreceding, -3_600_000_001)
    return events.select(
        "*",
        (
            F.count(F.lit(1)).over(w_cum)
            - F.coalesce(F.count(F.lit(1)).over(w_before), F.lit(0))
        ).alias("__n_trail"),
        (
            F.sum(val).over(w_cum)
            - F.coalesce(
                F.sum(val).over(w_before), F.lit(0).cast("decimal(12,2)")
            )
        ).alias("__sum_trail"),
    )


def ewma_final(events: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Final exponentially-weighted moving average of ``value`` per
    user (the streaming-metric smoother: s1 = x1,
    s_n = α·x_n + (1-α)·s_{n-1}).

    The recursion is re-expressed in closed form so it runs as ONE
    aggregate instead of an O(history²) per-row window:
    s_N = Σ_i x_i · (1-α)^(N-i) · (α for i>1, 1 for i=1).
    Row positions come from a single ordered window pass (row_number +
    partition count, same frame, one shuffle on user_id); the weighted
    sum is then an ordinary hash aggregate with map-side combine —
    O(rows) total, no driver loop, no recursive structure. Old terms
    underflow to 0.0 gracefully ((1-α)^k → 0), matching the math.
    The float reduction's accumulation order is engine-dependent, so
    the result is rounded to 6 dp (engine-portability rule); counts pin the
    partition structure exactly."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    rows = events.select(
        "user_id",
        F.col("value").cast("double").alias("x"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    a = F.lit(float(alpha))
    weight = F.pow(F.lit(1.0 - alpha), F.col("n") - F.col("rn")) * F.when(
        F.col("rn") > 1, a
    ).otherwise(F.lit(1.0))
    return rows.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.round(F.sum(F.col("x") * weight), 6).alias("ewma_value"),
    )


def twap_user_day(events: DataFrame) -> DataFrame:
    """Time-weighted average value per (user, day) by TRAPEZOIDAL
    integration — the price/sensor-analytics aggregate a plain AVG
    gets wrong whenever sampling is irregular (a value held for hours
    must weigh more than a one-second blip):

        twap = ∫ v(t) dt / (t_last − t_first)
             = Σ (v_i + v_{i+1})·(t_{i+1} − t_i) / (2·span)

    Exactness/portability: each trapezoid term is
    decimal(25,6) value-sum × decimal(13,0) µs-gap → decimal(38,6),
    summed exactly (associative, order-free — no float partial-agg
    nondeterminism); the single divide-to-double happens once per
    group, rounded to 6 dp. Degenerate groups: span = 0 (one event,
    or all events at one instant) falls back to the exact decimal
    mean of the values.

    Scale shape: one shuffle on (user_id, day) shared by the lead()
    window and the aggregate (same-partitioning window+groupBy — one
    Exchange); per-group state is a running decimal sum. Never a
    per-user history rescan."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    vdec = F.col("value").cast("decimal(18,6)")
    w = Window.partitionBy("user_id", "day").orderBy("t", "event_id")
    base = events.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_id",
        us.alias("t"),
        vdec.alias("v"),
    )
    stepped = base.select(
        "user_id",
        "day",
        "t",
        "v",
        F.lead("t").over(w).alias("t2"),
        F.lead("v").over(w).alias("v2"),
    )
    term = F.when(
        F.col("t2").isNotNull(),
        (F.col("v") + F.col("v2")).cast("decimal(25,6)")
        * (F.col("t2") - F.col("t")).cast("decimal(13,0)"),
    ).otherwise(F.lit(0).cast("decimal(38,6)"))
    agg = stepped.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(term).alias("area2"),  # 2x the integral, exact decimal
        (F.max("t") - F.min("t")).cast("long").alias("span_us"),
        F.sum("v").alias("vsum"),
    )
    return agg.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.when(
            F.col("span_us") > 0,
            F.round(
                F.col("area2").cast("double")
                / (F.lit(2.0) * F.col("span_us").cast("double")),
                6,
            ),
        )
        .otherwise(
            F.round(
                F.col("vsum").cast("double")
                / F.col("n_events").cast("double"),
                6,
            )
        )
        .alias("twap"),
    )
