"""Unit tests for time-series gap filling and rolling windows."""

from __future__ import annotations

import datetime as dt

from etl_challenge_localiza_spark.operators.timeseries import (
    gap_fill_hourly,
    rolling_daily_revenue,
)


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_gap_fill_hourly_fills_internal_gaps_per_type(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(0, 10), 1, "click", 1.0, "{}"),
            (2, _ts(3, 20), 1, "click", 2.0, "{}"),   # hours 1,2 missing
            (3, _ts(5, 0), 2, "view", 4.0, "{}"),     # view span is just hour 5
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    rows = {
        (r["event_type"], r["hour_start"].hour): (r["n_events"], r["sum_value"])
        for r in gap_fill_hourly(ev).collect()
    }
    # click: dense hours 0..3, gaps zero-filled; view: only its own span
    assert rows[("click", 0)] == (1, 1.0)
    assert rows[("click", 1)] == (0, 0.0)
    assert rows[("click", 2)] == (0, 0.0)
    assert rows[("click", 3)] == (1, 2.0)
    assert rows[("view", 5)] == (1, 4.0)
    assert len(rows) == 5  # no grid rows outside each type's span


def test_rolling_daily_revenue_trailing_window(spark):
    d = dt.datetime
    orders = spark.createDataFrame(
        [
            (1, 1, 100.0, d(2024, 1, 1)),
            (2, 1, 50.0, d(2024, 1, 1)),    # same day aggregates first
            (3, 2, 10.0, d(2024, 1, 5)),
            (4, 3, 1.0, d(2024, 1, 20)),    # > 7 days later: window resets
        ],
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
    )
    out = {
        r["o_orderdate"].day: (r["day_revenue"], r["rolling_7d_revenue"])
        for r in rolling_daily_revenue(orders).collect()
    }
    assert out[1] == (150.0, 150.0)
    assert out[5] == (10.0, 160.0)   # Jan 1 still inside the 7-day frame
    assert out[20] == (1.0, 1.0)     # trailing frame excludes stale days


def test_ewma_final_matches_recursive_definition(spark):
    """Closed-form aggregate == the literal recursion
    s1 = x1, s_n = a*x_n + (1-a)*s_{n-1}, per user."""
    from datetime import datetime

    from etl_challenge_localiza_spark.operators.timeseries import ewma_final

    series = {1: [10.0, 20.0, 30.0, 40.0], 2: [5.0], 3: [1.0, 100.0]}
    rows, eid = [], 0
    for uid, xs in series.items():
        for i, x in enumerate(xs):
            rows.append((eid, uid, datetime(2024, 1, 1, i), x))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    alpha = 0.25
    exp = {}
    for uid, xs in series.items():
        s = xs[0]
        for x in xs[1:]:
            s = alpha * x + (1 - alpha) * s
        exp[uid] = (len(xs), round(s, 6))
    got = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in ewma_final(ev, alpha=alpha).collect()
    }
    assert got == exp


def test_seasonal_anomaly_profile_hand_case(spark):
    import os
    import tempfile
    from datetime import datetime

    from etl_challenge_localiza_spark.registry import QUERIES

    # hour 0: 19 baseline points + one extreme. A single outlier among n
    # points caps its own z at sqrt(n-1), so n must exceed 10 for a 3-sigma
    # flag to be reachable (sqrt(19) = 4.36 > 3).
    rows = []
    eid = 0
    for v in [10.0] * 19 + [1000.0]:
        rows.append((eid, datetime(2024, 1, 1, 0, eid % 60), 1, "a", v, "{}"))
        eid += 1
    # hour 1: constant values -> sigma 0, no outliers (strict > keeps ties in)
    for i, v in enumerate([5.0, 5.0, 5.0]):
        rows.append((eid, datetime(2024, 1, 1, 1, i), 1, "a", v, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r["event_type"], r["hod"]): r
            for r in QUERIES["seasonal_anomaly_profile"].fn(spark, d).collect()
        }
    h0 = out[("a", 0)]
    mu = (19 * 10.0 + 1000.0) / 20
    assert h0["n"] == 20 and h0["mean_value"] == round(mu, 6)
    # the 1000 is the single point beyond 3 sigma of its own hour
    assert h0["n_outliers"] == 1
    h1 = out[("a", 1)]
    assert h1["std_value"] == 0.0 and h1["n_outliers"] == 0


def test_psi_drift_detects_shift_and_null_on_same(spark):
    import os
    import tempfile
    from datetime import datetime

    from etl_challenge_localiza_spark.registry import QUERIES

    def run(ref_vals, cur_vals):
        rows = []
        eid = 0
        for v in ref_vals:
            rows.append((eid, datetime(2024, 1, 10, eid % 24), 1, "a", float(v), "{}"))
            eid += 1
        for v in cur_vals:
            rows.append((eid, datetime(2024, 1, 20, eid % 24), 1, "a", float(v), "{}"))
            eid += 1
        ev = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        with tempfile.TemporaryDirectory() as d:
            ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
            return QUERIES["psi_value_drift"].fn(spark, d).collect()

    base = list(range(1, 101))
    same = run(base, base)
    assert len(same) == 10 and all(r["n_ref"] == 10 for r in same)
    assert same[0]["psi_total"] < 0.01  # identical distribution: ~0 (smoothing only)
    shifted = run(base, [v + 200 for v in base])  # everything lands in the top bin
    assert shifted[0]["psi_total"] > 0.25  # standard "drifted" threshold
    top = {r["bin"]: r["n_cur"] for r in shifted}
    assert top[9] == 100 and sum(v for b, v in top.items() if b < 9) == 0


def test_gap_interpolation_hand_case(spark):
    import os
    import tempfile
    from datetime import datetime

    from etl_challenge_localiza_spark.registry import QUERIES

    # type "a": hours 0 (sum 10), 3 (sum 40) -> hours 1,2 interpolate
    # to 20, 30; zero-fill would have produced 0 there.
    rows = [
        (1, datetime(2024, 1, 1, 0, 5), 1, "a", 10.0, "{}"),
        (2, datetime(2024, 1, 1, 3, 5), 1, "a", 40.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_gap_interpolate"].fn(spark, d).collect()
    got = [(r["hour_start"].hour, r["n_events"], r["sum_value"], r["interpolated"]) for r in out]
    assert got == [
        (0, 1, 10.0, False),
        (1, 0, 20.0, True),
        (2, 0, 30.0, True),
        (3, 1, 40.0, False),
    ]


def test_rolling_correlation_perfect_and_degenerate(spark):
    import os
    import tempfile
    from datetime import datetime, timedelta

    from etl_challenge_localiza_spark.registry import QUERIES

    rows = []
    eid = 0
    base = datetime(2024, 1, 1)
    # 30 hours: clicks = 1+h%5, purchases = 2*(1+h%5) -> corr exactly 1
    for h in range(30):
        for _ in range(1 + h % 5):
            rows.append((eid, base + timedelta(hours=h), 1, "click", 0.0, "{}")); eid += 1
        for _ in range(2 * (1 + h % 5)):
            rows.append((eid, base + timedelta(hours=h), 1, "purchase", 0.0, "{}")); eid += 1
    # a later constant-series stretch: purchases constant -> NULL corr
    base2 = datetime(2024, 2, 1)
    for h in range(26):
        for _ in range(1 + h % 3):
            rows.append((eid, base2 + timedelta(hours=h), 1, "click", 0.0, "{}")); eid += 1
        rows.append((eid, base2 + timedelta(hours=h), 1, "purchase", 0.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["rolling_type_correlation"].fn(spark, d).collect()
    jan = [r for r in out if r["hour_start"].month == 1]
    assert jan[29]["corr_24h"] == 1.0  # proportional series
    feb = [r for r in out if r["hour_start"].month == 2]
    assert feb[25]["corr_24h"] is None  # constant purchase series


def test_interarrival_cv_separates_metronome_from_bursts(spark):
    import os
    import tempfile
    from datetime import datetime, timedelta

    from etl_challenge_localiza_spark.registry import QUERIES

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: metronomic — exactly one event per hour -> std 0, cv 0
    for h in range(10):
        rows.append((eid, base + timedelta(hours=h), 1, "a", 0.0, "{}")); eid += 1
    # user 2: bursty — 5 events in one second, then 5 a day later
    for i in range(5):
        rows.append((eid, base + timedelta(microseconds=i), 2, "a", 0.0, "{}")); eid += 1
    for i in range(5):
        rows.append((eid, base + timedelta(days=1, microseconds=i), 2, "a", 0.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = {r["user_id"]: r for r in QUERIES["user_interarrival_stats"].fn(spark, d).collect()}
    u1 = out[1]
    assert u1["n_gaps"] == 9 and u1["mean_gap_s"] == 3600.0
    assert u1["std_gap_s"] == 0.0 and u1["burstiness_cv"] == 0.0
    u2 = out[2]
    assert u2["burstiness_cv"] > 1.5  # heavy burst signature


def test_rolling_distinct_users_hand_computed(spark):
    from etl_challenge_localiza_spark.operators.timeseries import rolling_distinct_users

    rows = [
        # (ts, user): u1 active d1,d2; u2 active d1; u3 active d3 only
        ("2024-01-01 01:00:00", 1),
        ("2024-01-01 02:00:00", 1),  # same user+day → one pair
        ("2024-01-01 03:00:00", 2),
        ("2024-01-02 01:00:00", 1),
        ("2024-01-03 01:00:00", 3),
        ("2024-01-10 01:00:00", 1),  # outside any 7d window of d1-d3
    ]
    ev = spark.createDataFrame(rows, "ts string, user_id int").selectExpr(
        "cast(ts as timestamp) as ts", "user_id"
    )
    got = {
        str(r["day"]): (r["dau"], r["users_7d"])
        for r in rolling_distinct_users(ev).collect()
    }
    assert got == {
        "2024-01-01": (2, 2),           # u1,u2
        "2024-01-02": (1, 2),           # window d-6..d: u1,u2
        "2024-01-03": (1, 3),           # u1,u2,u3
        "2024-01-10": (1, 1),           # d4..d10: only u1's d10 visit
    }


def test_theil_sen_even_pair_count_has_median(spark):
    """Regression (round-10 review): an EVEN number of pairwise slopes
    must still produce the lower median — the first cut compared an int
    rank to Spark's DOUBLE (n+1)/2 and silently nulled even counts.
    4 days -> C(4,2)=6 pairs (even); slopes of v=2d are all exactly 2."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.registry import QUERIES

    rows = []
    eid = 0
    for d, day in enumerate(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]):
        rows.append((eid, f"{day} 10:00:00", 1, "purchase", float(2 * d)))
        eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile, os, shutil

    d = tempfile.mkdtemp()
    try:
        # stage as a table dir the loader accepts
        for t in ("events",):
            ev.write.parquet(os.path.join(d, f"{t}.parquet"))
        # reuse only the slope math: call the registry fn against a dir
        # that carries just the events table
        out = {r["event_type"]: r for r in QUERIES["theil_sen_daily_trend"].fn(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert out["purchase"]["n_pairs"] == 6
    assert out["purchase"]["ts_slope"] == 2.0, "even pair count lost its median"


def test_twap_trapezoid_hand_case(spark):
    """TWAP: value 10 held for 3600s then 30 for 3600s ->
    trapezoid mean of [10->30 over first hour avg 20? no: points
    (0s,10),(3600s,30),(7200s,10): area = (10+30)/2*3600 +
    (30+10)/2*3600 = 144000 over 7200s -> 20.0; plus a single-event
    user (twap = its value) and a same-instant pair (exact mean)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.timeseries import (
        twap_user_day,
    )

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (1, 1, t0, "e", 10.0),
        (2, 1, t0 + dt.timedelta(hours=1), "e", 30.0),
        (3, 1, t0 + dt.timedelta(hours=2), "e", 10.0),
        (4, 2, t0, "e", 7.5),                     # single event
        (5, 3, t0, "e", 1.0), (6, 3, t0, "e", 3.0),  # span 0, mean 2.0
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    got = {r["user_id"]: (r["n_events"], r["twap"])
           for r in twap_user_day(ev).collect()}
    assert got == {1: (3, 20.0), 2: (1, 7.5), 3: (2, 2.0)}
