"""Unit tests for the custom as-of join and sessionization operators."""

from __future__ import annotations

import datetime as dt

from etl_challenge_localiza_spark.operators.asof import asof_join
from etl_challenge_localiza_spark.operators.sessions import sessionize


def _t(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_inclusive_and_latest(spark):
    probes = spark.createDataFrame(
        [(1, "k", _t(5)), (2, "k", _t(10)), (3, "k", _t(0))], ["pid", "key", "pt"]
    )
    states = spark.createDataFrame(
        [("k", _t(5), "at5"), ("k", _t(8), "at8"), ("k", _t(1), "at1")],
        ["skey", "st", "val"],
    )
    out = {
        r["pid"]: r["val"]
        for r in asof_join(
            probes, states, "key", "skey", "pt", "st", ["val"], how="inner"
        ).collect()
    }
    # pid=1 at t=5: state at exactly 5 wins (inclusive <=)
    # pid=2 at t=10: latest prior state is at8; pid=3 at t=0: no state → dropped
    assert out == {1: "at5", 2: "at8"}


def test_asof_left_keeps_unmatched(spark):
    probes = spark.createDataFrame([(1, "k", _t(0))], ["pid", "key", "pt"])
    states = spark.createDataFrame([("k", _t(5), "late")], ["skey", "st", "val"])
    rows = asof_join(probes, states, "key", "skey", "pt", "st", ["val"], how="left").collect()
    assert len(rows) == 1 and rows[0]["val"] is None


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 10, _t(0)), (2, 10, _t(10)),          # session 1 (gap 10 < 30)
        (3, 10, _t(50)),                           # gap 40 → session 2
        (4, 20, _t(0)),                            # other user → own session
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"])
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert out == {(10, 1): (2, 600.0), (10, 2): (1, 0.0), (20, 1): (1, 0.0)}


def test_asof_nearest_direction_and_ties(spark):
    """Nearest-match as-of: forward when no prior state, backward on
    smaller gap, BACKWARD on exact tie, exact-time match gap 0, and
    keys with no state drop (inner)."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.asof import asof_nearest_join

    left = spark.createDataFrame(
        [(1, 10), (1, 55), (1, 75), (1, 100), (2, 5)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [(1, 50, "a"), (1, 100, "b"), (3, 1, "z")], ["k", "rt", "v"]
    )
    out = {
        r["t"]: (r["v"], r["direction"], r["gap"])
        for r in asof_nearest_join(left, right, "k", "k", "t", "rt", ["v"]).collect()
    }
    assert out[10] == ("a", "forward", 40)  # no prior state
    assert out[55] == ("a", "backward", 5)  # 5 back vs 45 forward
    assert out[75] == ("a", "backward", 25)  # exact tie 25/25 -> backward
    assert out[100] == ("b", "backward", 0)  # exact-time match
    assert len(out) == 4  # key 2 dropped (no state)


def test_interval_coactivity_matches_direct_join(spark):
    """The endpoint-sweep count must equal the direct quadratic overlap
    join on planted days, including intervals that only touch
    (s_b == e_a overlaps: starts sort before ends at equal t)."""
    import itertools
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators.sessions import (
        interval_coactivity_counts,
    )

    planted = {
        # u1 [1:00, 5:00], u2 [4:30, 6:00] overlap; u3 [7:00, 8:00] not
        "2024-01-01": [(1, ["01:00", "05:00"]), (2, ["04:30", "06:00"]),
                       (3, ["07:00", "08:00"])],
        # u1 [1:00, 1:10], u2 [1:05, 1:20] overlap; u4 has one event
        # -> no interval
        "2024-01-02": [(1, ["01:00", "01:10"]), (2, ["01:05", "01:20"]),
                       (4, ["01:07"])],
        # u1 [2:00, 3:00], u2 [3:00, 4:00] touch; u3 [4:30, 5:00] not
        "2024-01-03": [(1, ["02:00", "03:00"]), (2, ["03:00", "04:00"]),
                       (3, ["04:30", "05:00"])],
    }
    rows = []
    want = {}
    for day, users in planted.items():
        intervals = []
        for u, times in users:
            for hm in times:
                rows.append((len(rows), f"{day} {hm}:00", u, "purchase", 1.0))
            if len(times) >= 2:
                ts = [datetime.fromisoformat(f"{day} {hm}") for hm in times]
                intervals.append((min(ts), max(ts)))
        n = sum(
            1
            for (s1, e1), (s2, e2) in itertools.combinations(intervals, 2)
            if s1 <= e2 and s2 <= e1
        )
        if n:
            want[day] = n
    assert want == {"2024-01-01": 1, "2024-01-02": 1, "2024-01-03": 1}
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["day"].isoformat(): r["n_pairs"]
        for r in interval_coactivity_counts(ev).collect()
    }
    assert got == want


def test_nucleus_subset_exact_half_and_top_row(spark):
    """2*cum <= total exact-integer rule, plus the always-keep-top-row
    guarantee when the heaviest row alone exceeds half."""
    from etl_challenge_localiza_spark.operators.curation import (
        nucleus_subset_by_group,
    )

    df = spark.createDataFrame(
        [("a", 1, 60), ("a", 2, 30), ("a", 3, 10),  # total 100: keep 60? 2*60>100 -> top-row rule
         ("b", 4, 25), ("b", 5, 25), ("b", 6, 50)],  # total 100: 50, then 50+25=75 -> 2*75>100
        ["g", "id", "w"],
    )
    out = {r["id"]: r["kept"] for r in nucleus_subset_by_group(df, "g", "w", "id").collect()}
    assert out == {1: True, 2: False, 3: False, 4: False, 5: False, 6: True}


def test_asof_duplicate_time_rows_resolve_deterministically(spark):
    """ADVICE r10: right rows sharing (key, time) must resolve
    deterministically — both as-of variants carry the GREATEST payload
    tuple among intra-time duplicates (the windows' trailing __payload
    sort key), never a partition-order-dependent pick."""
    from etl_challenge_localiza_spark.operators.asof import (
        asof_join,
        asof_nearest_join,
    )

    probes = spark.createDataFrame([(1, "k", _t(10))], ["pid", "key", "pt"])
    dup_states = [("k", _t(5), v) for v in ("m", "a", "z", "b")]
    for _ in range(3):  # repartition shuffles arrival order between runs
        states = spark.createDataFrame(dup_states, ["skey", "st", "val"]).repartition(7)
        rows = asof_join(
            probes, states, "key", "skey", "pt", "st", ["val"], how="inner"
        ).collect()
        assert [r["val"] for r in rows] == ["z"]

    left = spark.createDataFrame([(1, 10)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 8, "m"), (1, 8, "z"), (1, 8, "a")], ["k", "rt", "v"]
    ).repartition(5)
    out = asof_nearest_join(left, right, "k", "k", "t", "rt", ["v"]).collect()
    assert len(out) == 1 and out[0]["v"] == "z" and out[0]["gap"] == 2
