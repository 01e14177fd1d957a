"""Streaming tests: the windowed stream must equal its batch analog."""

from __future__ import annotations

import os

import pytest

from etl_challenge_localiza_spark.registry import QUERIES
from etl_challenge_localiza_spark.streaming.events_stream import (
    hourly_stream_with_watermark,
    run_streaming_hourly,
)


def test_streaming_equals_batch(spark, sf0001):
    stream = run_streaming_hourly(spark, sf0001).toPandas()
    batch = QUERIES["events_hourly"].fn(spark, sf0001).toPandas()
    key = ["hour_start", "event_type"]
    s = stream.sort_values(key).reset_index(drop=True)[batch.columns]
    b = batch.sort_values(key).reset_index(drop=True)
    assert s.equals(b)


def test_watermark_stream_builds_and_is_streaming(spark, sf0001):
    df = hourly_stream_with_watermark(spark, sf0001)
    assert df.isStreaming
    assert set(df.columns) == {"hour_start", "event_type", "n_events", "sum_value"}


def test_watermark_drops_late_data(spark, tmp_path):
    """Drive the append-mode watermark stream over two micro-batches:
    an event later than (max event time − watermark) must be dropped,
    and closed windows must emit exactly once."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")

    def ev(eid, hour, minute):
        return (eid, dt.datetime(2024, 1, 1, hour, minute), 1, "click", 1.0, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batch1 = spark.createDataFrame([ev(1, 0, 10), ev(2, 0, 20), ev(3, 6, 0)], cols)
    batch2 = spark.createDataFrame([ev(4, 0, 30), ev(5, 6, 30)], cols)

    sink = str(tmp_path / "sink")

    def run_batch(df, run_id):
        # each availableNow run processes only files not yet committed
        # to the shared checkpoint → deterministic micro-batch split;
        # the parquet file sink supports checkpoint recovery.
        df.coalesce(1).write.parquet(f"{src}/run{run_id}")
        stream = (
            spark.readStream.schema(df.schema)
            .parquet(src + "/run*")
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(batch1, 1)
    run_batch(batch2, 2)
    out = {r["ws"].hour: r["n"] for r in spark.read.parquet(sink).collect()}
    # batch1 advances the watermark to 06:00−2h = 04:00, closing the
    # 00:00 window with its 2 on-time events; batch2's event_id=4
    # (00:30) is behind the watermark → dropped, never re-emitted.
    assert out.get(0) == 2, out
    # the 06:00 window stays open at end-of-input (within watermark) —
    # correct append semantics: absent, not lost.
    assert 6 not in out


def test_stream_stream_interval_join_two_sources(spark, sf0001):
    """The stream-stream join must equal the batch range join on the
    same finite input (registry oracle shape)."""
    from etl_challenge_localiza_spark.registry import QUERIES

    stream = QUERIES["streaming_interval_join"].fn(spark, sf0001)
    got = {(r["click_id"], r["purchase_id"]) for r in stream.collect()}
    con_pairs = set()
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"create view events as select * from '/root/testdata/sf0.001/events.parquet'"
    )
    for a, b in con.execute(QUERIES["streaming_interval_join"].oracle).fetchall():
        con_pairs.add((a, b))
    con.close()
    assert got == con_pairs
    assert got, "expected at least one click→purchase pair in the fixture"


def test_stream_stream_join_matches_across_micro_batches(spark, tmp_path):
    """Two genuinely separate file-stream sources, with the matching
    purchase arriving in a LATER micro-batch than its click: the join
    state must hold the click until the purchase arrives."""
    import datetime as dt

    from etl_challenge_localiza_spark.streaming.events_stream import (
        interval_join_streams,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    t0 = dt.datetime(2024, 1, 1, 12, 0)

    click_src = str(tmp_path / "clicks")
    buy_src = str(tmp_path / "purchases")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    clicks1 = spark.createDataFrame(
        [(1, t0, 7, "click", 1.0, "{}"), (2, t0, 8, "click", 1.0, "{}")], cols
    )
    buys1 = spark.createDataFrame(
        [(10, t0 + dt.timedelta(minutes=10), 7, "purchase", 5.0, "{}")], cols
    )
    # arrives one micro-batch later; still inside user 8's 30-min window
    buys2 = spark.createDataFrame(
        [
            (11, t0 + dt.timedelta(minutes=20), 8, "purchase", 5.0, "{}"),
            # outside the window → must NOT match
            (12, t0 + dt.timedelta(minutes=45), 7, "purchase", 5.0, "{}"),
        ],
        cols,
    )

    def run(run_id, click_df=None, buy_df=None):
        if click_df is not None:
            click_df.coalesce(1).write.parquet(f"{click_src}/run{run_id}")
        if buy_df is not None:
            buy_df.coalesce(1).write.parquet(f"{buy_src}/run{run_id}")
        schema = clicks1.schema
        c = spark.readStream.schema(schema).parquet(click_src + "/run*")
        p = spark.readStream.schema(schema).parquet(buy_src + "/run*")
        q = (
            interval_join_streams(c, p)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(1, clicks1, buys1)
    run(2, None, buys2)
    got = {
        (r["click_id"], r["purchase_id"]) for r in spark.read.parquet(sink).collect()
    }
    assert got == {(1, 10), (2, 11)}, got


def test_foreachbatch_upsert_converges_regardless_of_batch_order(spark):
    """merge_latest keeps each key's (ts, event_id) argmax, so applying
    micro-batches in ANY order yields the same table."""
    import datetime as dt

    from etl_challenge_localiza_spark.streaming.upsert import apply_latest_batch

    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, t + dt.timedelta(hours=2), "click", 1.0),  # latest for user 1
        (1, 11, t, "view", 2.0),
        (2, 12, t, "click", 3.0),
        (2, 13, t, "view", 4.0),  # same ts: event_id breaks the tie
    ]

    def run(order):
        target = None
        for batch_rows in order:
            target = apply_latest_batch(
                target, spark.createDataFrame(batch_rows, cols)
            )
        return sorted(target.collect())

    fwd = run([[rows[0], rows[2]], [rows[1], rows[3]]])
    rev = run([[rows[1], rows[3]], [rows[0], rows[2]]])
    assert fwd == rev
    final = {r["user_id"]: r["event_id"] for r in fwd}
    assert final == {1: 10, 2: 13}


def test_dedup_within_watermark_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark must dedup within the watermark
    horizon but RE-EMIT a duplicate arriving after its key's state was
    evicted — the bounded-state trade the operator exists for."""
    import datetime as dt

    from pyspark.sql import functions as F

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    src, ckpt, sink = (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "sink"),
    )

    def run(run_id, rows):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            f"{src}/run{run_id}"
        )
        stream = (
            spark.readStream.schema(
                spark.createDataFrame(rows, cols).schema
            )
            .parquet(src + "/run*")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("event_id", "user_id", "event_type")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # batch 1: duplicate within minutes → deduped (one row emitted);
    # a later event pushes the watermark past the key's expiry
    run(
        1,
        [
            (1, t0, 7, "click", 1.0, "{}"),
            (2, t0 + dt.timedelta(minutes=5), 7, "click", 1.0, "{}"),
            (3, t0 + dt.timedelta(hours=5), 9, "view", 1.0, "{}"),
        ],
    )
    # batch 2: same key again, far beyond the watermark → state was
    # evicted, so it re-emits
    run(2, [(4, t0 + dt.timedelta(hours=6), 7, "click", 1.0, "{}")])

    out = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert 1 in out and 2 not in out, out  # in-horizon dup suppressed
    assert 4 in out, out  # beyond-watermark duplicate re-admitted


def test_left_outer_interval_join_emits_abandoned_clicks(spark, tmp_path):
    """Left-outer watermarked interval join: a click with NO purchase
    in its window must emit with a null purchase once the watermark
    passes the window end (funnel abandonment); a matched click emits
    its pair and not a null row."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.streaming.events_stream import (
        interval_join_streams,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    click_src, buy_src, ckpt, sink = (
        str(tmp_path / "c"),
        str(tmp_path / "p"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "sink"),
    )
    schema = spark.createDataFrame([(1, t0, 1, "x", 1.0, "{}")], cols).schema

    def run(run_id, clicks=None, buys=None):
        for path, rows in ((click_src, clicks), (buy_src, buys)):
            if rows is not None:
                spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
                    f"{path}/run{run_id}"
                )
        c = spark.readStream.schema(schema).parquet(click_src + "/run*")
        p = spark.readStream.schema(schema).parquet(buy_src + "/run*")
        joined = interval_join_streams(
            c, p, watermark="10 minutes", how="leftOuter"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # user 7's click gets a purchase; user 8's never does
    run(
        1,
        clicks=[(1, t0, 7, "click", 1.0, "{}"), (2, t0, 8, "click", 1.0, "{}")],
        buys=[(10, t0 + dt.timedelta(minutes=5), 7, "purchase", 1.0, "{}")],
    )
    # a much later event on both sides pushes both watermarks far past
    # click+30min, forcing the unmatched click's outer emission
    late = t0 + dt.timedelta(hours=3)
    run(
        2,
        clicks=[(3, late, 1, "click", 1.0, "{}")],
        buys=[(11, late, 1, "purchase", 1.0, "{}")],
    )
    rows = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(sink).collect()
    }
    assert (1, 10) in rows, rows  # matched pair
    assert (2, None) in rows, rows  # abandoned click emitted with null
    assert (1, None) not in rows, rows  # matched click has no null row


def test_dedup_state_size_bounded_by_watermark(spark, tmp_path):
    """The 100 TB streaming concern, measured: drive
    dropDuplicatesWithinWatermark across 3 micro-batches of DISJOINT
    keys with event time advancing far past the watermark each batch,
    and assert via the state-store metrics that state does NOT
    accumulate — rows behind the watermark are physically removed, so
    numRowsTotal stays ~one batch's key count instead of growing to
    the cumulative distinct-key count (which is unbounded in
    production)."""
    import datetime as dt

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    per_batch = 50
    src, ckpt, sink = (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "sink"),
    )

    def run(batch_no):
        base_ts = t0 + dt.timedelta(hours=3 * batch_no)  # 3h apart, 1h watermark
        rows = [
            (batch_no * 1000 + j, base_ts, batch_no * 1000 + j, "click", 1.0, "{}")
            for j in range(per_batch)
        ]
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            f"{src}/b{batch_no}"
        )
        stream = (
            spark.readStream.schema(spark.createDataFrame(rows, cols).schema)
            .parquet(src + "/b*")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("event_id")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        states = [
            p["stateOperators"][0]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert states, "no state-operator progress reported"
        return states[-1]

    totals, removed = [], 0
    for b in range(3):
        s = run(b)
        totals.append(s["numRowsTotal"])
        removed += s.get("numRowsRemoved", 0)

    # every batch's keys are new, so WITHOUT eviction state would be
    # cumulative: 50, 100, 150. With watermark eviction each batch
    # clears the previous batch's keys before (or as) the next lands.
    assert totals[0] == per_batch
    assert max(totals[1:]) <= 2 * per_batch  # never the cumulative count
    assert totals[2] < 3 * per_batch
    assert removed >= per_batch  # eviction physically removed rows
    # and the sink saw every key exactly once (no drops, no dups)
    out = [r["event_id"] for r in spark.read.parquet(sink).collect()]
    assert len(out) == len(set(out)) == 3 * per_batch


def test_streaming_snapshot_cdc_versions_and_converges(spark, sf0001, tmp_path):
    """foreachBatch CDC into versioned snapshots: the final version
    equals the batch latest-event-per-user table, one version commits
    per micro-batch, and every historical version stays readable with
    monotonically growing key coverage."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.sources.readers import load_table
    from etl_challenge_localiza_spark.sources.sinks import (
        snapshot_current_version,
        snapshot_read,
    )
    from etl_challenge_localiza_spark.streaming.upsert import (
        run_streaming_snapshot_cdc,
    )

    path = str(tmp_path / "cdc_table")
    out = run_streaming_snapshot_cdc(spark, sf0001, path, n_input_files=4)

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = (
        load_table(spark, sf0001, "events")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))

    n_versions = snapshot_current_version(path)
    assert n_versions == 4  # one commit per micro-batch
    prev_keys: set = set()
    for v in range(1, n_versions + 1):
        rows = snapshot_read(spark, path, version=v).collect()
        keys = {r["user_id"] for r in rows}
        assert prev_keys <= keys  # coverage only grows
        assert len(rows) == len(keys)  # one row per key at every version
        prev_keys = keys


def test_streaming_mv_refresh_slicing_independent(spark, tmp_path):
    import os

    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_mv_refresh
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1 + i % 20), i % 3, ["a", "b"][i % 2], float(i) + 0.25, "{}")
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    ev.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))

    def norm(df):
        return sorted(
            (r["event_type"], r["n"], r["total_value"], r["vmin"], r["vmax"])
            for r in df.collect()
        )

    one = norm(run_streaming_mv_refresh(spark, d, n_input_files=1))
    four = norm(run_streaming_mv_refresh(spark, d, n_input_files=4))
    assert one == four  # exact associativity: any slicing, same view
    total = sum(r[1] for r in one)
    assert total == 40


def test_streaming_reads_directory_table_layout(spark, sf0001, tmp_path):
    """Round 9: _event_stream must handle the directory-of-part-files
    layout every real table (and the clone tiers) uses — the
    single-file pathGlobFilter shape would silently stream NOTHING
    from a directory. Result must equal the batch aggregate."""
    import os

    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.sources.readers import load_table
    from etl_challenge_localiza_spark.streaming.events_stream import (
        run_streaming_hourly,
    )

    sf = str(tmp_path)
    ev = load_table(spark, sf0001, "events")
    ev.repartition(3).write.parquet(os.path.join(sf, "events.parquet"))
    got = run_streaming_hourly(spark, sf)
    expected = QUERIES["events_hourly"].fn(spark, sf0001)
    g = got.select("hour_start", "event_type", "n_events")
    e = expected.select("hour_start", "event_type", "n_events")
    assert g.subtract(e).count() == 0
    assert e.subtract(g).count() == 0


def test_streaming_cms_slicing_invariance(spark, sf0001):
    """The CMS merge law in practice: 1-batch and 5-batch streaming
    builds must produce identical point-query answers (cellwise
    integer sums are exactly associative), and the never-seen probe
    term still upper-bounds 0."""
    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_cms_refresh

    one = {
        r["item"]: r["cms_est"]
        for r in run_streaming_cms_refresh(spark, sf0001, n_input_files=1).collect()
    }
    five = {
        r["item"]: r["cms_est"]
        for r in run_streaming_cms_refresh(spark, sf0001, n_input_files=5).collect()
    }
    assert one == five
    assert set(one) == {"spark", "hash", "join", "quantum"}
    assert all(v >= 0 for v in one.values())
    # the real terms are frequent in the generator vocabulary
    assert one["spark"] > 0 and one["hash"] > 0 and one["join"] > 0


def test_versioned_apply_is_exactly_once_under_retry(spark, tmp_path):
    """ADVICE r9: foreachBatch is at-least-once — a replayed micro-batch
    must NOT merge its delta twice. apply_versioned_batch must (a) no-op
    on an already-committed batch_id, (b) converge when a batch fails
    after the data write but before the marker commit and is then
    retried (the double-apply scenario), and (c) keep the version
    counter honest."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.streaming.upsert import (
        _read_applied,
        apply_versioned_batch,
    )

    base = str(tmp_path / "state")
    import os

    os.makedirs(base)

    def delta(n: int):
        return spark.range(1).select(F.lit(n).cast("long").alias("total"))

    def compute_add(n):
        def compute(prev):
            if prev is None:
                return delta(n)
            return prev.union(delta(n)).groupBy().agg(
                F.sum("total").cast("long").alias("total")
            )

        return compute

    def total():
        m = _read_applied(base)
        return spark.read.parquet(f"{base}/s{m['version']}").collect()[0]["total"]

    apply_versioned_batch(spark, base, "s", 0, compute_add(10))
    assert total() == 10 and _read_applied(base) == {"batch_id": 0, "version": 1}

    # (a) replayed batch 0: full no-op
    apply_versioned_batch(spark, base, "s", 0, compute_add(10))
    assert total() == 10 and _read_applied(base)["version"] == 1

    # (b) batch 1 writes its data, then "crashes" before the marker
    # commit — simulated by a compute that raises AFTER the caller
    # would have written; easiest faithful simulation: run the apply
    # fully, roll the marker back to batch 0, and retry batch 1. The
    # retry must OVERWRITE version 2 from version 1 (not re-merge on
    # top of a half-applied state), leaving total == 17 exactly once.
    apply_versioned_batch(spark, base, "s", 1, compute_add(7))
    assert total() == 17
    from etl_challenge_localiza_spark.streaming.upsert import _commit_applied

    _commit_applied(base, 0, 1)  # marker lost the batch-1 commit
    apply_versioned_batch(spark, base, "s", 1, compute_add(7))
    assert total() == 17, "retried batch double-applied its delta"
    assert _read_applied(base) == {"batch_id": 1, "version": 2}

    # (c) next batch proceeds normally on top
    apply_versioned_batch(spark, base, "s", 2, compute_add(5))
    assert total() == 22 and _read_applied(base)["version"] == 3


def test_versioned_apply_survives_query_restart(spark, tmp_path):
    """End-to-end exactly-once: a foreachBatch apply that CRASHES after
    its data write (before the marker commit) fails the query; a
    restart from the same checkpoint replays that micro-batch — the
    marker path must converge to the same totals as a clean run, with
    no double-applied delta."""
    import os

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.streaming.upsert import (
        _read_applied,
        apply_versioned_batch,
    )

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").cast("long").alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
    base = str(tmp_path / "state")
    os.makedirs(base)
    ckpt = str(tmp_path / "ckpt")
    crash = {"armed": True}

    def _apply(batch_df, batch_id):
        def compute(prev):
            delta = batch_df.agg(F.sum("v").cast("long").alias("total"))
            if prev is None:
                return delta
            return prev.union(delta).groupBy().agg(
                F.sum("total").cast("long").alias("total")
            )

        apply_versioned_batch(batch_df.sparkSession, base, "s", batch_id, compute)
        if crash["armed"] and batch_id >= 1:
            # crash AFTER the versioned write + marker commit of this
            # batch has happened inside apply_versioned_batch? No —
            # to model the worst case, roll the marker back first so
            # the restart sees a half-applied batch, then die.
            m = _read_applied(base)
            if m and m["batch_id"] == batch_id:
                # simulate "data written, marker commit lost with the
                # driver" — the documented crash point
                from etl_challenge_localiza_spark.streaming.upsert import (
                    _commit_applied,
                )

                _commit_applied(base, batch_id - 1, m["version"] - 1)
            crash["armed"] = False
            raise RuntimeError("injected crash after data write")

    schema = spark.read.parquet(src).schema

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        err = None
        try:
            q.awaitTermination(120)
        except Exception as e:  # StreamingQueryException on batch failure
            err = e
        finally:
            if q.isActive:
                q.stop()
        return err

    first = run()
    assert first is not None and "injected crash" in str(first)
    second = run()
    assert second is None
    m = _read_applied(base)
    total = spark.read.parquet(f"{base}/s{m['version']}").collect()[0]["total"]
    assert total == sum(range(30)), f"state diverged after restart: {total}"


@pytest.mark.parametrize("kind", ["mv", "cms"])
def test_refreshers_exactly_once_under_torn_commit(spark, tmp_path, monkeypatch, kind):
    """VERDICT r10 #6: drive the crash-BETWEEN-data-write-and-marker
    window through run_streaming_mv_refresh and run_streaming_cms_refresh
    END-TO-END (their state layouts differ — |types|-row agg states vs
    d×w sketch cells), not just through the shared helper. The injected
    fault applies the batch fully, then loses the marker commit and
    kills the query; a restart from the same checkpoint replays the
    micro-batch and must converge to the clean single-shot answer."""
    import etl_challenge_localiza_spark.streaming.upsert as U

    real_apply = U.apply_versioned_batch
    crash = {"armed": True}

    def torn_apply(sess, base, prefix, batch_id, compute):
        real_apply(sess, base, prefix, batch_id, compute)
        if crash["armed"] and batch_id >= 1:
            m = U._read_applied(base)
            if m and m["batch_id"] == batch_id:
                # data for v{n} is on disk; the marker commit is lost
                # with the driver — the documented torn-commit window
                U._commit_applied(base, batch_id - 1, m["version"] - 1)
            crash["armed"] = False
            raise RuntimeError("injected torn commit")

    sf = "/root/testdata/sf0.001"
    run = (
        U.run_streaming_mv_refresh if kind == "mv" else U.run_streaming_cms_refresh
    )
    state = str(tmp_path / "state")
    os.makedirs(state)

    monkeypatch.setattr(U, "apply_versioned_batch", torn_apply)
    with pytest.raises(Exception) as e:
        run(spark, sf, state_base=state)
    assert "injected torn commit" in str(e.value)

    # restart from the same checkpoint: the replayed batch re-applies
    # from the rolled-back version, later batches proceed normally
    out = run(spark, sf, state_base=state)

    monkeypatch.setattr(U, "apply_versioned_batch", real_apply)
    clean = run(spark, sf)  # fresh temp state, no injection

    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, out.collect())) == sorted(map(key, clean.collect()))


def test_streaming_ivf_refresh_matches_batch_search(spark, sf0001):
    """The vec-0 probe answered from the stream-built index equals the
    batch ivf_search_vec0 answer exactly (fixed codebook => assignment
    is a pure per-vector function)."""
    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_ivf_refresh

    got = run_streaming_ivf_refresh(spark, sf0001, n_input_files=3)
    want = QUERIES["ivf_search_vec0"].fn(spark, sf0001)
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_streaming_ivf_index_slicing_invariant_and_pruned(spark, sf0001, tmp_path):
    """(a) The raw index rows (vec_id, centroid_id) are IDENTICAL for
    2-batch and 5-batch slicings of the same input; (b) a probe read
    of the persisted index prunes to the probed bucket directories
    (PartitionFilters on centroid_id, the ivf_index_roundtrip
    guarantee carried over to the streamed layout)."""
    import os

    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_ivf_refresh

    contents = []
    idx_paths = []
    for i, nf in enumerate((2, 5)):
        state = str(tmp_path / f"ivf{i}")
        os.makedirs(state)
        run_streaming_ivf_refresh(spark, sf0001, n_input_files=nf, state_base=state)
        idx = spark.read.parquet(os.path.join(state, "index"))
        contents.append(
            sorted(
                (r["vec_id"], r["centroid_id"])
                for r in idx.select("vec_id", "centroid_id").collect()
            )
        )
        idx_paths.append(os.path.join(state, "index"))
    assert contents[0] == contents[1]
    assert len(contents[0]) == len(set(contents[0]))  # no duplicate vectors

    probe = spark.read.parquet(idx_paths[0]).filter(
        F.col("centroid_id").isin([0, 1])
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


def test_streaming_ivf_restart_is_idempotent(spark, sf0001, tmp_path):
    """A second invocation over the same state_base (checkpoint
    already fully committed) replays nothing: the index row set and
    the final answer are unchanged — the dynamic-partition-overwrite
    layout's exactly-once claim."""
    import os

    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_ivf_refresh

    state = str(tmp_path / "ivfr")
    os.makedirs(state)
    first = run_streaming_ivf_refresh(spark, sf0001, n_input_files=3, state_base=state)
    rows1 = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(state, "index"))
        .select("vec_id", "centroid_id")
        .collect()
    )
    second = run_streaming_ivf_refresh(spark, sf0001, n_input_files=3, state_base=state)
    rows2 = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(os.path.join(state, "index"))
        .select("vec_id", "centroid_id")
        .collect()
    )
    assert rows1 == rows2
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, first.collect())) == sorted(map(key, second.collect()))


@pytest.mark.parametrize("timed_out", [False, True], ids=["finished", "timeout"])
@pytest.mark.parametrize(
    "query",
    [
        "stateful_user_totals",
        "streaming_hourly",
        "streaming_dedup_events",
        "streaming_upsert_latest",
    ],
)
def test_streaming_runner_leaves_nothing_behind(
    spark, sf0001, tmp_path, monkeypatch, query, timed_out
):
    """Every exit path of a runner releases what it acquired: no active
    stream, no memory-sink temp view, no checkpoint or staging dir. A
    forced timeout must raise TimeoutError (never hand back a partial
    sink), and a finished run's batch result must stay readable after
    its view is gone."""
    import tempfile

    from etl_challenge_localiza_spark.streaming.events_stream import (
        run_streaming_dedup,
    )
    from etl_challenge_localiza_spark.streaming.stateful import (
        run_stateful_user_totals,
    )
    from etl_challenge_localiza_spark.streaming.upsert import (
        run_streaming_upsert_latest,
    )

    run = {
        "stateful_user_totals": run_stateful_user_totals,
        "streaming_hourly": run_streaming_hourly,
        "streaming_dedup_events": run_streaming_dedup,
        "streaming_upsert_latest": run_streaming_upsert_latest,
    }[query]
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def held():
        views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
        return views, sorted(q.id for q in spark.streams.active)

    before = held()
    if timed_out:
        with pytest.raises(TimeoutError):
            run(spark, sf0001, timeout_sec=0.001)
    else:
        assert run(spark, sf0001).count() > 0
    assert held() == before
    assert os.listdir(tmp_path) == []
