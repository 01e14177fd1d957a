"""Structured Streaming over the events table (SURVEY.md §2.9: the
reference is batch-only; this is the Spark-native streaming extension).

Two shapes:

- :func:`run_streaming_hourly` — tumbling 1-hour window aggregate in
  COMPLETE mode with an availableNow trigger and a memory sink. On a
  finite input this produces exactly the batch ``events_hourly`` result
  (the registry pairs it with the same SQL oracle). On a real cluster
  the memory sink becomes a Delta/Kafka/parquet sink and availableNow
  becomes a continuous trigger.
- :func:`hourly_stream_with_watermark` — the production shape: APPEND
  mode with a 2-hour watermark, so state for closed windows is dropped
  and late events beyond the watermark are discarded. Returned
  un-started so callers choose trigger/sink (tests drive it with
  availableNow; windows still inside the watermark at end-of-input are
  withheld, which is correct append semantics, not data loss).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.readers import load_table, ts_nanos_to_micros

#: event-time watermark delay of the watermarked stream shapes.
WATERMARK_DELAY = "2 hours"


def _event_stream(
    spark: SparkSession, sf_dir: str, options: dict[str, str] | None = None
) -> DataFrame:
    """readStream over the events parquet with the same ns→µs ts
    conversion as the batch reader (sources.readers.load_table).

    ``options`` are extra FileStreamSource options (e.g.
    ``maxFilesPerTrigger`` for callers that need to pin micro-batch
    boundaries)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).options(**(options or {}))
    if os.path.isdir(path):
        # directory-of-part-files layout (any real table, and the
        # clone tiers): stream the table directory itself — every
        # part file becomes streamable input
        stream = reader.parquet(path)
    else:
        # single-file testdata layout: FileStreamSource needs a
        # directory basePath; select the one file via pathGlobFilter
        # so the stream watches the table's directory.
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if schema["ts"].dataType.simpleString() == "bigint":
        # TIMESTAMP(NANOS) storage read as raw int64 (nanosAsLong)
        return ts_nanos_to_micros(stream)
    # µs-precision storage arrives as a native timestamp type;
    # normalize to NTZ for parity with the batch reader.
    return stream.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _await_available_now(q: StreamingQuery, timeout_sec: float, label: str) -> None:
    """Wait for an availableNow query to drain its input; the query is
    stopped on every exit path. A query still running at the deadline
    raises TimeoutError: its sink holds a partial (possibly empty)
    result, and handing that back would be a silent wrong answer."""
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"availableNow {label} did not finish within {timeout_sec}s"
            )
    finally:
        if q.isActive:
            q.stop()


def _run_to_memory(
    df: DataFrame, output_mode: str, name_prefix: str, timeout_sec: float
) -> DataFrame:
    """Run the finite stream ``df`` to completion (availableNow) into a
    memory sink and return the sink's rows as a batch DataFrame.

    The query gets its own temp checkpoint. On every exit path the
    query is stopped, its temp view dropped and the checkpoint removed:
    the returned frame holds the sink's in-memory plan, not the view
    name, so it stays readable after the drop."""
    spark = df.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_available_now(q, timeout_sec, f"streaming query {name!r}")
            return spark.table(name)
        finally:
            spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def _hourly_agg(stream: DataFrame) -> DataFrame:
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value"
        )
    )


def run_streaming_hourly(spark: SparkSession, sf_dir: str, timeout_sec: int = 300) -> DataFrame:
    """Run the finite stream to completion; return the result as a
    batch DataFrame (from the memory sink's table)."""
    agg = _hourly_agg(_event_stream(spark, sf_dir))
    return _run_to_memory(agg, "complete", "stream_hourly", timeout_sec)


def run_streaming_sliding(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Sliding-window streaming aggregate: 1-hour windows every 15
    minutes (each event belongs to 4 overlapping windows), COMPLETE
    mode with availableNow. On the finite input this equals the batch
    ``events_sliding_counts`` result — the registry pairs it with the
    identical SQL oracle."""
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete", "stream_sliding", timeout_sec)


def run_streaming_dedup(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` over the event
    stream keyed on (user_id, event_type) — the training-pipeline
    "emit each key once" shape. APPEND mode: each key's FIRST-seen row
    passes, later ones are swallowed by the dedup state store.

    Only the key columns are projected, so the output is deterministic
    (which physical row wins per key doesn't matter) and equals
    ``select distinct user_id, event_type`` on the batch table — the
    registry pairs it with exactly that oracle.

    Scale note: keys here are low-cardinality so state stays bounded;
    for unbounded keys (e.g. event_id) production code adds
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` so state is
    evicted — covered by the watermark variant in
    :func:`hourly_stream_with_watermark`.
    """
    deduped = (
        _event_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_to_memory(deduped, "append", "stream_dedup", timeout_sec)


def run_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Production streaming dedup for UNBOUNDED key spaces:
    ``dropDuplicatesWithinWatermark`` keyed on (user_id, event_type)
    with a 2-hour event-time watermark, so each key's state is EVICTED
    once the watermark passes it — bounded state forever, at the cost of
    re-admitting a duplicate that arrives later than the delay after
    its first occurrence (the documented trade; exact global dedup over
    an unbounded stream is impossible with finite state).

    On this finite input every duplicate of a key lands within one
    availableNow batch, so the result equals batch DISTINCT — the
    registry oracle. That single-batch precondition is ENFORCED here
    (maxFilesPerTrigger pinned far above any table's file count), not
    incidental: were the table split across micro-batches, a duplicate
    whose first occurrence fell beyond the watermark would re-emit and
    the oracle equality would silently break (round-4 advisor
    finding). tests/test_streaming.py drives the multi-batch case
    where a beyond-watermark duplicate IS re-emitted, proving the
    eviction actually happens."""
    deduped = (
        _event_stream(spark, sf_dir, options={"maxFilesPerTrigger": "1000000000"})
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(deduped, "append", "stream_dedup_wm", timeout_sec)


def hourly_stream_with_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode-ready windowed aggregate with late-data handling.

    Watermarks require TIMESTAMP (not NTZ) event time — with the UTC
    session the cast is instant-preserving.
    """
    stream = _event_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return _hourly_agg(stream.withWatermark("ts", WATERMARK_DELAY))


def interval_join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = WATERMARK_DELAY,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: for every click, the
    same-user purchases within 30 minutes after it.

    Both sides carry an event-time watermark and the join condition
    bounds purchase time to [click_ts, click_ts + W), so Spark can
    compute how long each side's state must be retained and evict it —
    the state-bounded production shape (an unconstrained stream-stream
    join would buffer both streams forever). how="inner": matches emit
    as soon as both rows have arrived; the watermark governs state
    eviction and late-row admission, not result withholding.
    how="leftOuter": additionally emits (click, null) once the
    watermark passes a click's window end with no match — the funnel-
    abandonment shape (pytest-verified; outer emissions are inherently
    watermark-delayed, so finite-input runs withhold trailing
    unmatched rows still inside the horizon).
    """
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
        ).withWatermark("c_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        ).withWatermark("p_ts", watermark)
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("interval 30 minutes")),
            how,
        )
        .select("click_id", "purchase_id")
    )


def run_streaming_interval_join(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Run the click→purchase interval join over two independent
    readStream sources of the events table to completion (APPEND mode,
    availableNow). On the finite input the result equals the batch
    range join restricted to click→purchase pairs — the registry pairs
    it with that SQL oracle (the events_followup_pairs shape,
    operators/rangejoin.py)."""
    clicks = _event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = _event_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = interval_join_streams(clicks, purchases)
    return _run_to_memory(joined, "append", "stream_ivjoin", timeout_sec)


def run_streaming_nation_rollup(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    nation dimension (broadcast — the canonical pattern for enriching
    a stream with a slowly-changing dim without restarting the query),
    then aggregates per nation in COMPLETE mode. On the finite input
    this equals the batch join+rollup — the registry pairs it with that
    SQL oracle.

    Scale note: the static side is re-read per micro-batch by design
    (that's how Structured Streaming picks up dim updates); a
    fixed-cardinality dim broadcast keeps the join shuffle-free on the
    stream side."""
    stream = _event_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    agg = (
        stream.join(
            F.broadcast(nation),
            (stream["user_id"] % 25) == nation["n_nationkey"],
            "left",
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "complete", "stream_nation", timeout_sec)


def run_streaming_sessions(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """STATEFUL session-window streaming aggregate: Spark's native
    ``session_window`` (30-min gap merge) over the event stream,
    COMPLETE mode with availableNow. Gap-merged sessions are the
    hardest streaming-state shape (windows have data-dependent bounds
    and MERGE as events arrive — unlike tumbling/sliding whose bounds
    are static); on the finite input this equals the batch
    ``session_window_stats`` result, so the registry pairs it with the
    identical islands-sessionization SQL oracle. The production shape
    swaps COMPLETE for append + ``withWatermark`` so closed sessions
    emit once and state is evicted (the streaming_dedup eviction
    pattern, proven in tests/test_streaming.py)."""
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy(F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end_padded"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete", "stream_sessions", timeout_sec)
