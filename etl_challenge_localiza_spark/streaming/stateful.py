"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.9: 'applyInPandasWithState for custom stateful
operators').

Per-user running totals: for each micro-batch, each user's state
(event count, value sum) is loaded, updated with the batch's Arrow
frames, and re-emitted — the building block for streaming feature
stores / per-entity counters that windowed aggregates can't express.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .events_stream import _event_stream, _run_to_memory

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n_events long, total_value double"


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    # keep the UNROUNDED running total in state — rounding belongs only
    # in the emitted row, else multi-batch triggers compound per-batch
    # rounding error and drift from the exact batch aggregate
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Attach the stateful per-user totals operator to an event stream."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _final_per_user(out: DataFrame) -> DataFrame:
    """An update-mode memory sink may hold one row per state update;
    keep the final emission per user (its highest running count)."""
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_stateful_user_totals(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Run the stateful operator over the finite events stream
    (availableNow) and return the final per-user totals."""
    events = _event_stream(spark, sf_dir).select("user_id", "value")
    stream = running_user_totals(events)
    return _final_per_user(
        _run_to_memory(stream, "update", "stateful_totals", timeout_sec)
    )

