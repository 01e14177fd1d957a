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


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 arbitrary-state API
# ---------------------------------------------------------------------------

def run_tws_user_totals(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4 replacement for applyInPandasWithState: an object-oriented
    StatefulProcessor with typed state handles (ValueState here;
    ListState/MapState/timers for richer operators), RocksDB-backed so
    state scales past executor memory. Same semantics as
    :func:`running_user_totals`; on a finite input the final state
    equals the batch aggregate.

    ENVIRONMENT GATE: the TWS driver worker imports google.protobuf,
    which this container lacks (and installs are not allowed), so this
    raises at runtime here; tests skip via importorskip. The code path
    is the production form for protobuf-equipped deployments."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            # unrounded state, rounded emission (same policy as the
            # applyInPandasWithState operator above)
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            _event_stream(spark, sf_dir)
            .select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=UserTotals(),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
        )
        out = _run_to_memory(stream, "update", "tws_totals", timeout_sec)
    finally:
        # restore the default provider for subsequent queries
        try:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        except Exception:
            pass
    return _final_per_user(out)
