"""Session activity tracker on Spark 4's transformWithStateInPandas —
the successor API to applyInPandasWithState (typed state variables,
TTL, timers). Complements streaming/stateful.py's cart operator: this
one maintains running per-user session statistics.

State: one ValueState holding (n_events, value_cents, last_us). TTL
handles eviction declaratively (no timer bookkeeping) — expired state
simply disappears, so an idle user's next event starts a fresh
session, reproducing the 10-minute inactivity rule
(/root/reference/kafka/producer/event_producer.py:90-95) under
processing-time TTL semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("value_cents", LongType(), False),
        StructField("last_us", LongType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", IntegerType(), True),
        StructField("value_cents", LongType(), True),
        StructField("last_us", LongType(), True),
    ]
)


class SessionTracker(StatefulProcessor):
    """Accumulates per-user event count + fixed-point value sum; the
    state expires after 10 minutes without input."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("session", STATE_SCHEMA, 10 * 60 * 1000)

    def handleInputRows(self, key, rows, timerValues):
        n_events, value_cents, last_us = 0, 0, 0
        if self._state.exists():
            n_events, value_cents, last_us = self._state.get()
        for pdf in rows:
            n_events += len(pdf)
            # per-row fixed-point BEFORE summing: a float sum rounded
            # once per batch would make cent totals batch-boundary-
            # dependent (project float-parity discipline)
            value_cents += int((pdf["value"] * 100).round().astype("int64").sum())
            batch_max_us = int(pd.to_datetime(pdf["ts"]).max().value // 1000)
            last_us = max(last_us, batch_max_us)
        self._state.update((n_events, value_cents, last_us))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n_events,
                    "value_cents": value_cents,
                    "last_us": last_us,
                }
            ]
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """transformWithState's python driver worker needs google.protobuf;
    absent/broken in some environments (no install allowed here)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def track_sessions(events: DataFrame) -> DataFrame:
    """events: streaming frame with user_id, ts, value columns.

    Raises NotImplementedError when the runtime lacks protobuf (the
    transformWithState worker dependency) — the applyInPandasWithState
    cart operator in streaming/stateful.py covers custom stateful
    streaming in those environments. (Probe 2026-08-17, round 16:
    google.protobuf
    is absent from this sandbox and unfetchable — no network egress,
    installs forbidden — so the gate stays; tws_available() flips the
    path on automatically in runtimes that have it.)
    """
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires the google.protobuf "
            "package, which this runtime lacks; use "
            "streaming.stateful.streaming_cart_state instead"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionTracker(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
