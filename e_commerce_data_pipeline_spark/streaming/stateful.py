"""Custom stateful streaming operator (SURVEY W3 streaming variant):
per-session cart state maintained across micro-batches with
``applyInPandasWithState``.

This is the streaming form of the reference producer's cart state
machine (/root/reference/kafka/producer/event_producer.py:134-136,
163-192): add_to_cart accumulates, remove_from_cart drops, an order
clears the cart. State lives in the checkpoint, so a restarted query
resumes exactly where it stopped; a session with no activity for the
timeout window is finalized and its state evicted (the 10-minute
expiry rule, producer.py:90-95).

Scale: state is partitioned by session_id (high cardinality, bounded
lifetime), so per-executor state stores stay small and eviction via
timeout prevents unbounded growth — the property that matters for a
continuously running 100 TB/day stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CART_OUTPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType(), False),
        StructField("cart_items", StringType(), True),  # csv of product ids
        StructField("cart_size", IntegerType(), False),
        StructField("n_adds", IntegerType(), False),
        StructField("n_orders", IntegerType(), False),
        StructField("finalized", BooleanType(), False),
    ]
)

CART_STATE_SCHEMA = StructType(
    [
        StructField("items", StringType(), True),
        StructField("n_adds", IntegerType(), True),
        StructField("n_orders", IntegerType(), True),
        StructField("last_us", LongType(), True),
    ]
)


def _cart_impl(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    session_id = key[0]
    if state.hasTimedOut:
        items, n_adds, n_orders, _ = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "session_id": session_id,
                    "cart_items": items,
                    "cart_size": len(items.split(",")) if items else 0,
                    "n_adds": n_adds,
                    "n_orders": n_orders,
                    "finalized": True,
                }
            ]
        )
        return

    if state.exists:
        items_csv, n_adds, n_orders, last_us = state.get
        cart = items_csv.split(",") if items_csv else []
    else:
        cart, n_adds, n_orders, last_us = [], 0, 0, 0

    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["timestamp", "event_id"], kind="mergesort"
    )
    for kind, product, ts in zip(
        rows["event_kind"], rows["product_id"], rows["timestamp"]
    ):
        if kind == "add_to_cart":
            cart.append(product)
            n_adds += 1
        elif kind == "remove_from_cart" and product in cart:
            cart.remove(product)
        elif kind == "order":
            cart.clear()
            n_orders += 1
        last_us = max(last_us, int(ts.value // 1000))

    state.update((",".join(cart), n_adds, n_orders, last_us))
    # event-time inactivity expiry: the session finalizes when the
    # WATERMARK (not the wall clock) passes last activity + timeout —
    # deterministic under replay and across restarts
    state.setTimeoutTimestamp(last_us // 1000 + 10 * 60 * 1000)
    yield pd.DataFrame(
        [
            {
                "session_id": session_id,
                "cart_items": ",".join(cart),
                "cart_size": len(cart),
                "n_adds": n_adds,
                "n_orders": n_orders,
                "finalized": False,
            }
        ]
    )


def streaming_cart_state(events: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """events: streaming frame with session_id, event_id, timestamp,
    event_kind, product_id. Emits the cart state per session per batch;
    emits a finalized row when the session's event-time timeout passes
    the watermark (the reference's 10-minute inactivity rule).

    Event-time (not processing-time) timeouts: expiry is driven by the
    data's own clock, so replays are deterministic and an availableNow
    drain terminates instead of idling on wall-clock timers.
    """
    return (
        events.withWatermark(ts_col, "10 seconds")
        .groupBy("session_id")
        .applyInPandasWithState(
            _cart_impl,
            outputStructType=CART_OUTPUT_SCHEMA,
            stateStructType=CART_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
