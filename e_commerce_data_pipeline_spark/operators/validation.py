"""Row-level validation operators (SURVEY §2.2, P1-P16).

Reproduces the reference's per-event quality predicates as pure column
expressions: required fields (P2), vocabulary membership (P3), numeric
ranges (P7), timestamp staleness (P6), violation collection (P12) and
quality scoring (P13) — reference at
/root/reference/data/quality/expectations.py:52-171 and
/root/reference/data/schemas/events.py:121-177.

Everything is a single projection over the scan — no shuffle, fully
inside whole-stage codegen, and the same expression tree Catalyst can
push into a streaming micro-batch (streaming/stream_processor.py).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import epoch_us

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
US_PER_HOUR = 3_600_000_000
US_PER_DAY = 86_400_000_000


def _now_us(now: str) -> Column:
    return F.unix_micros(F.lit(now).cast("timestamp"))


def event_checks(now: str) -> list[tuple[Column, str]]:
    """(violation_condition, code) pairs for the generic events table.

    Order matters: codes are concatenated in this order, matching the
    oracle SQL. Staleness bounds are the reference's 24 h / +1 h
    (expectations.py:85-90) against a fixed ``now``.
    """
    nus = _now_us(now)
    return [
        (F.col("user_id").isNull(), "missing_user"),
        (
            ~F.col("event_type").isin(*EVENT_TYPES) | F.col("event_type").isNull(),
            "bad_type",
        ),
        (
            (F.col("value") < 0) | (F.col("value") > 10_000) | F.col("value").isNull(),
            "value_range",
        ),
        (epoch_us("ts") < nus - F.lit(US_PER_DAY), "stale"),
        (epoch_us("ts") > nus + F.lit(US_PER_HOUR), "future"),
    ]


def violation_count(checks: list[tuple[Column, str]]) -> Column:
    """P12: the number of failed (violation_condition, code) checks per
    row, as a left-folded int sum of 0/1 flags."""
    return reduce(operator.add, [F.when(cond, 1).otherwise(0) for cond, _ in checks])


def event_quality_checks(df: DataFrame, now: str) -> DataFrame:
    """Per-event violation string, count, and quality score.

    ``violations`` is a comma-joined code string (concat_ws skips the
    non-violated NULL slots identically in Spark and DuckDB);
    ``quality_score`` applies the reference's 0.25-per-violation
    penalty clamped at 0, computed in integer hundredths.
    """
    checks = event_checks(now)
    codes = [F.when(cond, F.lit(code)) for cond, code in checks]
    n_viol = violation_count(checks)
    return df.select(
        "event_id",
        F.concat_ws(",", *codes).alias("violations"),
        n_viol.cast("int").alias("n_violations"),
        (
            F.greatest(F.lit(0), F.lit(100) - F.lit(25) * n_viol) / F.lit(100.0)
        ).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Reference event-schema validators (click / order / CDC streams)
# ---------------------------------------------------------------------------

CLICK_TYPES = (
    "page_view",
    "product_view",
    "search",
    "add_to_cart",
    "remove_from_cart",
    "wishlist_add",
    "checkout_start",
)
DEVICE_TYPES = ("mobile", "desktop", "tablet")
ORDER_STATUSES = ("pending", "confirmed", "shipped", "delivered", "cancelled", "refunded")
CDC_OPS = ("INSERT", "UPDATE", "DELETE")


def _apply(df: DataFrame, checks: list[tuple[Column, str]], penalty_cents: int) -> DataFrame:
    codes = [F.when(cond, F.lit(code)) for cond, code in checks]
    # array_except keeps the first array's order and drops the NULL
    # slots (the codes are distinct, so its dedup changes nothing);
    # array_compact is a filter(x -> isnotnull(x)) lambda, which runs
    # interpreted and takes the whole projection out of codegen.
    no_code = F.array(F.lit(None).cast("string"))
    # Each check is evaluated once, in ``violations``: a check with a
    # NULL condition is neither a code nor a count, so size() is the
    # number of failed checks, and the score derives from that count.
    n_viol = F.col("n_violations")
    return (
        df.withColumn("violations", F.array_except(F.array(*codes), no_code))
        .withColumn("n_violations", F.size("violations"))
        .withColumn(
            "quality_score",
            F.greatest(F.lit(0), F.lit(100) - F.lit(penalty_cents) * n_viol)
            / F.lit(100.0),
        )
        .withColumn("is_valid", n_viol == 0)
    )


def validate_clicks(df: DataFrame) -> DataFrame:
    """Click-event checks (expectations.py:52-94; penalty 0.2/violation)."""
    checks = [
        (
            F.col("event_id").isNull()
            | F.col("session_id").isNull()
            | F.col("click_type").isNull()
            | F.col("page_url").isNull()
            | F.col("device_type").isNull(),
            "missing_required_field",
        ),
        (~F.coalesce(F.col("click_type").isin(*CLICK_TYPES), F.lit(False)), "invalid_click_type"),
        (~F.coalesce(F.col("device_type").isin(*DEVICE_TYPES), F.lit(False)), "invalid_device_type"),
        (
            ~F.coalesce(
                F.col("page_url").startswith("http://")
                | F.col("page_url").startswith("https://"),
                F.lit(False),
            ),
            "invalid_url_format",
        ),
        (F.coalesce(F.trim(F.col("page_url")) == "", F.lit(True)), "empty_page_url"),
    ]
    return _apply(df, checks, penalty_cents=20)


def validate_orders(df: DataFrame, tolerance: float = 0.50) -> DataFrame:
    """Order-event checks incl. P9 reconciliation (expectations.py:96-134).

    ``items`` is array<struct{quantity, unit_price, discount_pct}>; the
    stated total must match sum(qty*price*(1-disc/100)) within
    ``tolerance`` (50c quality bound; the 1c schema bound is a stricter
    parameterization of the same operator).
    """
    line_total = "x.quantity * x.unit_price * (1 - x.discount_pct / 100)"
    calc = F.expr(f"aggregate(items, 0D, (acc, x) -> acc + ({line_total}))")
    checks = [
        (
            F.col("event_id").isNull()
            | F.col("order_id").isNull()
            | F.col("order_status").isNull()
            | F.col("total_amount").isNull(),
            "missing_required_field",
        ),
        (~F.coalesce(F.col("order_status").isin(*ORDER_STATUSES), F.lit(False)), "invalid_order_status"),
        (
            F.coalesce(
                (F.col("total_amount") < 0) | (F.col("total_amount") > 100_000),
                F.lit(True),
            ),
            "total_amount_out_of_range",
        ),
        (F.coalesce(F.size("items") == 0, F.lit(True)), "empty_items"),
        (
            F.coalesce(
                F.exists(
                    "items",
                    lambda x: (x["quantity"] <= 0) | (x["unit_price"] <= 0),
                ),
                F.lit(False),
            ),
            "invalid_item_values",
        ),
        (
            F.coalesce(
                F.abs(F.col("total_amount") - calc) > F.lit(tolerance), F.lit(False)
            ),
            "total_mismatch",
        ),
    ]
    return _apply(df, checks, penalty_cents=25)


def validate_cdc(df: DataFrame) -> DataFrame:
    """CDC checks: op vocabulary + op/image consistency + stock >= 0
    (events.py:215-222, expectations.py:136-159; penalty 0.3)."""
    checks = [
        (
            F.col("event_id").isNull() | F.col("operation").isNull(),
            "missing_required_field",
        ),
        (~F.coalesce(F.col("operation").isin(*CDC_OPS), F.lit(False)), "invalid_operation"),
        (
            (F.col("operation") == "INSERT") & F.col("after").isNull(),
            "insert_missing_after",
        ),
        (
            (F.col("operation") == "DELETE") & F.col("before").isNull(),
            "delete_missing_before",
        ),
        (
            F.coalesce(F.col("before.stock_quantity") < 0, F.lit(False))
            | F.coalesce(F.col("after.stock_quantity") < 0, F.lit(False)),
            "negative_stock",
        ),
    ]
    return _apply(df, checks, penalty_cents=30)
