"""Unit tests for the reference event-schema validators: the edge cases
the reference encodes (SURVEY §5.2): tolerance bounds, score clamping,
CDC op/image combinations, empty items, stale/future timestamps."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from e_commerce_data_pipeline_spark.operators.validation import (
    validate_cdc,
    validate_clicks,
    validate_orders,
)

CLICK_SCHEMA = (
    "event_id string, session_id string, click_type string, "
    "page_url string, device_type string"
)


def _clicks(spark, rows):
    return spark.createDataFrame(rows, schema=CLICK_SCHEMA)


def _violations(df):
    return {
        r["event_id"]: (set(r["violations"]), r["quality_score"], r["is_valid"])
        for r in df.collect()
    }


def _ordered_violations(df):
    """event_id -> the violation codes as the list the row carries (in
    check order, no NULL slots)."""
    return {r["event_id"]: r["violations"] for r in df.collect()}


def test_click_validation(spark):
    df = _clicks(
        spark,
        [
            ("ok", "s1", "page_view", "https://x.com/a", "mobile"),
            ("bad_click", "s1", "teleport", "http://x.com", "desktop"),
            ("bad_url", "s1", "search", "ftp://x.com", "tablet"),
            ("missing", None, "page_view", "https://x.com", "mobile"),
            ("bad_device", "s2", "page_view", "https://x.com", "toaster"),
            ("blank_url", "s3", "page_view", " ", "mobile"),
        ],
    )
    validated = validate_clicks(df)
    v = _violations(validated)
    assert v["ok"] == (set(), 1.0, True)
    assert v["bad_click"][0] == {"invalid_click_type"}
    assert v["bad_click"][1] == 0.8  # penalty 0.2
    assert v["bad_url"][0] == {"invalid_url_format"}
    assert "missing_required_field" in v["missing"][0]
    assert v["bad_device"][0] == {"invalid_device_type"}
    ordered = _ordered_violations(validated)
    assert ordered["blank_url"] == ["invalid_url_format", "empty_page_url"]
    assert ordered["ok"] == []


ORDER_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("order_id", StringType()),
        StructField("order_status", StringType()),
        StructField("total_amount", DoubleType()),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("quantity", IntegerType()),
                        StructField("unit_price", DoubleType()),
                        StructField("discount_pct", DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def _orders(spark, rows):
    return spark.createDataFrame(rows, schema=ORDER_SCHEMA)


def test_order_reconciliation_tolerance(spark):
    # 2 * 10.00 * (1 - 10/100) = 18.00
    df = _orders(
        spark,
        [
            ("exact", "o1", "pending", 18.00, [(2, 10.0, 10.0)]),
            ("within_50c", "o2", "pending", 18.40, [(2, 10.0, 10.0)]),
            ("beyond_50c", "o3", "pending", 18.51, [(2, 10.0, 10.0)]),
        ],
    )
    v = _violations(validate_orders(df, tolerance=0.50))
    assert v["exact"][0] == set()
    assert v["within_50c"][0] == set()
    assert v["beyond_50c"][0] == {"total_mismatch"}
    # the schema-level 1c parameterization flags the 40c drift too
    v1 = _violations(validate_orders(df, tolerance=0.01))
    assert v1["within_50c"][0] == {"total_mismatch"}


def test_order_empty_items_and_ranges(spark):
    df = _orders(
        spark,
        [
            ("empty", "o1", "pending", 0.0, []),
            ("bad_item", "o2", "shipped", 9.0, [(0, 9.0, 0.0)]),
            ("too_big", "o3", "shipped", 200000.0, [(1, 200000.0, 0.0)]),
            ("bad_status", "o4", "lost", 9.0, [(1, 9.0, 0.0)]),
            ("lost_and_big", "o5", "lost", 200000.0, [(1, 200000.0, 0.0)]),
            ("clean", "o6", "shipped", 9.0, [(1, 9.0, 0.0)]),
        ],
    )
    validated = validate_orders(df)
    v = _violations(validated)
    assert "empty_items" in v["empty"][0]
    assert "invalid_item_values" in v["bad_item"][0]
    assert "total_amount_out_of_range" in v["too_big"][0]
    assert v["bad_status"][0] == {"invalid_order_status"}
    ordered = _ordered_violations(validated)
    assert ordered["lost_and_big"] == [
        "invalid_order_status",
        "total_amount_out_of_range",
    ]
    assert ordered["clean"] == []


def test_score_clamps_at_zero(spark):
    # 5+ violations x 0.25 penalty must clamp at 0, not go negative
    df = _orders(spark, [("awful", None, "lost", -5.0, [])])
    row = validate_orders(df).collect()[0]
    assert row["quality_score"] == 0.0
    assert row["n_violations"] >= 4


CDC_IMG = StructType(
    [
        StructField("product_id", StringType()),
        StructField("stock_quantity", IntegerType()),
    ]
)
CDC_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("operation", StringType()),
        StructField("before", CDC_IMG),
        StructField("after", CDC_IMG),
    ]
)


@pytest.mark.parametrize(
    "event_id,op,before,after,expected",
    [
        ("i_ok", "INSERT", None, ("p1", 5), []),
        ("i_bad", "INSERT", None, None, ["insert_missing_after"]),
        ("d_ok", "DELETE", ("p1", 5), None, []),
        ("d_bad", "DELETE", None, None, ["delete_missing_before"]),
        ("u_ok", "UPDATE", ("p1", 5), ("p1", 3), []),
        ("neg", "UPDATE", ("p1", -1), ("p1", 3), ["negative_stock"]),
        ("bad_op", "UPSERT", None, ("p1", 1), ["invalid_operation"]),
        (
            "i_neg_bad",
            "INSERT",
            ("p1", -1),
            None,
            ["insert_missing_after", "negative_stock"],
        ),
    ],
)
def test_cdc_consistency(spark, event_id, op, before, after, expected):
    df = spark.createDataFrame([(event_id, op, before, after)], schema=CDC_SCHEMA)
    assert _ordered_violations(validate_cdc(df))[event_id] == expected


def test_snapshot_diff_all_statuses(spark):
    from e_commerce_data_pipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (3, "", 30)],
        "k long, s string, v long",
    )
    out = {
        r["k"]: r["diff_status"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "changed",  # null vs empty string must NOT collide
        4: "added",
    }
    # removal direction
    out2 = {
        r["k"]: r["diff_status"]
        for r in snapshot_diff(new, old, ["k"]).collect()
    }
    assert out2[4] == "removed"
