"""Expectation-suite compiler (SURVEY §2.3 A1-A9, §4.3 custom piece #1).

The reference's Great-Expectations-style suite runs one full pass per
expectation (/root/reference/data/quality/expectations.py:331-412).
Here a suite compiles into ONE ``agg()`` — a single scan regardless of
how many expectations it carries; Catalyst collapses the aggregate
expressions, and at 100 TB the suite costs exactly one map-side pass +
a 1-row reduce.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..functions import epoch_us


@dataclass(frozen=True)
class Expectation:
    """One expectation: named metric columns + a pass predicate over them."""

    name: str
    metrics: dict  # alias -> Column
    passes: "Column"  # boolean over the aggregated metrics


def expect_not_null(col: str) -> Expectation:
    m = F.sum(F.col(col).isNull().cast("int")).cast("long").alias(f"n_null_{col}")
    return Expectation(
        f"not_null_{col}", {f"n_null_{col}": m}, F.col(f"n_null_{col}") == 0
    )


def expect_unique(col: str) -> Expectation:
    m = (F.count(F.lit(1)) - F.countDistinct(F.col(col))).alias(f"n_dup_{col}")
    return Expectation(f"unique_{col}", {f"n_dup_{col}": m}, F.col(f"n_dup_{col}") == 0)


def _sample_of(cond, col: str, alias: str):
    """A3/A4 reporting detail: first-N violating values, deterministic
    (sorted distinct set sliced to N — the reference reports the first
    5 seen, expectations.py:368-382, which is scan-order dependent;
    sorted is the order-stable equivalent)."""
    return F.slice(
        F.sort_array(F.collect_set(F.when(cond, F.col(col)))), 1, 5
    ).alias(alias)


def expect_in_set(col: str, values: Sequence) -> Expectation:
    bad = ~F.col(col).isin(*values)
    m = F.sum(bad.cast("int")).cast("long").alias(f"n_bad_{col}")
    samples = _sample_of(bad, col, f"bad_samples_{col}")
    return Expectation(
        f"in_set_{col}",
        {f"n_bad_{col}": m, f"bad_samples_{col}": samples},
        F.col(f"n_bad_{col}") == 0,
    )


def expect_between(col: str, lo, hi) -> Expectation:
    oob = (F.col(col) < lo) | (F.col(col) > hi)
    m = F.sum(oob.cast("int")).cast("long").alias(f"n_oob_{col}")
    samples = _sample_of(oob, col, f"oob_samples_{col}")
    return Expectation(
        f"between_{col}",
        {f"n_oob_{col}": m, f"oob_samples_{col}": samples},
        F.col(f"n_oob_{col}") == 0,
    )


def expect_row_count(lo: int, hi: int) -> Expectation:
    m = F.count(F.lit(1)).alias("n_rows")
    return Expectation("row_count", {"n_rows": m}, F.col("n_rows").between(lo, hi))


def expect_distinct_ratio(col: str, lo: float, hi: float) -> Expectation:
    m = (F.countDistinct(F.col(col)) / (F.lit(1.0) * F.count(F.lit(1)))).alias(
        f"distinct_ratio_{col}"
    )
    return Expectation(
        f"distinct_ratio_{col}",
        {f"distinct_ratio_{col}": m},
        F.col(f"distinct_ratio_{col}").between(lo, hi),
    )


def expect_freshness(ts_col: str, max_age_hours: int, now: str) -> Expectation:
    nus = F.unix_micros(F.lit(now).cast("timestamp"))
    m = F.max(epoch_us(ts_col)).alias(f"max_us_{ts_col}")
    return Expectation(
        f"freshness_{ts_col}",
        {f"max_us_{ts_col}": m},
        F.col(f"max_us_{ts_col}")
        >= nus - F.lit(max_age_hours * 3_600_000_000),
    )


def compile_suite(df: DataFrame, expectations: Sequence[Expectation]) -> DataFrame:
    """Compile all expectations into one single-scan aggregate.

    Output: one row with every metric column, one ``pass_<name>`` bool
    per expectation, the integer ``n_passed`` count (for exact-integer
    score/gate arithmetic at engine boundaries), and ``quality_score``
    = passed/total.
    """
    metric_cols: dict = {}
    for e in expectations:
        metric_cols.update(e.metrics)
    agged = df.agg(*metric_cols.values())
    pass_cols = [e.passes.alias(f"pass_{e.name}") for e in expectations]
    out = agged.select("*", *pass_cols)
    score = None
    for e in expectations:
        c = F.col(f"pass_{e.name}").cast("int")
        score = c if score is None else score + c
    return out.withColumn("n_passed", score).withColumn(
        "quality_score",
        F.col("n_passed").cast("double") / F.lit(float(len(expectations))),
    )


def quality_gate(
    df: DataFrame, expectations: Sequence[Expectation], threshold: float = 0.95
) -> tuple[float, Row, bool]:
    """A9: run the suite, return (score, report_row, gate_passed).

    Mirrors the reference's warehouse-load gate
    (expectations.py:437-464): load proceeds only at score >= 0.95.
    """
    row = compile_suite(df, expectations).collect()[0]
    score = row["quality_score"]
    return score, row, bool(score >= threshold)


def events_expectation_suite(df: DataFrame, now: str) -> DataFrame:
    """The q18 suite: fixed shape matched by the DuckDB oracle."""
    from .validation import EVENT_TYPES

    nus = F.unix_micros(F.lit(now).cast("timestamp"))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("int")).cast("long").alias("n_null_user"),
        F.sum(F.col("event_id").isNull().cast("int"))
        .cast("long")
        .alias("n_null_event_id"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("n_dup_event_id"),
        (F.countDistinct("user_id") / (F.lit(1.0) * F.count(F.lit(1)))).alias(
            "distinct_user_ratio"
        ),
        F.sum((~F.col("event_type").isin(*EVENT_TYPES)).cast("int"))
        .cast("long")
        .alias("n_bad_type"),
        F.sum(((F.col("value") < 0) | (F.col("value") > 10_000)).cast("int"))
        .cast("long")
        .alias("n_value_oob"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        (F.max(epoch_us("ts")) >= nus - F.lit(7_200_000_000)).alias("freshness_pass"),
        F.count(F.lit(1)).between(100, 10_000_000).alias("row_count_pass"),
        (F.count(F.lit(1)) == F.countDistinct("event_id")).alias("uniqueness_pass"),
    )


def robust_outlier_stats(
    df: DataFrame,
    group_col: str,
    cents_col,
    k_sigma: int = 3,
) -> DataFrame:
    """Per-group robust (median/MAD) outlier census over an integer
    fixed-point metric — the data-quality screen that survives the
    heavy tails a mean/stddev z-score drowns in.

    A row is an outlier when |x - median| > k_sigma * 1.4826 * MAD
    (1.4826 scales MAD to sigma under normality). All comparisons run
    in integers: medians of ints are half-integers, so ``med2`` and
    ``mad4`` carry 2x / 4x scaled exact values and the flag is the
    cross-multiplication |2x - med2| * 20000 > k * 14826 * mad4 — no
    float rounding to drift cross-engine (the q67 Gopher-threshold
    discipline).

    Two grouped scans (median, then MAD of deviations) + one flagging
    pass — each a shuffle on ``group_col`` only. Returns
    (group_col, n, n_outliers, med2, mad4).
    """
    c = cents_col if isinstance(cents_col, Column) else F.col(cents_col)
    src = df.select(F.col(group_col), c.cast("long").alias("__c"))
    med = src.groupBy(group_col).agg(
        F.round(F.expr("percentile(__c, 0.5)") * 2).cast("long").alias("med2")
    )
    dev = src.join(F.broadcast(med), group_col).withColumn(
        "__dev2", F.abs(F.lit(2) * F.col("__c") - F.col("med2"))
    )
    mad = dev.groupBy(group_col, "med2").agg(
        F.round(F.expr("percentile(__dev2, 0.5)") * 2).cast("long").alias("mad4")
    )
    flagged = dev.join(F.broadcast(mad.select(group_col, "mad4")), group_col)
    return (
        flagged.groupBy(group_col, "med2", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("__dev2") * F.lit(20000)
                    > F.lit(k_sigma * 14826) * F.col("mad4")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .select(group_col, "n", "n_outliers", "med2", "mad4")
    )
