"""Reusable column expressions.

Cross-engine determinism
------------------------
The correctness harness diffs every query against a DuckDB oracle by
value hash, so float expressions must produce *bit-identical* results in
both engines. Summing doubles is order-dependent (Spark and DuckDB merge
partitions in different orders), so aggregates over money columns use
**per-row fixed-point**: ``round(x * scale)`` cast to long (per-row IEEE
ops are deterministic across engines), exact integer sums, and a final
divide-by-scale presented as double. The test money columns are exact
2-dp values, discounts/taxes 2-dp, so scale 1e4 (price*(1-disc)) and
1e6 (price*(1-disc)*(1+tax)) are exact.

At 100 TB the same pattern holds (int64 sums overflow only past ~9e14
dollars); the production-hardening alternative is ``DecimalType`` sums,
which Spark also executes exactly.

Reference semantics reproduced here (SURVEY.md §2.2): line-total money
arithmetic P8 (`/root/reference/data/schemas/events.py:142-144`), order
reconciliation P9 (`:167-177`). The P13 quality-score clamp lives in
``operators.validation``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CENTS = 100  # scale for 2-dp money
TENTH_CENTS_4 = 10_000  # scale for price*(1-disc): 2dp * 2dp -> 4dp
MICRO_6 = 1_000_000  # scale for price*(1-disc)*(1+tax): 6dp


def to_fixed(col: Column | str, scale: int) -> Column:
    """Per-row fixed-point: round(x*scale) as long (exact for k-dp data)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale)).cast("long")


def fixed_sum(col: Column | str, scale: int, alias: str) -> Column:
    """Exact integer sum of a fixed-point expression, presented as double."""
    return (F.sum(to_fixed(col, scale)) / F.lit(float(scale))).alias(alias)


def fixed_avg(col: Column | str, scale: int, alias: str) -> Column:
    """Deterministic average: exact int sum / count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(to_fixed(c, scale)) / F.lit(float(scale)) / F.count(c)
    ).alias(alias)


def line_revenue() -> Column:
    """P8: l_extendedprice * (1 - l_discount)."""
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def line_charge() -> Column:
    """P8 extended: revenue * (1 + l_tax)."""
    return line_revenue() * (F.lit(1.0) + F.col("l_tax"))


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch as long — exact parity with DuckDB epoch_us."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c)


def decimal_sum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Production-hardening alternative to ``fixed_sum``: exact
    DecimalType accumulation. Unlike int64 fixed-point (overflow past
    ~9e12 dollars at scale 1e6), decimal sums widen automatically.
    Overflow behavior depends on ``spark.sql.ansi.enabled``: true ->
    Spark raises; false (the session default here) -> the double->
    decimal cast and the decimal sum return NULL silently, dropping
    out-of-range values from the sum — enable ANSI (or use try_sum
    semantics deliberately) where a hard failure is wanted. The trade:
    decimal arithmetic is ~2-3x slower than long arithmetic and the
    result column is DecimalType (cast downstream as needed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).alias(alias)
