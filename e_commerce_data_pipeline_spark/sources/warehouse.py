"""Quality-gated warehouse load (SURVEY S9).

The reference gates its Redshift load on the expectation-suite score
(/root/reference/data/quality/expectations.py:437-464): score < 0.95
aborts the load. Here the gate wraps any Spark writer; the warehouse
target is JDBC (`df.write.format("jdbc")`) or a Gold parquet path —
both behind the same gate.

No JDBC database exists in the test environment, so ``jdbc_writer``
only constructs the writer (no connection); the gate + parquet path is
fully exercised in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from ..operators.quality import Expectation, quality_gate


@dataclass
class GateResult:
    loaded: bool
    score: float
    report: dict


def gated_load(
    df: DataFrame,
    expectations: Sequence[Expectation],
    write_fn: Callable[[DataFrame], None],
) -> GateResult:
    """Run the suite on ``df``; invoke ``write_fn`` only if it passes
    (quality score >= 0.95).

    The suite costs one scan; the write is a second — at scale, cache
    ``df`` first if it is an expensive derivation rather than a table.
    """
    score, row, passed = quality_gate(df, expectations, 0.95)
    if passed:
        write_fn(df)
    return GateResult(loaded=passed, score=score, report=row.asDict())


def parquet_writer(path: str) -> Callable:
    def write(df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(path)

    return write


def jdbc_writer(url: str, table: str, **options: str) -> Callable:
    """Warehouse JDBC writer factory (constructed, connects on call)."""

    def write(df: DataFrame) -> None:
        w = df.write.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in options.items():
            w = w.option(k, v)
        w.mode("append").save()

    return write
