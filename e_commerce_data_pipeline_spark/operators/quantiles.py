"""Exact distributed quantiles by iterative histogram narrowing — the
scale path for order statistics. The suite's other percentile surfaces
are q41 (DuckDB-parity interpolated quantiles over a global sort —
exact but pays a total order) and q50 (Spark's approx_percentile —
cheap but a sketch). This operator is the classic third point
(BigQuery/Hive's exact-percentile strategy, and the
selection-algorithm analog of external quickselect): EXACT rank
statistics in O(log_B(range)) linear scans, no global sort, no sketch
error.

Round r holds a candidate interval [lo, hi] known to contain the
target rank. One scan histograms the column into B equal-width
INTEGER buckets of that interval (map-side partial agg, shuffle = B
rows per partition); the driver prefix-sums the B counts (B integers
— corpus-size independent), picks the bucket containing the rank,
rebases the rank below it, and recurses into that bucket's subrange.
The interval shrinks ~B-fold per round: 32-bit cents converge in <=4
scans, int64 in <=8, regardless of row count. Requires an integral
column (the repo-wide fixed-point discipline makes money/ratios
integral already); bucket edges are pure integer floor/ceil
arithmetic, so every engine computes identical intervals.

All quantiles narrow SIMULTANEOUSLY: one scan per round histograms
every still-open interval (a small literal explode over at most
|percents| tags), so total cost is rounds, not rounds x quantiles.

Rank convention: percentile p is the k-th smallest with
k = ceil(p * n / 100) (integer cross-multiplication) — the inverse
of DuckDB's quantile_disc / the ORDER BY ... OFFSET k-1 row, making
the oracle a three-line sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Widest histogram _auto_buckets picks: it bounds the driver's
# counters per open quantile per round.
_MAX_BUCKETS = 4096


def _auto_buckets(span: int) -> int:
    """Histogram width for a value interval of ``span``: the smallest
    power of two that converges in as few scans as the measured cap.

    The cost surface (measured r13/r16, PERF.md): scan count dominates
    (each scan is a full pass over the column), histogram width is the
    second-order term (B rows per partition into the shuffle, B
    counters on the driver) — 256/4096/65536 buckets read 3.25/2.20/
    3.33 s on q157 at sf0.1. So: take the scan count the 4096 cap
    achieves for this span, then shrink the histogram to the smallest
    power of two that still achieves it. At the pinned bench ranges
    this reproduces the hand-measured optimum exactly (q157's ~1e7
    cent span and q162's 2.22e10 slope span both resolve to 4096);
    narrower intervals — e.g. q162's residual pass — get a narrower
    histogram at the same scan count, and wider-than-measured corpora
    scale the width up only when that actually saves a scan."""

    def rounds(b: int) -> int:
        r, w = 0, span
        while w > 1:
            w = -(-w // b)  # intervals shrink to ceil-width buckets
            r += 1
        return r

    target = rounds(_MAX_BUCKETS)
    b = 2
    while b < _MAX_BUCKETS and rounds(b) > target:
        b *= 2
    return b


def exact_quantiles(
    df: DataFrame,
    col: str,
    percents: list[int],
    buckets: int | None = None,
) -> DataFrame:
    """Exact integer quantiles of ``df[col]`` (nulls ignored) for each
    integer percent in ``percents``. Returns a tiny DataFrame
    (percent, n, k, value) built driver-side — driver state is
    B counters per open quantile per round, never row data.

    ``buckets=None`` (default) derives the histogram width from the
    first scan's global min/max via :func:`_auto_buckets`; pass an
    explicit width to pin it. The result is EXACT at any width —
    bucket count is purely a performance knob."""
    spark: SparkSession = df.sparkSession
    vals = df.select(F.col(col).cast("long").alias("v")).filter(
        F.col("v").isNotNull()
    )
    vals = vals.cache()
    try:
        row = vals.agg(
            F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).collect()[0]
        n, glo, ghi = row["n"], row["lo"], row["hi"]
        if n == 0:
            return spark.createDataFrame(
                [], "percent int, n long, k long, value long"
            )
        if buckets is None:
            buckets = _auto_buckets(ghi - glo + 1)
        # state per percent: (k = remaining rank inside [lo, hi], lo, hi)
        state = {
            p: [max(1, -(-p * n // 100)), glo, ghi] for p in percents
        }  # ceil(p*n/100), clamped >= 1
        for _ in range(70):  # 2 buckets close a 64-bit range in 64 rounds
            open_ps = [p for p, (k, lo, hi) in state.items() if lo < hi]
            if not open_ps:
                break
            # one scan: histogram every open interval, tagged by percent
            cells = []
            for p in open_ps:
                _, lo, hi = state[p]
                w = hi - lo + 1  # Python int: exact at any range
                bw = -(-w // buckets)  # ceil width: idx < B
                if w > 1 << 62:
                    # an interval spanning more than half the int64
                    # domain makes v - lo itself overflow (ANSI
                    # ARITHMETIC_OVERFLOW; only the FIRST round can
                    # hit this — later intervals are <= range/B
                    # wide). Compute the bucket with decimal(38,0)
                    # INTEGRAL division (div, which returns an exact
                    # truncated bigint quotient): plain decimal `/`
                    # is wrong here — Spark reduces its result scale
                    # to 6 and HALF_UP-rounds, so floor(255.99999...)
                    # reads 256.
                    idx = F.expr(
                        f"(cast(v as decimal(38, 0)) - {lo}) div {bw}"
                    )
                else:
                    # the common rounds stay in long arithmetic
                    # (whole-stage codegen, no decimal cost)
                    idx = F.expr(f"(v - {lo}L) div {bw}L")
                cells.append(
                    F.when(
                        (F.col("v") >= lo) & (F.col("v") <= hi),
                        F.struct(F.lit(p).alias("p"), idx.alias("b")),
                    )
                )
            # cells outside every open interval are NULL; they are
            # dropped after the explode (array_compact would be an
            # interpreted lambda per row)
            hist = (
                vals.select(F.explode(F.array(*cells)).alias("c"))
                .filter(F.col("c").isNotNull())
                .groupBy("c.p", "c.b")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            counts: dict[int, dict[int, int]] = {p: {} for p in open_ps}
            for r in hist:
                counts[r["p"]][r["b"]] = r["cnt"]
            for p in open_ps:
                k, lo, hi = state[p]
                w = hi - lo + 1
                bw = -(-w // buckets)
                acc = 0
                for b in range(buckets):
                    c = counts[p].get(b, 0)
                    if acc + c >= k:
                        # bucket b holds values [lo + b*bw, lo + (b+1)*bw - 1]
                        state[p] = [
                            k - acc,
                            lo + b * bw,
                            min(lo + (b + 1) * bw - 1, hi),
                        ]
                        break
                    acc += c
        out = [
            (p, n, max(1, -(-p * n // 100)), state[p][1]) for p in percents
        ]
        return spark.createDataFrame(
            out, "percent int, n long, k long, value long"
        )
    finally:
        vals.unpersist()
