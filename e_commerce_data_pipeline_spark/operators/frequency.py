"""Distributed exact heavy hitters via Misra-Gries candidate
pre-filtering (north-star "text analysis" / corpus-audit surface: the
frequent-token, frequent-domain, frequent-user rollups every
training-data pipeline runs).

Why not a plain ``groupBy(item).count()``: at 100 TB the item column's
LONG TAIL (trillions of near-unique values) dominates the shuffle,
while only the handful of frequent items matter. The classic two-phase
answer keeps the tail out of the shuffle entirely:

1. **Candidates** — one ``mapInPandas`` scan runs a mergeable
   Misra-Gries summary (Agarwal et al., "Mergeable Summaries", PODS
   2012) with ``k`` counters per partition: per Arrow batch, add exact
   batch counts, then subtract the (k+1)-th largest running count and
   drop non-positives. Pigeonhole over partitions: any item with
   global freq > N/(k+1) exceeds n_p/(k+1) in at least one partition
   and therefore survives that partition's summary — the union of
   per-partition candidate sets is a SUPERSET of the true heavy
   hitters. At most k ids per partition come back; no shuffle.
2. **Exact recount** — a second scan counts ONLY rows matching the
   broadcast candidate set (a broadcast semi-join inside the scan
   stage), then keeps items with ``freq * (k + 1) > N`` — integer
   cross-multiplication, no division to drift cross-engine. The
   shuffle moves at most (#partitions x k) partial rows.

The result is EXACT (superset from phase 1, exact filter in phase 2),
deterministic, and engine-portable: the oracle is a plain
count-group-having query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_candidates(items: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition mergeable Misra-Gries candidate items (<= k per
    partition). One linear scan, no shuffle; nulls are ignored."""

    def summarize(batches):
        import pandas as pd

        s = None
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            if len(vc) == 0:
                continue
            s = vc if s is None else s.add(vc, fill_value=0)
            if len(s) > k:
                # mergeable-MG reduce: subtract the (k+1)-th largest
                # count from every counter, keep strictly positive
                thr = s.nlargest(k + 1).iloc[-1]
                s = s[s > thr]
                s = s - thr
        if s is not None and len(s):
            yield pd.DataFrame({col: s.index.to_numpy()})

    return items.select(col).mapInPandas(summarize, items.select(col).schema)


def heavy_hitters(items: DataFrame, col: str, k: int = 200) -> DataFrame:
    """Exact items with frequency > N/(k+1) over ``items[col]``.

    Returns (col, freq, n_total) sorted by (freq DESC, col ASC).
    ``items`` is scanned twice (candidates, recount) — callers with an
    expensive upstream (e.g. an exploded tokenizer) should ``cache()``
    it. At scale the two scans are the point: neither shuffles the
    tail.
    """
    cand = mg_candidates(items, col, k).distinct()
    counted = (
        items.join(F.broadcast(cand), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = items.select(
        F.count(F.when(F.col(col).isNotNull(), 1)).alias("n_total")
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * (k + 1) > F.col("n_total"))
        .select(col, "freq", "n_total")
        .orderBy(F.desc("freq"), F.asc(col))
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): bounded-memory
# frequency estimation, complementing the exact Misra-Gries path above.
# Where MG answers "which items are heavy" exactly, CM answers "about
# how often is ANY item seen" in d*w counters total — the structure a
# 100 TB pipeline keeps per partition and merges by plain addition
# (counters are sums), with the one-sided guarantee est >= true.
# Buckets come from the portable md5-prefix hash family (the q128
# pattern) so an independent engine reproduces the sketch bit-for-bit.
# ---------------------------------------------------------------------------


def _cm_bucket(col: str, r: int, width: int):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cm:{r}:"), F.col(col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (h % width).cast("int")


def count_min_counters(
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build the d x w counter table: one map-side explode of d
    (row, bucket) cells per item, then a partial-agg groupBy — the
    shuffle carries at most depth*width rows per map partition, so
    sketch cost is corpus-INDEPENDENT past the scan. Null keys are
    excluded (no bucket). Returns (row, bucket, c)."""
    cells = items.filter(F.col(col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(col, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb")
    )
    return (
        cells.select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each key: est = min over the d rows
    of that key's counter. The counter table is d*w rows — a genuinely
    fixed-size computed frame, so the broadcast hint is safe at any
    corpus size. A bucket no key ever hashed into is an implicit 0
    (coalesce), keeping absent keys exact. Returns (key_col, cm_est);
    guarantee: cm_est >= true count, overestimate only from
    collisions."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(key_col, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cm_est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007): bounded-memory DISTINCT counting,
# completing the mergeable-sketch family (Misra-Gries: which items are
# heavy; Count-Min: how often is any item seen; HLL: how many distinct
# items exist). Spark ships approx_count_distinct (used, bound-checked,
# in q50), but its HLL++ registers are opaque JVM state — this variant
# builds the REGISTER TABLE itself from the portable md5-prefix hash
# family, so an independent engine reproduces the sketch bit-for-bit
# and the estimate is auditable. Registers merge by MAX, so shards /
# days / partitions combine without rescanning — the property a 100 TB
# pipeline actually buys sketches for.
#
# Portability discipline: rho (the leading-zero rank) is computed from
# the LENGTH OF THE BINARY-STRING rendering of the hash remainder
# (bin() in both engines), never floor(log2(x)) — log2 in doubles
# rounds 2^k - 1 UP to k near the 52-bit edge and libm/JVM may disagree
# in the last ulp. String length is exact everywhere. The harmonic sum
# is kept as an INTEGER (terms 2^(B - M_j) with B the max rho, so the
# empty-register term 2^B and the deepest term 1 are both exact); the
# only float is one multiply+divide at the very end, written with the
# same literal in both engines.
# ---------------------------------------------------------------------------

# alpha_m bias correction from the HLL paper (m >= 128 uses the closed
# form 0.7213 / (1 + 1.079 / m))
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_register_exprs(col: str, p: int, salt: str = "hll"):
    """(hash, rho) column expressions of the portable HLL — shared by
    the batch builder and the streaming aggregation (the register
    table is a plain groupBy-MAX, so Structured Streaming maintains
    it as bounded state of at most 2**p rows)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")  # 60 uniform bits, positive
    rem = F.shiftright(h, p)  # integer floor-div by m: h >= 0
    bits = 60 - p
    rho = F.when(rem == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits + 1) - F.length(F.bin(rem))
    )
    return h, rho


def hll_registers(
    items: DataFrame,
    col: str,
    p: int = 6,
    salt: str = "hll",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The m = 2**p NON-EMPTY registers of an HLL sketch over
    ``items[col]``: (register, m_j) with m_j = max over hashed values
    landing in that register of (1 + leading zeros of the 60-p bit
    hash remainder). One groupBy of at most m groups — partial MAX
    map-side, shuffle bounded by m rows per map partition, corpus-
    independent past the scan. Null keys are ignored. Registers merge
    across frames by MAX on (register).

    ``group_cols`` builds one independent sketch PER GROUP (per day,
    per shard, ...) in the same pass — shuffle becomes |groups| * m
    summary rows; downstream merges (e.g. a rolling-window MAX over
    day sketches) never touch row data again."""
    m = 1 << p
    groups = [F.col(g) for g in (group_cols or [])]
    h, rho = hll_register_exprs(col, p, salt)
    return (
        items.filter(F.col(col).isNotNull())
        .select(*groups, (h % m).cast("int").alias("register"), rho.alias("rho"))
        .groupBy(*(group_cols or []), "register")
        .agg(F.max("rho").cast("int").alias("m_j"))
    )


def hll_estimate(registers: DataFrame, p: int = 6) -> DataFrame:
    """Raw HLL estimate from a register table: one row
    (m, nonzero_registers, harmonic_scaled, hll_est). harmonic_scaled
    is the EXACT integer sum over all m registers of 2**(B - M_j)
    (B = 61 - p, the max possible rho; absent registers count M_j = 0,
    folded in as (m - nonzero) * 2**B without materializing them), so
    hll_est = alpha_m * m^2 * 2**B / harmonic_scaled involves exactly
    one float multiply and one divide. NOTE: this is the raw estimator
    only — callers must be in the raw regime (true distinct well above
    2.5 * m); the small-range linear-counting branch needs ln() and is
    deliberately not implemented cross-engine."""
    m = 1 << p
    big = 1 << (61 - p)  # 2**B
    alpha = _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))
    numer = float(alpha * m * m * big)  # one Python double, same literal
    return registers.agg(
        F.lit(m).cast("int").alias("m"),
        F.count(F.lit(1)).cast("int").alias("nonzero_registers"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {61 - p} - m_j)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(big).cast("long")
        ).alias("harmonic_scaled"),
    ).select(
        "m",
        "nonzero_registers",
        "harmonic_scaled",
        F.round(F.lit(numer) / F.col("harmonic_scaled"), 3).alias("hll_est"),
    )
