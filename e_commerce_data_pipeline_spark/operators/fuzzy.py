"""Fuzzy string matching / entity resolution over catalog-style
columns (names, titles, SKUs).

The scale discipline mirrors the dedup family: NEVER levenshtein the
raw table against itself. Edit distance is quadratic per comparison
and the self-join would be quadratic in rows; instead

1. **distinct first** — catalog columns are massively repeated
   (millions of rows, thousands of distinct names), so the pair
   search runs on the distinct value set;
2. **block, then compare** — candidate pairs must share a cheap block
   key (default: the last whitespace token, the head noun of a
   product name). The join is an equi-join on the block key, so the
   comparison count is sum(block^2) over distinct values, never
   corpus^2;
3. edit-distance filter runs JVM-side (``F.levenshtein``, codegen) on
   the blocked candidates only.

Rows map back to resolved pairs by joining on the name value — an
equi-join against the (tiny, broadcastable) pair frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_token(col) -> Column:
    """Default block key: the final whitespace token (head noun)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, r"\s+"), -1)


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """(name_a, name_b, distance) over the DISTINCT values of
    ``name_col``: pairs share a block key and sit within
    ``max_distance`` edits (name_a < name_b lexicographically).

    The block key is the name's ``last_token``. Blocking trades recall
    for tractability exactly like LSH banding: a pair differing in the
    block key itself is never compared.
    """
    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .select("name", last_token("name").alias("__blk"))
    )
    a = names.select(F.col("name").alias("name_a"), "__blk")
    b = names.select(F.col("name").alias("name_b"), "__blk")
    return (
        a.join(b, "__blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "distance", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("distance") <= max_distance)
        .select("name_a", "name_b", "distance")
    )


def auto_block_width(
    n: int,
    span: int,
    groups: int = 1,
    target_occupancy: float = 60.0,
    min_gap: int | None = None,
) -> int:
    """Bucket width for a numeric blocking key (``value div width``)
    over an ``n``-record corpus whose attribute spans ``span`` units
    across ``groups`` categorical co-keys: the width that holds
    expected block occupancy (n/groups) / (span/width) at
    ``target_occupancy``, so blocked pair cost — sum(block^2) — grows
    ~linearly with the corpus instead of quadratically. The round-15
    scale probe measured the fixed-width failure mode directly: q172's
    ``n_chars div 32`` key has a corpus-size-independent block count,
    so the 10x corpus ran 14.0x (PERF.md). Same knob family as
    ``dedup.auto_lsh_planes`` (log2 n) and ``ivf.auto_nlist``
    (sqrt n); here width ~ 1/n. At the sf0.1 documents corpus
    (n=5000, span=533, 5 langs) the default target returns the
    historical 32; at the 10x probe corpus it returns 3.

    RECALL trade, same shape as the LSH planes knob: a true pair
    whose attribute values differ by more than the (narrower) width
    is likelier to straddle a bucket boundary and never meet. For
    entity resolution over near-identical records the attribute gap
    is small by construction, and the standard remedy — a second
    pass with the buckets offset by width/2 (``fs_linkage_pairs``'s
    ``block_col2``, round 16) — at most doubles cost for GUARANTEED
    coverage of every pair with gap < width/2. Floor 1 (exact-value
    blocking).

    ``min_gap`` (round 16) turns that recall trade into an explicit
    contract: "true matches may differ by up to min_gap units" →
    the width floors at ``2 * min_gap``, so with the offset pass
    every such pair is guaranteed to share a bucket. The round-16
    parity measurement (PERF.md) is why this is a parameter and not
    a deeper auto rule: on the 10x probe corpus most of pinned-32's
    edges link docs 3-31 chars apart, a class NO occupancy-derived
    narrow width can see at any offset — gap coverage is a property
    of the matching semantics, not the corpus size, so the caller
    must state it."""
    if n <= 0 or span <= 0 or groups <= 0:
        return 1
    width = max(1, round(target_occupancy * span * groups / n))
    if min_gap is not None and min_gap > 0:
        width = max(width, 2 * int(min_gap))
    return width


def fs_linkage_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    field_cols: list[str],
    m: float = 0.9,
    k: int | None = 50,
    min_score_micro: int | None = None,
    block_col2: str | None = None,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
    1969) over blocked candidate pairs — the SCORING layer above this
    module's boolean edit-distance matching: each comparison field
    contributes evidence log(m/u) when it agrees and log((1-m)/(1-u))
    when it disagrees, so a pair's score is calibrated by how
    SURPRISING each agreement is (sharing a rare last token means far
    more than sharing one of three sources).

    u (chance agreement) is ESTIMATED FROM THE DATA as the exact
    integer rational sum(c_v*(c_v-1)) / (N*(N-1)) per field — one
    tiny groupBy per field, two int64s to carry; m is the standard
    fixed prior. Weights quantize ONCE to micro-units
    (the repo ln discipline), so pair scores are exact integer sums.
    Degenerate fields clamp: all-unique (u -> 1/den) and constant
    (1-u -> 1/den) stay finite, mirrored identically in SQL. int64
    headroom: N*(N-1) overflows past ~3e9 non-null rows per field —
    switch u to a sampled estimate there.

    Pairs come from an equi-join on ``block_col`` (cost = sum
    block^2, never corpus^2); a NULL field on either side contributes
    0 ('?' in the pattern). Returns the top-``k`` pairs by
    (score_micro DESC, a_id, b_id): (a_id, b_id, pattern,
    score_micro).

    ``block_col2`` (round 16) is the boundary-offset second blocking
    pass — the standard remedy for pairs a NARROW numeric bucket
    (``auto_block_width`` at a large corpus) splits across a width
    boundary: candidates come from the UNION of both equi-joins,
    deduplicated on (a_id, b_id) BEFORE scoring, so a pair sharing
    both keys scores once and total cost is at most 2x one pass. With
    the second key offset by width/2, any pair whose attribute gap is
    < width/2 is guaranteed to share at least one bucket.
    """
    blk2 = [F.col(block_col2).alias("blk2")] if block_col2 else []
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        *blk2,
        *field_cols,
    )
    pair_cols = (
        ["a_id", "b_id"]
        + [f"a_{f}" for f in field_cols]
        + [f"b_{f}" for f in field_cols]
    )

    def _blocked(key: str) -> DataFrame:
        a = base.select(
            F.col("id").alias("a_id"),
            F.col(key),
            *[F.col(f).alias(f"a_{f}") for f in field_cols],
        )
        b = base.select(
            F.col("id").alias("b_id"),
            F.col(key),
            *[F.col(f).alias(f"b_{f}") for f in field_cols],
        )
        return (
            a.join(b, key)
            .filter(F.col("a_id") < F.col("b_id"))
            .select(*pair_cols)
        )

    pairs = _blocked("blk")
    if block_col2:
        pairs = pairs.unionByName(_blocked("blk2")).dropDuplicates(
            ["a_id", "b_id"]
        )
    score = F.lit(0).cast("long")
    pattern = []
    for f in field_cols:
        cnt = (
            base.filter(F.col(f).isNotNull())
            .groupBy(f)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1)).alias(f"num_{f}"),
                F.sum("c").alias(f"n_{f}"),
            )
        )
        pairs = pairs.crossJoin(F.broadcast(cnt))
        den = F.col(f"n_{f}") * (F.col(f"n_{f}") - 1)
        num = F.greatest(F.col(f"num_{f}"), F.lit(1))
        dis = F.greatest(den - num, F.lit(1))
        wa = F.round(F.log(F.lit(m) * den / num) * 1_000_000).cast("long")
        wd = F.round(F.log(F.lit(1.0 - m) * den / dis) * 1_000_000).cast(
            "long"
        )
        af, bf = F.col(f"a_{f}"), F.col(f"b_{f}")
        missing = af.isNull() | bf.isNull()
        score = score + F.when(missing, F.lit(0)).when(af == bf, wa).otherwise(
            wd
        )
        pattern.append(
            F.when(missing, F.lit("?")).when(af == bf, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    out = pairs.select(
        "a_id",
        "b_id",
        F.concat(*pattern).alias("pattern"),
        score.alias("score_micro"),
    )
    if min_score_micro is not None:
        # threshold mode (entity-resolution edges): a distributed
        # filter, no global rank — the scale path when match volume
        # grows with the corpus
        out = out.filter(F.col("score_micro") >= int(min_score_micro))
    if k is not None:
        # top-k via orderBy+limit, NOT a global row_number window
        # (round 15): an un-partitioned window moves EVERY blocked
        # pair to one partition; TakeOrderedAndProject keeps a k-row
        # heap per partition and merges on the driver — same
        # deterministic row set, O(k) memory
        out = out.orderBy(
            F.desc("score_micro"), F.asc("a_id"), F.asc("b_id")
        ).limit(int(k))
    return out
