"""Deduplication operators (north-star U6): exact, MinHash+LSH,
SimHash, and n-gram Jaccard — all as DataFrame compositions.

Scale design (100 TB):
- Exact dedup is one hash-shuffle on the fingerprint (map-side partial
  aggregation first, so only distinct keys shuffle).
- MinHash/LSH avoids the O(n^2) cross join: per-doc signatures are a
  linear scan; candidate generation joins docs only within an LSH band
  bucket. Band-bucket skew (a hot bucket) is handled by AQE skew-join
  splitting.
- n-gram Jaccard joins on shared shingles, so cost is bounded by
  shingle co-occurrence, and a frequency cap (``max_shingle_df``)
  drops stop-shingles that would otherwise explode the join —
  the standard "document frequency cut" from near-dup literature.

Two hash families:
- ``use_portable_hash=True``: md5-hex strings, lexicographic mins —
  reproducible in any engine (used by the DuckDB oracles).
- ``use_portable_hash=False``: xxhash64 longs — the fast path
  (one 64-bit op per token vs a 128-bit digest), default for scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint_exact, tokens
from .util import ROUND_DP
from .util import spread as _spread

# SimHash signature width and its pigeonhole chunk count: q29's DuckDB
# oracle (plans.queries._simhash_oracle_sql) restates the same shape.
SIMHASH_BITS = 64
SIMHASH_BLOCKS = 4
# MinHash LSH shape of the two-stage near-dup pipelines: 8 hashes in
# 4 bands of 2 rows.
_LSH_HASHES = 8
_LSH_BANDS = 4


def exact_dedup(
    df: DataFrame, key_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates by normalized-text fingerprint.

    Returns one row per fingerprint: canonical (min) id + copy count.
    """
    return (
        df.select(F.col(id_col), fingerprint_exact(key_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_of(tokens_col, n: int = 3):
    """n-token shingles ('tok1 tok2 tok3') from a token-array column.

    Feed this a *materialized* token column (own projection), not an
    inline ``tokens(text)`` expression: referencing the tokenizer
    expression from inside the transform lambda re-evaluates
    lower+regexp+split per element (CollapseProject keeps the split
    only when the upstream projection column is referenced more than
    once) — measured 2.5x slower at sf0.1.
    """
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    k = F.size(t) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
        )
    )


def shingles(text_col: str, n: int = 3):
    """n-token shingles as strings ('tok1 tok2 tok3')."""
    return shingles_of(tokens(text_col), n)


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exploded (id, shingle) pairs, distinct per doc. Tokenizes in its
    own projection so the shingle lambda reads a pinned array (see
    ``shingles_of``)."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select(
            "id",
            F.explode(F.array_distinct(shingles_of("__toks", n))).alias(
                "shingle"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All doc pairs with token-n-gram Jaccard >= threshold.

    Implemented as a shared-shingle self-join (never a cross join):
    intersection counts come from the join, union sizes from per-doc
    shingle counts. ``max_shingle_df`` drops shingles appearing in more
    than that many docs before pairing (document-frequency cut).
    The join keys on xxhash64(shingle) longs instead of the shingle
    strings — ~2x less shuffle width, identical counts modulo a
    ~2^-64-per-pair collision chance.
    """
    sh = doc_shingles(df, id_col, text_col, n)
    sh = sh.select("id", F.xxhash64("shingle").alias("shingle")).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df is not None:
        # Document-frequency cut as a window count over the join key:
        # the window shuffles (id, shingle) by shingle ONCE, and the
        # pairing self-join below keys on the same column, so Catalyst
        # reuses that exchange for both join sides — the cut costs no
        # extra shuffle of the big frame (a separate groupBy+join
        # formulation re-shuffled it and measured ~40% slower).
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    a = sh.select(F.col("id").alias("a_id"), "shingle")
    b = sh.select(F.col("id").alias("b_id"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("a_id", "b_id", "n_inter", "n_a", "n_b", "jaccard")


def _minhash_units(tokens_col, shingle_n: int | None):
    """The hashed units from a materialized token-array column: token
    n-gram shingles (classic MinHash input) or raw tokens when
    shingle_n is None."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    if shingle_n is None:
        return F.array_distinct(t)
    return F.array_distinct(shingles_of(t, shingle_n))


def _signature_from_units(
    units_rows: DataFrame, num_hashes: int, use_portable_hash: bool
) -> DataFrame:
    """(id, sig) MinHash signatures from exploded (id, unit) rows."""
    if use_portable_hash:
        hashes = [
            F.md5(F.concat(F.lit(f"{i}:"), F.col("unit"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        hashes = [
            F.xxhash64(F.lit(i), F.col("unit")).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    hashed = units_rows.select("id", *hashes)
    mins = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    use_portable_hash: bool = False,
) -> DataFrame:
    """(id, sig: array) MinHash signatures over token 3-gram shingles.

    Distributed formulation: tokenize+shingle ONCE, explode to
    (id, unit) rows, compute the ``num_hashes`` cheap hashes per row,
    reduce with groupBy(id).agg(min...). The explode is linear and the
    shuffle is tiny because partial (map-side) min-aggregation reduces
    each partition to one row per id before moving data — the shape
    that holds at 100 TB. (A naive per-salt ``transform`` over the
    shingle array re-runs the tokenizer per salt: ~10x slower.)

    Hash families: md5-hex strings with lexicographic min
    (``use_portable_hash`` — reproducible in the DuckDB oracle) or
    xxhash64 longs (fast path).
    """
    units_rows = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select(
            "id", F.explode(_minhash_units("__toks", 3)).alias("unit")
        )
    )
    return _signature_from_units(units_rows, num_hashes, use_portable_hash)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    use_portable_hash: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    rows_per_band = num_hashes // bands; a pair collides in a band iff
    that band's signature slice matches exactly. Returns distinct
    (a_id, b_id) with a_id < b_id.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    sigs = minhash_signature(df, id_col, text_col, num_hashes, use_portable_hash)
    return _lsh_candidates_from_sigs(sigs, num_hashes, bands)


def _band_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, key) LSH band-bucket rows from an (id, sig) frame."""
    r = num_hashes // bands
    sigs = sigs.filter(F.element_at("sig", 1).isNotNull())  # docs with no units
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at("sig", b * r + j + 1).cast("string")
                                for j in range(r)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _lsh_candidates_from_sigs(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Banded candidate pairs from an (id, sig) signature frame."""
    # materialize: both self-join sides reuse the hashed signatures
    # instead of recomputing the full hash family per side
    band_rows = _band_rows(sigs, num_hashes, bands).cache()
    a = band_rows.select(F.col("id").alias("a_id"), "band", "key")
    b = band_rows.select(F.col("id").alias("b_id"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sh) SimHash bit strings ('1010...', length SIMHASH_BITS).

    Distributed formulation (same shape as minhash_signature): explode
    distinct tokens, one xxhash64 per token, per-bit +-1 contributions
    as SIMHASH_BITS int columns, groupBy(id).sum -> sign bits. Partial
    aggregation keeps the shuffle at one row per id; everything stays
    in whole-stage codegen (bit positions are literal shift amounts).
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    h = F.xxhash64("tok")
    contrib = [
        (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    summed = toks.select("id", *contrib).groupBy("id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(SIMHASH_BITS)]
    )
    bit_str = F.concat(
        *[
            F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIMHASH_BITS)
        ]
    )
    return summed.select("id", bit_str.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: the bit string is cut into ``n_blocks`` equal chunks;
    by pigeonhole, any pair within distance < n_blocks shares at least
    one exact chunk, so candidates join per (chunk index, chunk value)
    bucket — never a cross join. Hamming distance is computed by
    XOR + popcount over each chunk parsed base-2.
    """
    chunk = SIMHASH_BITS // n_blocks
    # cache: both self-join sides reuse the computed simhashes
    sh = simhash_table(df, id_col, text_col).cache()
    blocks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.substring("sh", q * chunk + 1, chunk).alias("key"),
                    )
                    for q in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "sh", F.col("bk.q").alias("q"), F.col("bk.key").alias("key"))
    a = blocks.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"), "q", "key")
    b = blocks.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"), "q", "key")
    hamming = None
    for q in range(n_blocks):
        xa = F.conv(F.substring("sh_a", q * chunk + 1, chunk), 2, 10).cast("long")
        xb = F.conv(F.substring("sh_b", q * chunk + 1, chunk), 2, 10).cast("long")
        h = F.bit_count(xa.bitwiseXOR(xb))
        hamming = h if hamming is None else hamming + h
    # hamming filter BEFORE the distinct: the per-row int ops are cheap,
    # the dedup shuffle then carries only surviving pairs (a pair can
    # appear up to n_blocks times, once per matching chunk)
    pairs = (
        a.join(b, ["q", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )
    return pairs


def simhash_chunks_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, c0..c3) SimHash chunk values from a portable md5-derived
    bit family.

    Hex nibble k of md5(token) supplies bits 4k..4k+3, so any engine
    with md5 reproduces the signature exactly (the DuckDB oracle for
    q29 mirrors this bit-for-bit). Same distributed shape as
    ``simhash_table``: explode distinct tokens, per-bit ±1 columns,
    groupBy(id).sum — partial aggregation shuffles one row per doc.
    Chunks are kept as integers (bit j of chunk q = signature bit
    16q+j), so blocking and Hamming distance are pure int ops.
    """
    chunk = SIMHASH_BITS // SIMHASH_BLOCKS
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    m = F.md5("tok")
    # Parse the hex 8 chars (32 bits) per conv instead of nibble-at-a-
    # time: hex char k+1 is the (7-k%8)'th nibble of its block, so bit
    # 4k+j of the signature is bit 4*(7-k%8)+j of block k//8. Two conv
    # calls + codegen shifts, ~same bits as 16 conv+substring+cast.
    blocks = [
        F.conv(F.substring(m, 8 * b + 1, 8), 16, 10).cast("long")
        for b in range(SIMHASH_BITS // 32)
    ]
    contrib = [
        (
            F.shiftright(blocks[i // 32], 4 * (7 - (i // 4) % 8) + i % 4)
            .bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    summed = toks.select("id", *contrib).groupBy("id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(SIMHASH_BITS)]
    )
    chunk_cols = []
    for q in range(SIMHASH_BLOCKS):
        val = None
        for j in range(chunk):
            bit = F.when(F.col(f"s{q * chunk + j}") > 0, 1 << j).otherwise(0)
            val = bit if val is None else val + bit
        chunk_cols.append(val.cast("long").alias(f"c{q}"))
    return summed.select("id", *chunk_cols)


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """``simhash_pairs`` on the portable md5 family (oracle-diffable).

    Same pigeonhole blocking (a pair within distance < SIMHASH_BLOCKS
    shares an exact chunk) and filter-before-distinct shape; Hamming
    distance is XOR+popcount over the chunk ints.
    """
    ch = simhash_chunks_portable(df, id_col, text_col).cache()
    chunk_names = [f"c{q}" for q in range(SIMHASH_BLOCKS)]
    blocks = ch.select(
        "id",
        *chunk_names,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), F.col(f"c{q}").alias("val"))
                    for q in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("id", *chunk_names, F.col("bk.q").alias("q"), F.col("bk.val").alias("val"))
    a = blocks.select(
        F.col("id").alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in chunk_names],
        "q", "val",
    )
    b = blocks.select(
        F.col("id").alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in chunk_names],
        "q", "val",
    )
    hamming = None
    for q in range(SIMHASH_BLOCKS):
        h = F.bit_count(F.col(f"a_c{q}").bitwiseXOR(F.col(f"b_c{q}")))
        hamming = h if hamming is None else hamming + h
    return (
        a.join(b, ["q", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


def auto_lsh_planes(n: int) -> int:
    """Plane count for a hyperplane-LSH table over ``n`` vectors:
    the smallest p with n / 2^p <= 128 (floor 4 — fewer
    planes than that buys no useful blocking; cap 24 keeps the
    bucket key short). Fixed-width buckets hold n/2^p members, so
    per-bucket pair cost at a growing corpus is flat only when p
    grows with log2(n) — the round-14 scale probe measured exactly
    this (PERF.md: at 10x corpus, +3 planes cut the near-dup wall
    time from 12.0 s to 3.9 s). At the sf0.1 corpus (2,000 vectors)
    this returns 4, the operator's historical default.

    COST knob, not a free lunch: each extra plane multiplies a true
    pair's per-table collision probability by (1 - theta/pi) < 1,
    so growing p at FIXED n_tables trades recall for the flat
    bucket occupancy. Recall-sensitive callers must co-scale the
    table count — ``auto_lsh_tables`` computes the count that holds
    a target recall at the chosen plane count."""
    import math

    if n <= 128:
        return 4
    return max(4, min(24, math.ceil(math.log2(n / 128))))


def auto_lsh_tables(
    n_planes: int, sim: float = 0.9, recall: float = 0.9
) -> int:
    """Table count that detects a pair at cosine ``sim`` with
    probability >= ``recall`` under ``n_planes``-bit hyperplane
    signatures: per-table collision P = (1 - theta/pi)^p with
    theta = arccos(sim), across t tables 1-(1-P)^t >= recall ->
    t = ceil(log(1-recall) / log(1-P)). The honest companion to
    ``auto_lsh_planes``: at p=8 holding 90% recall costs 7 tables
    for true near-dups (sim 0.9) but ~91 tables at the verify
    threshold 0.4 — near-threshold recall is intrinsically
    expensive, which is why the operator verifies with exact cosine
    and treats LSH purely as a candidate blocker."""
    import math

    theta = math.acos(max(-1.0, min(1.0, sim)))
    p_table = (1.0 - theta / math.pi) ** n_planes
    if p_table >= 1.0:
        return 1
    if p_table <= 0.0:
        raise ValueError("collision probability underflowed to 0")
    return max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_table)))


def embedding_near_dup(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int | str = 4,
    n_tables: int | str = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs in embedding space (north-star U6
    "embedding-cosine near-dup"): multi-table hyperplane LSH blocks
    candidates, exact cosine >= threshold verifies them.

    Scale shape: each table hashes the corpus once (Arrow float64
    matmul — linear) and pairs only within buckets, so cost is
    sum(bucket^2) per table, never corpus^2; the exact-cosine verify
    join runs on |candidates| only. Multiple tables (seeded
    independently) recover recall the single-table bucket boundary
    loses: a pair at angle theta collides per table with
    P = (1 - theta/pi)^n_planes, and across t tables with
    1-(1-P)^t. Candidates are deduplicated on (a_id, b_id) BEFORE
    vectors are re-joined, so the distinct never shuffles array
    payloads.

    ``n_planes="auto"`` (round 14) sizes the plane count from the
    corpus via ``auto_lsh_planes`` — one count() on the already-
    cached base (cheap relative to the hash passes) buys the
    log2(n) growth that keeps bucket occupancy flat at 100x. It is
    a COST knob: more planes at fixed ``n_tables`` lowers a true
    pair's collision probability, so recall-sensitive callers
    should co-scale ``n_tables`` — pass ``n_tables="auto"``
    (round 15) to wire ``auto_lsh_tables`` in directly: the table
    count is recomputed from the RESOLVED plane count to hold 90%
    detection probability for true near-dups (cosine 0.9). When the
    auto plane count exceeds the historical default at a FIXED
    table count, the estimated per-pair recall is logged so the
    decay is visible at runtime instead of silent. The integer
    forms stay the defaults: callers that mirror the planes
    externally (q59's oracle scratch) need the counts pinned.
    """
    from .similarity import hyperplane_signature, pairwise_dot_udf, unit_vec

    base = _spread(emb).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        unit_vec(F.col(vec_col)).alias("nv"),
    ).cache()
    planes_autosized = False
    if isinstance(n_planes, str):
        if n_planes != "auto":
            raise ValueError('n_planes must be an int or "auto"')
        n_planes = auto_lsh_planes(base.count())
        planes_autosized = True
    if isinstance(n_tables, str):
        if n_tables != "auto":
            raise ValueError('n_tables must be an int or "auto"')
        n_tables = auto_lsh_tables(n_planes)
    elif planes_autosized and n_planes > 4:
        # auto planes at a pinned table count: surface the recall
        # decay instead of letting it happen silently (per-table
        # collision P for a true near-dup at cosine 0.9, across
        # the fixed n_tables)
        import logging
        import math

        _p = (1.0 - math.acos(0.9) / math.pi) ** n_planes
        logging.getLogger(__name__).warning(
            "embedding_near_dup: auto n_planes=%d with fixed "
            "n_tables=%d -> estimated recall %.3f for true "
            "near-dups (cosine 0.9); pass n_tables='auto' to "
            "co-scale (%d tables would hold 0.9)",
            n_planes, n_tables, 1.0 - (1.0 - _p) ** n_tables,
            auto_lsh_tables(n_planes),
        )
    sig = None
    for t in range(n_tables):
        s = base.select(
            "id",
            F.lit(t).alias("tbl"),
            hyperplane_signature("v", dim, n_planes, 42 + t).alias("bucket"),
        )
        sig = s if sig is None else sig.union(s)
    # cache the (id, tbl, bucket) frame: the self-join below would
    # otherwise run every signature UDF pass once per side
    sig = sig.cache()
    cand = (
        sig.select(F.col("id").alias("a_id"), "tbl", "bucket")
        .join(sig.select(F.col("id").alias("b_id"), "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    nv = base.select("id", "nv")
    # Arrow batch dot: the verify stage scores |candidates| pairs —
    # dense math, so the vectorized UDF beats the interpreted HOF fold
    sim = F.round(pairwise_dot_udf()(F.col("a_nv"), F.col("b_nv")), ROUND_DP)
    return (
        cand.join(
            nv.select(F.col("id").alias("a_id"), F.col("nv").alias("a_nv")), "a_id"
        )
        .join(nv.select(F.col("id").alias("b_id"), F.col("nv").alias("b_nv")), "b_id")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", "sim")
    )


def streaming_dedup(
    stream_df: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ids across micro-batches.

    ``dropDuplicates`` on a stream keeps per-key state; the watermark
    bounds that state — duplicates arriving later than the watermark
    horizon are not caught (the at-scale trade: state size vs dedup
    window). This is the Silver layer's streaming dedup (SURVEY S7
    "deduplicated"), complementing the batch row_number dedup in
    sources/medallion.py.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicates(
        [*id_cols, ts_col]
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    use_portable_hash: bool = False,
) -> DataFrame:
    """The production two-stage near-dup pipeline: MinHash+LSH generates
    candidate pairs (sub-quadratic), exact n-gram Jaccard verifies them.

    Only candidates are verified, so the expensive shingle-intersection
    join runs on |candidates| pairs instead of all pairs sharing any
    shingle — the standard shape for petabyte-scale dedup. LSH is
    probabilistic: pairs the banding misses (P ~ (1-j^r)^b) are not
    returned; the _LSH_HASHES/_LSH_BANDS shape sets that curve.

    The exploded (id, shingle) frame is computed ONCE and cached; both
    the MinHash signatures and the verify-stage intersections derive
    from it, saving a full tokenize+shingle+explode pass.
    """
    sh = doc_shingles(df, id_col, text_col).cache()
    sigs = _signature_from_units(
        sh.select("id", F.col("shingle").alias("unit")),
        _LSH_HASHES,
        use_portable_hash,
    )
    cands = _lsh_candidates_from_sigs(sigs, _LSH_HASHES, _LSH_BANDS)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("a_id"), "shingle")
    b = sh.select(F.col("id").alias("b_id"), "shingle")
    inter = (
        cands.join(a, "a_id")
        .join(b, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def span_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
) -> DataFrame:
    """Exact-substring duplication signal per document: the fraction of
    a doc's distinct ``span_n``-token spans that also occur in at least
    one OTHER document (the span-level dedup statistic from
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022 — their ExactSubstr operates on 50-token spans; the
    window length is a parameter here).

    Returns one row per input document:
    ``(id_col, n_spans, n_shared_spans, dup_frac_micro)`` where
    ``dup_frac_micro`` is ``1e6 * shared / spans`` by INTEGER division
    (exact in any engine — no float rounding anywhere). Documents
    shorter than ``span_n`` tokens have 0 spans and 0 duplication.

    Scale shape: distinct spans per doc explode once (linear in corpus
    tokens); span document-frequency is a window count over the ONE
    span-keyed shuffle of that stream (no cache, no join-back) — a
    hot boilerplate span concentrates its window partition, which is
    the same skew profile the old frequency join had, minus a second
    pass over the stream. No all-pairs stage exists at any point
    (unlike pairwise Jaccard, this measures duplication without
    materializing pairs).
    """
    # span document frequency as a window count over the span-keyed
    # shuffle (round 17, the ngram_jaccard_pairs house pattern): the
    # old cache + groupBy + join-back paid a cache build of the
    # exploded span stream plus a second shuffle of it for the
    # frequency join; the window shuffles the stream once and needs
    # no cache — measured -21.6% at min (interleaved A/B, every
    # block), identical rows
    sp = doc_shingles(df, id_col, text_col, n=span_n)
    per = (
        sp.withColumn(
            "ndocs", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("ndocs") >= 2).cast("long")).alias("n_shared_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per, F.col(id_col) == per.id, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_shared_spans", F.lit(0))
            .cast("long")
            .alias("n_shared_spans"),
            F.expr(
                "CAST((1000000 * coalesce(n_shared_spans, 0)) "
                "DIV greatest(coalesce(n_spans, 0), 1) AS BIGINT)"
            ).alias("dup_frac_micro"),
        )
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.1,
    use_portable_hash: bool = False,
) -> DataFrame:
    """Incremental ingestion dedup: flag NEW documents that near-
    duplicate an EXISTING corpus — the production shape for a corpus
    that grows batch by batch, where re-running all-pairs dedup over
    the whole corpus per ingest is unaffordable.

    Two-stage, like ``near_dup_pairs``: MinHash LSH band collisions
    between the batch and the corpus generate candidates, then exact
    shingle-Jaccard verifies them. Returns
    ``(new_id, corpus_id, jaccard)`` for verified pairs.

    Scale shape: the corpus side's signatures/band rows are a linear
    scan that in production is computed ONCE and persisted (a parquet
    index bucketed by (band, key) makes the candidate join co-located
    and shuffle-free); per ingest batch the work is O(|batch| +
    collisions) — the whole corpus is never re-paired against itself.
    The verify join touches only candidate ids' shingle rows.
    """
    sh_c = doc_shingles(corpus, id_col, text_col).cache()
    sh_b = doc_shingles(batch, id_col, text_col).cache()
    sig_c = _signature_from_units(
        sh_c.select("id", F.col("shingle").alias("unit")),
        _LSH_HASHES,
        use_portable_hash,
    )
    sig_b = _signature_from_units(
        sh_b.select("id", F.col("shingle").alias("unit")),
        _LSH_HASHES,
        use_portable_hash,
    )
    bc = _band_rows(sig_c, _LSH_HASHES, _LSH_BANDS)
    bb = _band_rows(sig_b, _LSH_HASHES, _LSH_BANDS)
    cands = (
        bb.select(F.col("id").alias("new_id"), "band", "key")
        .join(bc.select(F.col("id").alias("corpus_id"), "band", "key"),
              ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sizes_b = sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("n_b"))
    sizes_c = sh_c.groupBy("id").agg(F.count(F.lit(1)).alias("n_c"))
    inter = (
        cands.join(sh_b.select(F.col("id").alias("new_id"), "shingle"), "new_id")
        .join(
            sh_c.select(F.col("id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes_b.select(F.col("id").alias("new_id"), "n_b"), "new_id")
        .join(sizes_c.select(F.col("id").alias("corpus_id"), "n_c"), "corpus_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_b") + F.col("n_c") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# -- winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm) ----

_WIN_POS_BITS = 20  # supports docs up to 2^20 k-grams (~1M tokens)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003): hash
    every token k-gram, slide a window of ``w`` consecutive hashes,
    and keep the minimum of each window (rightmost on ties) — the
    fingerprint set is position-robust (any shared substring of
    length >= w+k-1 tokens is guaranteed to share a fingerprint) and
    ~2/(w+1) the density of the full hash stream.

    The rightmost-min selection runs as ONE window min over an
    encoded key ``h * 2^20 + (2^20-1 - pos)`` (min hash first, then
    max position), decoded after — no per-window argmin subquery.
    Hashes are the portable 32-bit md5 prefix (the ``hash_uniform``
    family), so any engine reproduces them nibble-for-nibble.

    Docs with fewer than ``w`` k-grams fall back to a single window
    over all their grams (one fingerprint), keeping every doc with
    >= k tokens represented.

    Scale shape: linear — explode grams once, one per-doc window
    pass (bounded state: w rows), one distinct. No joins.

    Returns distinct ``(id, fp_hash, fp_pos)``.
    """
    pos_cap = 1 << _WIN_POS_BITS
    # shingles_of does the guarded, element_at-based gram build over a
    # PINNED token projection (a slice()-per-gram formulation measured
    # 16 s vs 2 s at sf0.1 — slice copies a k-array per gram, and any
    # filter between the projections lets Catalyst inline the
    # tokenizer back into the lambda); short docs yield an empty gram
    # array and vanish at the explode.
    grams = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select("id", shingles_of("__toks", k).alias("__grams"))
        .select(
            "id",
            F.size("__grams").alias("n_grams"),
            F.posexplode("__grams").alias("pos", "gram"),
        )
    )
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    # Overflow guard: pos >= 2^20 would go negative in the rev-pos term
    # and bleed into the hash bits of the encoded key, silently
    # corrupting fingerprints. Oversized docs must fail loudly instead
    # (raise _WIN_POS_BITS or pre-chunk the doc to proceed).
    pos_checked = F.when(
        F.col("n_grams") <= F.lit(pos_cap), F.col("pos")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "winnow_fingerprints: doc %s has %s k-grams; the position "
                f"encoding supports at most {pos_cap} (raise _WIN_POS_BITS "
                "or chunk the document)",
                F.col("id").cast("string"),
                F.col("n_grams").cast("string"),
            )
        )
    )
    key = h * F.lit(pos_cap) + (F.lit(pos_cap - 1) - pos_checked)
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(0, w - 1)
    )
    sel = (
        grams.withColumn("__key", key)
        .withColumn("__sel", F.min("__key").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
        .select(
            "id",
            F.expr(f"__sel div {pos_cap}").alias("fp_hash"),
            (
                F.lit(pos_cap - 1) - F.col("__sel") % pos_cap
            ).cast("long").alias("fp_pos"),
        )
        .distinct()
    )
    return sel


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Doc pairs sharing >= ``min_shared`` winnowing fingerprint
    HASHES (content matches at any position) — the candidate
    generator MOSS uses for plagiarism/near-dup detection.

    Pairs form only through shared fingerprint hashes (equi-join on
    the hash), and winnowing keeps ~2/(w+1) of grams, so the join is
    over a stream ~3x sparser than the q23/q77 shingle joins with
    the same Sigma df^2 bound.
    """
    fps = (
        winnow_fingerprints(df, id_col, text_col, k, w)
        .select("id", "fp_hash")
        .distinct()
        .cache()
    )
    a = fps.select(F.col("id").alias("a_id"), "fp_hash")
    b = fps.select(F.col("id").alias("b_id"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= min_shared)
    )


def semdedup(
    idx: DataFrame,
    centroids,
    tau: float = 0.9,
    id_col: str = "neighbor_id",
    vec_col: str = "c_vec",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus via cluster-local cosine
    pruning. Complements the LSH near-dup path (``embedding_near_dup``)
    with the k-means flavor a pretraining pipeline runs at corpus
    scale: points are bucketed by nearest centroid, ranked within each
    cluster by similarity to that centroid (rounded to ``ROUND_DP``
    so the rank — an output column — can't flip on cross-engine float
    noise; vec-id tiebreak), and a
    point is dropped when any HIGHER-ranked cluster-mate is closer
    than ``tau`` — so exactly one representative (the most central)
    survives each semantic-duplicate chain seed.

    Inputs reuse the IVF artifacts (``ivf.build_ivf_index`` /
    ``write_ivf_index``): ``idx`` holds (id, cluster, unit-vec) and
    ``centroids`` is the trained codebook, so dedup shares the
    offline index build with ANN serving instead of re-clustering.

    Scale shape: ranking is a per-cluster window (state bounded by
    list size), pairing is the same sum(list^2) bucket-bounded
    self-join every candidate generator here uses — never corpus^2 —
    and hot lists split under AQE skew handling. Comparisons use
    ``round(sim, ROUND_DP)`` so the keep/drop frontier is identical
    across engines (same discipline as embedding_near_dup).

    Returns one row per vector: (vec_id, cluster, rk, max_prior_sim,
    keep) — max_prior_sim is -1.0 for cluster representatives with no
    higher-ranked neighbor above the scoring join's support.
    """
    import numpy as np

    from .similarity import pairwise_dot_udf

    spark = idx.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    unit = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in unit[i]]) for i in range(len(unit))],
        "cluster int, cent array<double>",
    )
    base = idx.select(
        F.col(id_col).alias("vec_id"), "cluster", F.col(vec_col).alias("nv")
    )
    ranked = (
        base.join(F.broadcast(cents_df), "cluster")
        .withColumn(
            "cent_sim", F.round(pairwise_dot_udf()(F.col("nv"), F.col("cent")), ROUND_DP)
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy(
                    F.desc("cent_sim"), F.asc("vec_id")
                )
            ),
        )
        .select("vec_id", "cluster", "rk", "nv")
        .cache()
    )
    a = ranked.select(
        F.col("cluster"), F.col("vec_id"), F.col("rk"), F.col("nv").alias("a_nv")
    )
    b = ranked.select(
        F.col("cluster"),
        F.col("rk").alias("b_rk"),
        F.col("nv").alias("b_nv"),
    )
    prior = (
        a.join(b, "cluster")
        .filter(F.col("rk") > F.col("b_rk"))
        .withColumn(
            "sim", F.round(pairwise_dot_udf()(F.col("a_nv"), F.col("b_nv")), ROUND_DP)
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("max_prior_sim"))
    )
    return (
        ranked.drop("nv")
        .join(prior, "vec_id", "left")
        .withColumn("max_prior_sim", F.coalesce("max_prior_sim", F.lit(-1.0)))
        .withColumn("keep", F.col("max_prior_sim") < F.lit(tau))
        .select("vec_id", "cluster", "rk", "max_prior_sim", "keep")
    )


def minhash_jaccard_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int | None = 3,
    use_portable_hash: bool = True,
) -> DataFrame:
    """Estimator-calibration report for the MinHash family: for every
    LSH candidate pair, the SKETCH estimate (count of equal signature
    slots out of ``num_hashes`` — E[slots_eq]/k is the Jaccard
    estimator) next to the EXACT shingle-set Jaccard. This is the
    query an operator runs before trusting a sketch threshold at
    100 TB: it tells you where k hashes put the estimator's error
    bars on YOUR corpus, using only the bucket-bounded candidate set
    (never all pairs).

    Shape: the corpus tokenizes and explodes to distinct (id, unit)
    rows ONCE (cached); both the signature min-aggregation and the
    exact-intersection join read that stream, so the exact side costs
    |candidates| * shingles-per-doc on top of the sketch, and sizes
    come from the same stream's per-id counts.

    Returns (a_id, b_id, n_eq_slots, jaccard6).
    """
    units = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select("id", F.explode(_minhash_units("__toks", shingle_n)).alias("u"))
        .cache()
    )
    sigs = _signature_from_units(
        units.select("id", F.col("u").alias("unit")), num_hashes, use_portable_hash
    ).cache()
    # cached: the candidate pairs feed BOTH the estimator join and the
    # exact-intersection join below — without the cache each consumer
    # re-runs the band self-join + distinct subtree (round-17 plan
    # audit: no ReusedExchange covers it)
    cands = _lsh_candidates_from_sigs(sigs, num_hashes, bands).cache()
    a = sigs.select(F.col("id").alias("a_id"), F.col("sig").alias("a_sig"))
    b = sigs.select(F.col("id").alias("b_id"), F.col("sig").alias("b_sig"))
    eq_terms = [
        (
            F.element_at("a_sig", i + 1) == F.element_at("b_sig", i + 1)
        ).cast("int")
        for i in range(num_hashes)
    ]
    n_eq = eq_terms[0]
    for t in eq_terms[1:]:
        n_eq = n_eq + t
    est = (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", n_eq.alias("n_eq_slots"))
    )
    # _minhash_units is array_distinct per doc, so the cached
    # (id, u) stream is already unique — no distinct shuffle needed
    sizes = units.groupBy("id").agg(F.count(F.lit(1)).alias("n_u"))
    inter = (
        cands.join(units.select(F.col("id").alias("a_id"), "u"), "a_id")
        .join(units.select(F.col("id").alias("b_id"), "u"), ["b_id", "u"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        est.join(inter, ["a_id", "b_id"], "left")
        .join(sizes.select(F.col("id").alias("a_id"), F.col("n_u").alias("na")), "a_id")
        .join(sizes.select(F.col("id").alias("b_id"), F.col("n_u").alias("nb")), "b_id")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn(
            "jaccard6",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .select("a_id", "b_id", "n_eq_slots", "jaccard6")
    )


def _prefix_candidates(docs: DataFrame, threshold_pct: int) -> DataFrame:
    """Distinct (a_id, b_id) candidates from the prefix equi-join over
    a (id, arr df-sorted, n_sh) frame — split out so tests can assert
    the candidate volume the filter admits, not just the final pairs."""
    pref = docs.select(
        "id",
        F.explode(
            F.slice(
                "arr",
                F.lit(1),
                F.expr(
                    f"int(n_sh - ((cast({int(threshold_pct)} as bigint)"
                    " * n_sh + 99) div 100) + 1)"
                ),
            )
        ).alias("u"),
    )
    return (
        pref.select(F.col("id").alias("a_id"), "u")
        .join(pref.select(F.col("id").alias("b_id"), "u"), "u")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def prefix_sorted_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, arr, n_sh) with each doc's distinct xxhash64(shingle)s
    sorted by (global df asc, unit asc) — the canonical order the
    prefix filter requires. Shared by prefix_filter_jaccard_pairs and
    tests."""
    sh = doc_shingles(df, id_col, text_col, n)
    sh = sh.select("id", F.xxhash64("shingle").alias("shingle"))
    # document frequency as a window count over the shingle shuffle
    # (round 17, the ngram_jaccard_pairs house pattern): the old
    # groupBy(shingle) + join-back formulation ran the tokenize +
    # shingle explode TWICE (once under the frequency agg, once as the
    # join probe — no ReuseExchange covers it, the partial agg sits
    # below one exchange) and shuffled the stream twice; the window
    # shuffles it once and reads one tokenize pass
    return (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias(
                "us"
            )
        )
        .select(
            "id",
            F.expr("transform(us, u -> u.shingle)").alias("arr"),
            F.size("us").cast("long").alias("n_sh"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_pct: int = 20,
) -> DataFrame:
    """All doc pairs with token-n-gram Jaccard >= threshold_pct/100,
    found via PPJoin-style PREFIX FILTERING (Xiao et al., WWW 2008):
    order every doc's distinct shingles canonically (ascending global
    document frequency, shingle tiebreak — rarest first), and join
    only each doc's first ``|x| - ceil(t*|x|) + 1`` units. Two sets
    with Jaccard >= t MUST share a unit inside both prefixes under a
    common total order, so the candidate join is sound; candidates
    then verify with one JVM ``array_intersect`` per pair on the full
    sorted arrays — never a full shared-shingle join.

    vs ``ngram_jaccard_pairs``'s df-cut: the cut bounds the join by
    dropping stop-shingles (changing which pairs qualify); the prefix
    filter keeps EXACT semantics and still shrinks the join stream by
    ~t of every doc's units — the two compose (cut first, prefix on
    the rest) for hostile corpora.

    ``threshold_pct`` is an integer percent so the prefix length uses
    exact integer ceil ((pct*|x| + 99) DIV 100) — a float ``t*|x|``
    landing epsilon above an integer would shorten the prefix and
    silently drop qualifying pairs. The final Jaccard compare uses the
    same double expression as the oracle.

    Returns (a_id, b_id, n_inter, n_a, n_b, jaccard).
    """
    docs = prefix_sorted_docs(df, id_col, text_col, n).cache()
    cand = _prefix_candidates(docs, threshold_pct)
    fa = docs.select(
        F.col("id").alias("a_id"),
        F.col("arr").alias("a_arr"),
        F.col("n_sh").alias("n_a"),
    )
    fb = docs.select(
        F.col("id").alias("b_id"),
        F.col("arr").alias("b_arr"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(fa, "a_id")
        .join(fb, "b_id")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("a_arr", "b_arr")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= int(threshold_pct) / 100.0)
        .select("a_id", "b_id", "n_inter", "n_a", "n_b", "jaccard")
    )
