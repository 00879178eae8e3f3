"""Similarity search over embedding columns (north-star U5).

Embeddings are ``array<float>`` columns; all math runs as native
higher-order array expressions (``zip_with`` + ``aggregate``) on the
JVM — no Python crossing. Elements are cast to double before any
arithmetic so results are stable regardless of the storage type.

Scale design (100 TB):
- ``cosine_topk`` (brute force) is the correctness baseline: a
  broadcast of the (small) query set against the full corpus — linear
  scan, no shuffle except the final per-query top-k.
- ``lsh_topk`` blocks candidates with random-hyperplane signatures
  (sign patterns of fixed pseudo-random planes) so each query only
  scores its bucket's candidates; recall is tunable via bands/bits.
- ``cosine_pairs_blocked`` restricts all-pairs scoring to an explicit
  blocking column (label, LSH bucket, ...) — never an open cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import ROUND_DP, series_udf
from .util import spread as _spread


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, left-to-right fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return dot(da, db) / (norm2(da) * norm2(db))


def unit_vec(a: Column) -> Column:
    """v / ||v||: normalizing each vector ONCE turns every pairwise
    cosine into a bare dot product — O(n) normalizations instead of
    O(pairs) norm recomputations."""
    da = _as_double(a)
    n = norm2(da)
    return F.transform(da, lambda x: x / n)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (brute force).

    ``queries`` has the same schema as ``emb``; the query set is
    broadcast (it is assumed small), the corpus is scanned once.
    Ranking uses (rounded sim DESC, neighbor id ASC) so ordering is
    reproducible across engines and runs.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), unit_vec(F.col(vec_col)).alias("q_vec")
    )
    c = _spread(emb).select(
        F.col(id_col).alias("neighbor_id"), unit_vec(F.col(vec_col)).alias("c_vec")
    )
    sim = F.round(dot(F.col("q_vec"), F.col("c_vec")), ROUND_DP)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def hard_negative_mining(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-pair mining for embedding training: per query
    vector, the nearest SAME-label neighbor (the positive) and the
    nearest DIFFERENT-label neighbor (the hard negative — the sample
    that teaches the boundary; random negatives are mostly trivial).
    One corpus scan, queries broadcast; ranking on (rounded sim DESC,
    id ASC) keeps both picks engine-reproducible. Queries whose label
    has no other member drop out (inner join) — they have no positive
    to mine. Returns (query_id, label, pos_id, pos_sim, neg_id,
    neg_sim, margin)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        unit_vec(F.col(vec_col)).alias("q_vec"),
    )
    c = _spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        unit_vec(F.col(vec_col)).alias("c_vec"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("q_vec"), F.col("c_vec")), ROUND_DP))
        .withColumn("is_pos", F.col("q_label") == F.col("n_label"))
    )
    w = Window.partitionBy("query_id", "is_pos").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    pos = top.filter(F.col("is_pos")).select(
        "query_id",
        F.col("q_label").alias("label"),
        F.col("neighbor_id").alias("pos_id"),
        F.col("sim").alias("pos_sim"),
    )
    neg = top.filter(~F.col("is_pos")).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("sim").alias("neg_sim"),
    )
    return pos.join(neg, "query_id").select(
        "query_id",
        "label",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        (F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
    )


def cosine_pairs_blocked(
    emb: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs within a blocking key with cosine >= threshold.

    The join is an equi-join on the block column — Catalyst shuffles
    both sides by block, so cost is sum of squared block sizes, not
    corpus squared. That is a WALL-MASKED QUADRATIC when block count
    is fixed by a label dimension (the round-15 probe measured q28
    at 9.79x wall but 104x output pairs for a 10x corpus): per-block
    pair work is B^2/2, so block occupancy growing with the corpus
    is exactly the all-pairs blowup this operator exists to avoid.

    ``max_block_rows`` (round 16) makes that failure loud instead of
    silent: a lazily-evaluated guard joined into the plan raises at
    EXECUTION time if any block exceeds the bound (default 100k rows
    — ~5e9 pairs in one block, already past where
    ``dedup.embedding_near_dup`` (LSH) or ``ivf`` top-k is the right
    operator). Pass a larger bound or ``None`` to accept the
    quadratic explicitly. The guard is one tiny groupBy + broadcast
    join of per-block counts; output is unchanged whenever it does
    not fire.
    """
    # normalize once and materialize: both join sides reuse unit vectors
    normed = _spread(emb).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        unit_vec(F.col(vec_col)).alias("v"),
    ).cache()
    a = normed.select(
        F.col("id").alias("a_id"), "block", F.col("v").alias("a_vec")
    )
    if max_block_rows is not None:
        counts = normed.groupBy("block").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        guard = F.when(
            F.col("__bn") > int(max_block_rows),
            F.raise_error(
                F.concat(
                    F.lit("cosine_pairs_blocked: block '"),
                    F.col("block").cast("string"),
                    F.lit("' holds "),
                    F.col("__bn").cast("string"),
                    F.lit(
                        f" rows > max_block_rows={int(max_block_rows)}"
                        " — per-block pair cost is rows^2/2; use"
                        " embedding_near_dup (LSH) or IVF top-k at"
                        " this scale, or raise max_block_rows"
                        " explicitly"
                    ),
                )
            ).isNull(),
        ).otherwise(F.lit(True))
        a = (
            a.join(F.broadcast(counts), "block")
            .filter(guard)
            .drop("__bn")
        )
    b = normed.select(
        F.col("id").alias("b_id"), "block", F.col("v").alias("b_vec")
    )
    return (
        a.join(b, "block")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("sim", F.round(dot(F.col("a_vec"), F.col("b_vec")), ROUND_DP))
        .filter(F.col("sim") >= threshold)
        .select("block", "a_id", "b_id", "sim")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes) — the scale path for ANN
# ---------------------------------------------------------------------------


def hyperplane_signature(vec_col: str, dim: int, n_planes: int, seed: int = 42):
    """Bit-pattern string of sign(vec . plane_i) for i < n_planes, as an
    Arrow-vectorized pandas UDF.

    Signature hashing is dense matrix math ((batch x dim) @ (dim x
    planes)) — the one place numpy beats native expressions: Spark's
    higher-order array functions are interpreted per lambda call
    (~µs/element), while the Arrow batch transfer + BLAS matmul is
    ~ns/element. Planes are drawn from a seeded PCG64 generator, so
    signatures are reproducible across runs, machines, and cluster
    sizes.
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def _sig(v):
        if len(v) == 0:
            return pd.Series([], dtype="object")
        # float64: sign(v . plane) must agree with double-precision
        # engines (the DuckDB oracle) — float32 dots near zero could
        # flip a bit
        x = np.stack(v.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (x @ planes.T) >= 0.0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    return series_udf(_sig, "string")(vec_col)


def pairwise_dot_udf():
    """Arrow-vectorized dot product of two array columns in float64 —
    for verify stages scoring many candidate PAIRS (each row carries
    both vectors, so there's no matrix structure to exploit, but the
    batch elementwise product still beats the interpreted HOF fold by
    ~5-10x). Sum order differs from the sequential fold by ~1e-16;
    rounded sims (6dp) are unaffected."""
    import numpy as np
    import pandas as pd

    def _dot(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack(a.to_numpy()).astype(np.float64)
        y = np.stack(b.to_numpy()).astype(np.float64)
        return pd.Series((x * y).sum(axis=1))

    return series_udf(_dot, "double")


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's
    hyperplane-sign bucket. Recall improves with fewer planes (bigger
    buckets) and can be boosted with multiple tables (union of runs
    with different plane offsets)."""
    sig = lambda df, idc, vc: df.select(  # noqa: E731
        F.col(id_col).alias(idc),
        unit_vec(F.col(vec_col)).alias(vc),
        hyperplane_signature(vec_col, dim, n_planes).alias("bucket"),
    )
    q = sig(queries, "query_id", "q_vec")
    c = sig(_spread(emb), "neighbor_id", "c_vec")
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("q_vec"), F.col("c_vec")), ROUND_DP))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def centroid_norms(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid L2 norm (posexplode -> per-dimension mean ->
    norm). Deterministic to ROUND_DP; the per-dimension mean uses
    sum/count of doubles, which is stable well past 6dp here."""
    exploded = _spread(emb).select(
        F.col(group_col).alias("grp"), F.posexplode(_as_double(F.col(vec_col)))
    ).select("grp", F.col("pos"), F.col("col").alias("v"))
    dims = exploded.groupBy("grp", "pos").agg(
        (F.sum("v") / F.count("v")).alias("mean_v"), F.count("v").alias("n")
    )
    return (
        dims.groupBy("grp")
        .agg(
            F.round(F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v"))), ROUND_DP).alias(
                "centroid_norm"
            ),
            F.max("n").alias("n_vectors"),
        )
        .select(F.col("grp").alias(group_col), "centroid_norm", "n_vectors")
    )


def cosine_topk_matrix(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors, matrix-scored (the batch-kNN scale
    path for LARGE query sets).

    The query set is collected to a numpy matrix and shipped in the
    mapInPandas closure (broadcast); each corpus Arrow batch scores all
    queries in one BLAS matmul and emits only its LOCAL top-k per query
    — so the shuffle carries k rows per (query, partition), not the
    full |queries| x |corpus| score matrix. A final ranking window
    merges partial top-ks. Same results as ``cosine_topk`` (ties broken
    by rounded sim then neighbor id); ~matmul speed instead of
    interpreted per-pair array folds.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype="int64")
    q_mat = np.stack([np.asarray(r[vec_col], dtype="float64") for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            x = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col].to_numpy()]
            )
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            sims = np.round(q_mat @ x.T, ROUND_DP)  # (n_queries, batch)
            out = []
            for qi in range(len(q_ids)):
                s = sims[qi]
                mask = c_ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # local top-k: order by (-sim, neighbor_id)
                order = sorted(
                    cand_idx, key=lambda j: (-s[j], c_ids[j])
                )[: k]
                for j in order:
                    out.append((int(q_ids[qi]), int(c_ids[j]), float(s[j])))
            if out:
                yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


# tf-idf weights quantize idf to integer millionths (float discipline:
# tfidf_cosine_pairs' docstring)
_IDF_SCALE = 1_000_000


def _tfidf_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None,
    max_token_df: int | None,
) -> DataFrame:
    """Shared tf-idf posting construction for ``tfidf_cosine_pairs``
    and its prefix-filtered variant: one (id[, blk], tok, df_t, wq)
    row per posting, ``wq`` the integer-quantized tf*idf weight (the
    float discipline lives in the callers' docstrings)."""
    from .text import tokens
    from .util import spread

    blk = [F.col(block_col).alias("blk")] if block_col else []
    keep = ["blk"] if block_col else []
    tf = (
        spread(docs)
        .select(
            F.col(id_col).alias("id"), *blk, tokens(text_col).alias("__toks")
        )
        .select("id", *keep, F.explode("__toks").alias("tok"))
        .groupBy("id", *keep, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = tf.agg(F.countDistinct("id").alias("n_docs"))
    wtok = Window.partitionBy("tok")
    w = (
        tf.withColumn("df_t", F.count(F.lit(1)).over(wtok))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            *keep,
            "tok",
            "df_t",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n_docs") / F.col("df_t")) * _IDF_SCALE
                ).cast("long")
            ).alias("wq"),
        )
    )
    if max_token_df is not None:
        w = w.filter(F.col("df_t") <= max_token_df)
    return w


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.35,
    max_token_df: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """Sparse lexical similarity: all doc pairs with tf-idf cosine >=
    ``threshold``, computed through an inverted-index self-join — the
    classic sparse counterpart of the dense-embedding operators above
    (and the BM25/tf-idf near-dup signal used in corpus curation).

    Never a cross join: docs only pair through tokens they share, so
    cost is sum(df^2) over tokens, not corpus^2. ``max_token_df``
    is the stop-token guard — tokens appearing in more than that many
    docs are dropped from the VECTORS (idf ~ 0 anyway), which bounds
    the hottest join key; without it one stop-token makes the join
    quadratic in its document frequency. NOT optional at scale
    (round-15 probe, PERF.md): the unguarded 10x corpus ran 60.1x
    (sum(df^2) grew 96.6x); an ABSOLUTE cap bounds per-key pair work
    at cap*postings — linear in the corpus — and measured 1.15x at
    10x. Size the cap to the largest df whose pairs you still want
    enumerated; when every pair must be enumerated EXACTLY, use
    ``tfidf_cosine_pairs_prefix`` (the All-Pairs prefix filter —
    bit-identical output, measured 22.2x vs 60.1x at the 10x probe
    and widening with corpus size). ``block_col`` additionally
    restricts pairing to docs sharing a blocking key (language,
    near-dup bucket, ...) — idf stays corpus-global, but the join key
    becomes (block, token) so the hottest key is bounded by block
    size, the same Sigma-block^2-not-corpus^2 bound as
    ``cosine_pairs_blocked``.

    Float discipline: idf is quantized once per token to integer
    ``_IDF_SCALE``-units; per-doc weights ``tf * idf_q`` are exact
    ints, so pair dot products and squared norms are exact integer
    sums. The only float ops are one sqrt+divide per surviving pair,
    on identical integers in any engine -> identical doubles.
    (int64 headroom: tf * idf_q stays < ~1e9 for corpora to ~1e9
    docs; squared-weight sums then stay < ~1e20/doc only for
    pathological tf — drop ``_IDF_SCALE`` to 1e3 past ~1e7-doc
    corpora with long docs.)

    Scale shape: the (id, tok, tf) frame shuffles ONCE by token for
    the document-frequency window; the pairing self-join keys on the
    same column so Catalyst reuses that exchange for both sides. AQE
    skew-split handles residual hot tokens. Norms are a per-doc
    partial agg; the final per-pair agg carries only surviving pairs.

    Returns ``(a_id, b_id, n_shared, sim)`` with sim rounded to 6dp.
    """
    w = _tfidf_weights(
        docs, id_col, text_col, block_col, max_token_df
    ).drop("df_t").cache()
    norms = w.groupBy("id").agg(F.sum(F.col("wq") * F.col("wq")).alias("n2"))
    keys = (["blk"] if block_col else []) + ["tok"]
    a = w.select(F.col("id").alias("a_id"), *keys, F.col("wq").alias("a_wq"))
    b = w.select(F.col("id").alias("b_id"), *keys, F.col("wq").alias("b_wq"))
    num = (
        a.join(b, keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("a_wq") * F.col("b_wq")).alias("num"),
        )
    )
    na = norms.select(F.col("id").alias("a_id"), F.col("n2").alias("a_n2"))
    nb = norms.select(F.col("id").alias("b_id"), F.col("n2").alias("b_n2"))
    return (
        num.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            F.round(
                # nullif-guard the norm product (round 15, the
                # q162-class ANSI rule): a doc whose every token has
                # idf 0 carries n2=0, and 0/0 must drop the pair (in
                # this DuckDB build 0.0/0.0 is NULL, which drops it;
                # builds with ieee_floating_point_ops=true return NaN,
                # which DuckDB sorts ABOVE all values and would KEEP
                # the pair — the oracle now mirrors this nullif guard
                # so parity holds by construction, round-16 advice),
                # not kill the task
                F.col("num")
                / F.when(
                    (F.col("a_n2") > 0) & (F.col("b_n2") > 0),
                    F.sqrt("a_n2") * F.sqrt("b_n2"),
                ),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def tfidf_cosine_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.35,
    max_token_df: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """``tfidf_cosine_pairs`` with the candidate stage bounded by the
    All-Pairs prefix filter (Bayardo, Ma & Srikant, WWW 2007) — the
    EXACTNESS-PRESERVING scale path for the sum(df^2) blowup the
    round-15 probe measured (60.1x at a 10x corpus; PERF.md part 3):
    same pairs, same integer-exact sims, but docs only meet through
    PREFIX features instead of every shared posting.

    The bound: order every doc's features by one global canonical
    order (df ascending, token tie-break — hot tokens sort LAST so
    they fall into suffixes); with unit weights u and the per-key
    corpus max unit weight mw, the best cosine any partner can reach
    through features from position j on is S(j) = sum_{k>=j} u_k*mw_k.
    A doc's PREFIX is the features with S(j) >= threshold: if a pair
    shares no prefix feature of doc a, its whole overlap lives in a's
    suffix and sim <= S(prefix_end+1) < threshold — so joining
    prefix(a) x ALL(b) (both orientations via pair normalization)
    loses nothing. Verification re-derives num/norms from the SAME
    integer postings as the brute operator, so surviving pairs carry
    bit-identical sims; the float prefix bound only ever ADMITS
    extra candidates (a 1e-9 slack absorbs double rounding), never
    drops one — pinned by the differential suite.

    Scale shape: candidate cost is sum over tokens of
    prefix_df(tok) * df(tok) instead of df(tok)^2 — a stop-token's
    df enters linearly (its mw is tiny, so it almost never makes a
    prefix), which is exactly the term that made the unguarded join
    quadratic. Measured (PERF.md round-15 part 3): on a web-shaped
    corpus (60-token docs, 20k Zipf vocabulary) 4x the corpus costs
    this path 3.4x vs brute's 13.9x — 26.5x faster at n=20k with
    identical output; on the adversarial short-doc probe corpus the
    gap is a milder 60.1x -> 22.2x. Composes with ``max_token_df``
    (applied to the vectors before anything else, same semantics as
    the brute path) and ``block_col`` (mw and pairing both scoped
    per block).
    """
    eps = 1e-9
    keep = ["blk"] if block_col else []
    w = _tfidf_weights(
        docs, id_col, text_col, block_col, max_token_df
    ).cache()
    norms = w.groupBy("id").agg(F.sum(F.col("wq") * F.col("wq")).alias("n2"))
    # unit weights; a doc whose every token has idf 0 (n2=0) cannot
    # reach any positive threshold — pin u to 0 rather than letting
    # 0/0 NaN poison the per-token max and every cohabiting doc's
    # suffix bound
    u = (
        w.join(norms, "id")
        .withColumn(
            "u",
            F.when(
                F.col("n2") > 0, F.col("wq") / F.sqrt(F.col("n2"))
            ).otherwise(F.lit(0.0)),
        )
    )
    mw_win = Window.partitionBy(*keep, "tok")
    # S(j): inclusive suffix sum in canonical order == inclusive
    # running sum in the REVERSED order (df desc, tok desc)
    sfx_win = (
        Window.partitionBy("id")
        .orderBy(F.desc("df_t"), F.desc("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = (
        u.withColumn("mw", F.max("u").over(mw_win))
        .withColumn("sbound", F.sum(F.col("u") * F.col("mw")).over(sfx_win))
        .filter(F.col("sbound") >= F.lit(threshold) - F.lit(eps))
        .select(F.col("id").alias("p_id"), *keep, "tok")
    )
    cand = (
        prefix.join(
            w.select(F.col("id").alias("f_id"), *keep, "tok"),
            keep + ["tok"],
        )
        .filter(F.col("p_id") != F.col("f_id"))
        .select(
            F.least("p_id", "f_id").alias("a_id"),
            F.greatest("p_id", "f_id").alias("b_id"),
        )
        .distinct()
    )
    # exact integer verify over candidates only: same postings frame
    # as the brute path, so num / n_shared / sim are bit-identical
    wa = w.select(
        F.col("id").alias("a_id"), *keep, "tok", F.col("wq").alias("a_wq")
    )
    wb = w.select(
        F.col("id").alias("b_id"), *keep, "tok", F.col("wq").alias("b_wq")
    )
    num = (
        cand.join(wa, "a_id")
        .join(wb, ["b_id", *keep, "tok"])
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("a_wq") * F.col("b_wq")).alias("num"),
        )
    )
    na = norms.select(F.col("id").alias("a_id"), F.col("n2").alias("a_n2"))
    nb = norms.select(F.col("id").alias("b_id"), F.col("n2").alias("b_n2"))
    return (
        num.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            F.round(
                # nullif-guard the norm product (round 15, the
                # q162-class ANSI rule): a doc whose every token has
                # idf 0 carries n2=0, and 0/0 must drop the pair (in
                # this DuckDB build 0.0/0.0 is NULL, which drops it;
                # builds with ieee_floating_point_ops=true return NaN,
                # which DuckDB sorts ABOVE all values and would KEEP
                # the pair — the oracle now mirrors this nullif guard
                # so parity holds by construction, round-16 advice),
                # not kill the task
                F.col("num")
                / F.when(
                    (F.col("a_n2") > 0) & (F.col("b_n2") > 0),
                    F.sqrt("a_n2") * F.sqrt("b_n2"),
                ),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def quantize_unit_vec(a: Column) -> Column:
    """Symmetric int8-style quantization of a unit vector:
    ``round(u_i * 127)`` per dimension. On unit inputs every
    component is in [-1, 1], so values fit [-127, 127] — the
    scalar-quantization codebook of FAISS SQ8 / product-quantization
    coarse stages."""
    u = unit_vec(a)
    return F.transform(u, lambda x: F.round(x * 127).cast("long"))


def quantized_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by INTEGER dot product over int8-quantized
    unit vectors — the memory-bandwidth play of large-scale ANN (4x
    smaller vectors than float32, SIMD int8 dot on real hardware; at
    100 TB the quantized corpus is what fits the page cache).

    Integer dots are EXACT: scoring is engine/partition-order
    independent (products <= 127^2, sums <= dim * 127^2 — far
    inside int64), unlike float dots which need rounding tolerance.
    The only float step is the one-time normalization+quantization of
    each vector. Ranking ties break on neighbor id.

    Returns ``(query_id, neighbor_id, dot_q, rk)``.
    """
    corpus = _spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        quantize_unit_vec(F.col(vec_col)).alias("c_q"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_unit_vec(F.col(vec_col)).alias("q_q"),
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_q", dot_q)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dot_q", "rk")
    )


def quantized_vectors(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vq): embeddings quantized to integer micro-units —
    round(x * 1e6) per dimension, the exactness bridge for
    cross-engine float-free moment computation."""
    return _spread(emb).select(
        F.col(id_col).alias("id"),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * 1_000_000).cast("long"),
        ).alias("vq"),
    )


def pca_top_component(
    emb: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """First principal component of an embedding corpus, computed the
    distributed-exact way: raw moments accumulate as INTEGER sums over
    micro-quantized vectors (order/partition independent — no float
    drift between runs or engines), and only the tiny (dim x dim)
    covariance eigenproblem runs on the driver (deterministic power
    iteration from the ones vector, sign fixed on the first non-zero
    component).

    Scale shape: ONE explode-self-join keyed on the row id produces
    the dim^2 co-moment stream with map-side partial aggregation —
    dim^2 rows reach the driver regardless of corpus size (the same
    bounded-driver-traffic contract as IVF's Lloyd loop and BPE's
    argmax). int64 headroom: sum |vq_i*vq_j| < n * (|v|max*1e6)^2,
    which holds up to ~1e8 rows of unit-normed vectors.

    Returns the unit float pc1 as a list of ``dim`` floats.
    """
    import numpy as np

    ex = quantized_vectors(emb, id_col, vec_col).select(
        "id", F.posexplode("vq").alias("i", "a")
    )
    b = ex.select(F.col("id"), F.col("i").alias("j"), F.col("a").alias("b"))
    S_rows = (
        ex.join(b, "id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("a") * F.col("b")).alias("s"))
        .collect()
    )
    m_rows = (
        ex.groupBy("i")
        .agg(F.sum("a").alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = m_rows[0]["n"]
    S = np.zeros((dim, dim))
    for r in S_rows:
        S[r["i"], r["j"]] = r["s"]
    m = np.zeros(dim)
    for r in m_rows:
        m[r["i"]] = r["m"]
    # covariance from exact integer moments: C = S/n - (m/n)(m/n)^T
    C = S / n - np.outer(m / n, m / n)
    v = np.ones(dim)
    for _ in range(100):
        v = C @ v
        v = v / np.linalg.norm(v)
    # deterministic sign: first component with |x| > tol positive
    for x in v:
        if abs(x) > 1e-12:
            if x < 0:
                v = -v
            break
    return [float(x) for x in v]


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Top-k BM25 ranked retrieval for a fixed query-term set — the
    lexical retrieval scorer of every RAG / training-data curation
    stack (Robertson & Zaragoza 2009), complementing
    ``tfidf_cosine_pairs`` (pairwise near-dup) with query->corpus
    ranking.

    Standard parameters k1 = 1.2, b = 0.75 are baked in as EXACT
    RATIONALS: multiplying the saturation term's numerator and
    denominator by 20*T (T = total corpus tokens) gives

        tf_part = (44*T*tf) / (20*T*tf + 6*T + 18*dl*N)

    with 44 = 20*(k1+1), 6 = 20*k1*(1-b), 18 = 20*k1*b and N = doc
    count — every operand an integer, so both engines evaluate the
    identical product/sum chain and the single divide+round lands on
    the same double. idf uses the positive BM25+ form
    ln(1 + (N - df + .5)/(df + .5)), quantized ONCE to
    micro-units (the q98/q85 ln discipline); per-term scores
    round to integer micro-units so the per-doc SUM is exact.

    Scale shape: tokens are filtered to the |terms|-element query set
    BEFORE the tf groupBy (map-side semi-filter via isin on a literal
    array), so the shuffle carries at most |terms| rows per doc —
    corpus length never reaches the agg. Corpus stats (N, T) are one
    separate partial agg; df per term comes from the tf frame itself
    (|terms| groups). The final top-k is a single-partition
    row_number over at most the scoring docs — at 100 TB swap for a
    per-partition local top-k + global merge, same semantics.

    Returns (doc_id, n_terms_hit, score_micro) for the k best docs,
    ties broken by ascending id.
    """
    from .text import tokens
    from .util import spread

    base = spread(docs).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    lens = base.select("id", F.size("__toks").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
    )
    tf = (
        base.select("id", F.explode("__toks").alias("tok"))
        .filter(F.col("tok").isin(list(terms)))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(lens, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_q",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df_t") + 0.5)
                    / (F.col("df_t") + 0.5)
                )
                * 1_000_000
            ).cast("long"),
        )
        .withColumn(
            "score_q",
            F.round(
                F.col("idf_q")
                * (
                    (F.lit(44.0) * F.col("t_tokens") * F.col("tf"))
                    / (
                        F.lit(20.0) * F.col("t_tokens") * F.col("tf")
                        + F.lit(6.0) * F.col("t_tokens")
                        + F.lit(18.0) * F.col("dl") * F.col("n_docs")
                    )
                )
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("score_q").alias("score_micro"),
    )
    # distributed top-k FIRST (TakeOrderedAndProject: per-partition
    # k-row heaps, driver merge), THEN the rank window — which now
    # runs over k rows instead of single-partitioning the whole
    # scored corpus (round 15; same deterministic output)
    top = per_doc.orderBy(F.desc("score_micro"), F.asc("id")).limit(int(k))
    wk = Window.orderBy(F.desc("score_micro"), F.asc("id"))
    return (
        top.withColumn("rk", F.row_number().over(wk))
        .select(
            F.col("id").alias(id_col), "n_terms_hit", "score_micro", "rk"
        )
    )


def tfidf_cosine_pairs_auto(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.35,
    max_token_df: int | None = None,
    block_col: str | None = None,
    prefix: bool = True,
) -> DataFrame:
    """The ``util.scale_profile`` entry point for tf-idf cosine
    pairs (round 16): routes to ``tfidf_cosine_pairs_prefix`` (exact
    All-Pairs filter — the default here, because profiles exist for
    corpora where the unguarded sum(df^2) join is the measured 60.1x
    blowup) or the brute ``tfidf_cosine_pairs`` when ``prefix=False``
    (lowest constant on small corpora). ``max_token_df`` composes
    with either. Call shape::

        prof = scale_profile(..., stop_token_df=...)  # or without
        tfidf_cosine_pairs_auto(docs, **prof.tfidf_kwargs())
    """
    op = tfidf_cosine_pairs_prefix if prefix else tfidf_cosine_pairs
    return op(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        max_token_df=max_token_df,
        block_col=block_col,
    )
