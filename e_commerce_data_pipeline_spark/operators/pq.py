"""Product quantization (PQ) for embedding compression + ADC search —
the memory-side half of large-scale ANN (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011). IVF (ivf.py)
prunes WHICH vectors a query touches; PQ compresses WHAT is stored:
a d-dim vector becomes m sub-codes (here 16 subspaces x 4 bits —
8 bytes, a 32x compression of float32), and queries score
candidates without decompression via an additive lookup table (ADC).

Spark mapping:
- **Training** runs on a bounded deterministic sample collected to the
  driver (PQ codebooks have m*ksub*dsub parameters — 1,024 here — so
  sampling is the standard practice at any corpus size; the artifact
  is corpus-size independent like the IVF codebook).
- **Encoding** is an Arrow-batched kernel: per batch, an integer
  (x - c)^2 argmin per subspace — exact int64 math, no float ties.
- **ADC scoring** never touches a UDF: the per-query lookup table
  (n_q x m x ksub rows) broadcast-joins the exploded code table on
  (sub, code); per-(query, vector) scores are EXACT integer sums of
  micro-quantized partial dot products, so ranking is reproducible
  bit-for-bit by an independent engine.

Float discipline: vectors and codebooks are micro-quantized
(round(x * 1e6) as int64) BEFORE any distance/dot math, so encode
argmins and ADC scores are pure integer arithmetic on both engines —
the same fixed-point doctrine the money aggregates use.

Scale shape: codes are m small ints per vector (byte-packable on
disk); the exploded code table is m rows per vector with map-side
partial aggregation of the (query, vector) sums; the LUT is a
broadcast (bounded by the eval slice). Exhaustive ADC here scores
every vector per query to certify the compression; a production
deployment composes this with ivf.py's partition-pruned probe so only
the probed cells' codes are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import series_udf
from .util import spread as _spread

MICRO = 1_000_000
# Codebook shape: 16 subspaces of 4 dims (64-dim vectors), 16
# centroids each.
_M, _KSUB, _DSUB = 16, 16, 4
# Bound on the training sample collected to the driver.
_SAMPLE_CAP = 4096


def _np():
    import numpy as np

    return np


def _round_half_away(x):
    """SQL-round semantics (half away from zero) — numpy's rint is
    half-to-even and would diverge from the oracle's round() exactly
    at .5 boundaries."""
    np = _np()
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def quantize_micro(vec):
    """float vector -> int64 micro units (the shared fixed point)."""
    np = _np()
    return _round_half_away(np.asarray(vec, dtype=np.float64) * MICRO)


def train_pq_codebooks_micro(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace Lloyd iterations (8, seeded) on a deterministic
    sample -> (_M, _KSUB, _DSUB) int64 micro codebooks.

    The sample is the first ``_SAMPLE_CAP`` non-null ids in id order —
    deterministic for a given corpus, bounded for any corpus. All
    distances run on micro ints (exact); centroid means re-quantize to
    micro ints each iteration so the final codebook is integer by
    construction, not by a final cast."""
    np = _np()
    rows = (
        emb.filter(F.col(id_col).isNotNull())
        .orderBy(id_col)
        .limit(_SAMPLE_CAP)
        .select(vec_col)
        .collect()
    )
    x = np.stack([quantize_micro(r[0]) for r in rows])  # (n, dim) int64
    rng = np.random.default_rng(11)
    books = np.empty((_M, _KSUB, _DSUB), dtype=np.int64)
    for s in range(_M):
        xs = x[:, s * _DSUB : (s + 1) * _DSUB]
        # k-means++-free seeded init: _KSUB distinct sample rows
        init = rng.choice(xs.shape[0], size=min(_KSUB, xs.shape[0]), replace=False)
        c = xs[np.sort(init)].copy()
        if c.shape[0] < _KSUB:  # degenerate tiny corpus: pad by repetition
            c = np.resize(c, (_KSUB, _DSUB))
        for _ in range(8):
            d = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=-1)
            assign = d.argmin(axis=1)  # first-min tiebreak
            for k in range(_KSUB):
                mask = assign == k
                if mask.any():
                    c[k] = np.rint(xs[mask].mean(axis=0)).astype(np.int64)
        books[s] = c
    return books


def pq_codes(
    emb: DataFrame,
    books_micro,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus: (id_col, codes array<int>) with
    codes[s] = argmin_k |xq_sub - c_sk|^2 — exact integer distances,
    first-min tiebreak (matches the oracle's (dist ASC, code ASC)
    window)."""
    import pandas as pd

    np = _np()
    books = np.asarray(books_micro, dtype=np.int64)
    m, ksub, dsub = books.shape

    def _encode(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([quantize_micro(e) for e in v.to_numpy()])
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for s in range(m):
            xs = x[:, s * dsub : (s + 1) * dsub]
            d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=-1)
            out[:, s] = d.argmin(axis=1)
        return pd.Series(list(out))

    enc = series_udf(_encode, "array<int>")
    return _spread(emb).select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


def ivfpq_adc_topk(
    spark,
    index_path: str,
    emb: DataFrame,
    books_micro,
    query_filter,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN serving shape — the coarse IVF index
    prunes candidates to each query's ``nprobe`` nearest cells (the
    scan reads ONLY those partition directories of the on-disk index,
    same pruning as ivf.probe_ivf_index), then PQ ADC ranks the
    survivors through integer LUT sums without touching the original
    vectors. Probe clusters and LUTs derive driver-side from the
    bounded query slice; candidate scoring is a broadcast LUT join
    with map-side partial aggregation."""
    np = _np()
    books = np.asarray(books_micro, dtype=np.int64)
    m, ksub, dsub = books.shape
    cn = np.asarray(centroids, dtype=np.float64)
    cn = cn / np.linalg.norm(cn, axis=1, keepdims=True)
    qrows = (
        emb.filter(query_filter).select(id_col, vec_col).orderBy(id_col).collect()
    )
    lut_rows, probe_rows = [], []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qn = qv / np.linalg.norm(qv)
        sims = cn @ qn
        # (sim DESC, centroid ASC) — the oracle's probe window order
        order = sorted(range(len(sims)), key=lambda c: (-sims[c], c))[:nprobe]
        probe_rows.extend((int(r[0]), int(c)) for c in order)
        qq = quantize_micro(r[1])
        for s in range(m):
            vals = _round_half_away(
                (books[s] @ qq[s * dsub : (s + 1) * dsub]) / MICRO
            )
            lut_rows.extend(
                (int(r[0]), s, int(code), int(vals[code]))
                for code in range(ksub)
            )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, sub int, code int, lut_micro long"
    )
    probes = spark.createDataFrame(probe_rows, "query_id long, cluster int")
    clusters = sorted({c for _, c in probe_rows})
    # literal isin -> static partition pruning on the index scan
    idx = spark.read.parquet(index_path).filter(F.col("cluster").isin(clusters))
    cand = (
        F.broadcast(probes)
        .join(idx.select("neighbor_id", "cluster"), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    codes = pq_codes(emb, books, id_col=id_col, vec_col=vec_col)
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        cand.join(exploded, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_micro").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score_micro")
    )


def pq_adc_topk(
    emb: DataFrame,
    books_micro,
    query_filter,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exhaustive ADC top-k: every corpus vector scored against every
    query through the code table — certifies the compression quality
    end to end. Returns (query_id, rank, neighbor_id, score_micro)
    with rank by (score DESC, neighbor_id), self-matches excluded.

    ``query_filter`` is a Column predicate selecting the bounded
    query slice; its rows are collected (driver-side eval artifact,
    corpus-size independent) to build the LUT."""
    np = _np()
    spark = emb.sparkSession
    books = np.asarray(books_micro, dtype=np.int64)
    m, ksub, dsub = books.shape
    qrows = (
        emb.filter(query_filter).select(id_col, vec_col).orderBy(id_col).collect()
    )
    lut_rows = []
    for r in qrows:
        qq = quantize_micro(r[1])
        for s in range(m):
            qs = qq[s * dsub : (s + 1) * dsub]
            # partial dot in micro^2; rescale to micro so m-term sums
            # stay far from int64 range at any dimension (SQL-round
            # semantics so the oracle's round() agrees at .5 exactly)
            vals = _round_half_away((books[s] @ qs) / MICRO)
            lut_rows.extend(
                (int(r[0]), s, int(code), int(vals[code]))
                for code in range(ksub)
            )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, sub int, code int, lut_micro long"
    )
    codes = pq_codes(emb, books, id_col=id_col, vec_col=vec_col)
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_micro").alias("score_micro"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score_micro")
    )
