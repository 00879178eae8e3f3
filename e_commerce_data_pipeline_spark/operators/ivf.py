"""IVF (inverted-file) approximate nearest neighbor search (north-star
U5 "IVF or LSH-bucketed variant as the scale path").

Classic two-level ANN: a small codebook of coarse centroids partitions
the corpus into inverted lists; a query scores only the lists of its
``nprobe`` nearest centroids. Spark mapping:

- **Training** (Lloyd iterations): assignment is an Arrow-batched
  numpy matmul per partition; centroid update is a posexplode +
  groupBy(cluster, dim) mean — both linear scans with map-side
  partial aggregation. The codebook (n_centroids x dim floats) lives
  on the driver and broadcasts into the UDF closure each iteration.
- **Index**: the corpus with a ``cluster`` column — at scale this is
  written partitioned/bucketed by cluster so a probe reads only its
  lists' files.
- **Query**: queries get their nprobe nearest centroids (explode), an
  equi-join on cluster against the index bounds candidates, exact
  cosine re-ranks.

Determinism: centroids initialize from a seeded PCG64 generator and
iterate a fixed count, so the index is reproducible across runs and
cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import dot, unit_vec
from .util import ROUND_DP
from .util import series_udf
from .util import spread as _spread


def _np():
    import numpy as np

    return np


def _assign_udf(centroids):
    """pandas UDF: nearest-centroid id per vector (cosine == dot on
    unit-normalized inputs; centroids are normalized at build).

    Math runs in float64: storage is array<float>, but a float32
    matmul disagrees with a double-precision engine (the DuckDB
    oracle, the HOF fold in ``ivf_topk_portable``) by ~1e-7 — enough
    to flip an argmax between near-equidistant centroids. Double
    matmul agrees to ~1e-15, where only genuine ties could flip, and
    ``np.argmax`` breaks those first-max like the portable path."""
    import pandas as pd

    np = _np()
    cn = centroids / _np().linalg.norm(centroids, axis=1, keepdims=True)

    def _assign(v):
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack(v.to_numpy()).astype(np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        return pd.Series(np.argmax(xn @ cn.T, axis=1).astype("int32"))

    return series_udf(_assign, "int")


def auto_nlist(n: int) -> int:
    """IVF list count for an ``n``-vector corpus: ~sqrt(n), floor 4.
    Fixed nlist makes per-list pair/probe work grow linearly with
    the corpus (the round-14 scale probe measured SemDeDup mildly
    superlinear at 10x for exactly this reason — PERF.md); sqrt(n)
    keeps list occupancy ~sqrt(n) so both the probe fan-out and the
    within-list work grow sublinearly."""
    import math

    return max(4, math.isqrt(max(n, 1)))


def train_centroids(
    emb: DataFrame,
    n_centroids: int | str = 16,
    n_iters: int = 3,
    vec_col: str = "embedding",
):
    """Lloyd iterations; returns the (n_centroids, 64) numpy codebook
    for the corpus's 64-dim vectors.

    ``n_centroids="auto"`` (round 14) sizes the codebook ~sqrt(n)
    via ``auto_nlist`` — one count() before training. The integer
    form stays the default: callers that mirror the codebook
    externally (the IVF oracle scratch) need the count pinned."""
    np = _np()
    corpus = _spread(emb).select(F.col(vec_col).alias("v")).cache()
    if isinstance(n_centroids, str):
        if n_centroids != "auto":
            raise ValueError('n_centroids must be an int or "auto"')
        n_centroids = auto_nlist(corpus.count())
    dim = 64
    rng = np.random.default_rng(42)
    centroids = rng.standard_normal((n_centroids, dim))
    for _ in range(n_iters):
        assigned = corpus.withColumn("c", _assign_udf(centroids)(F.col("v")))
        sums = (
            assigned.select("c", F.posexplode(F.col("v")))
            .groupBy("c", "pos")
            .agg(F.sum("col").alias("s"), F.count("col").alias("n"))
            .collect()
        )
        new_c = centroids.copy()
        acc = {}
        for r in sums:
            acc.setdefault(r["c"], np.zeros(dim + 1))
            acc[r["c"]][r["pos"]] = r["s"] / r["n"]
            acc[r["c"]][dim] = 1
        for c, vec in acc.items():
            if vec[dim]:
                new_c[c] = vec[:dim]
        centroids = new_c
    corpus.unpersist()
    return centroids


def build_ivf_index(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus with cluster assignment + unit vectors (the inverted lists).

    At scale: persist with ``write.partitionBy('cluster')`` (or
    bucketed) so probes prune to their lists.
    """
    return _spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        _assign_udf(centroids)(F.col(vec_col)).alias("cluster"),
        unit_vec(F.col(vec_col)).alias("c_vec"),
    )


def ivf_topk_portable(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_topk`` with the assignment/probe computed as native double
    expressions instead of the numpy pandas UDF — a pure-SQL-shaped
    reference used to pin the fast path's semantics (tests assert the
    two agree row-for-row).

    Tie-breaks are explicit: first-max argmax for assignment,
    (sim DESC, centroid ASC) for probing, (sim DESC, neighbor ASC)
    for the final rank — the same order the fast path's float64
    argmax / stable argsort produce. Interpreted HOF math per
    (vector, centroid) makes this ~10x slower than the Arrow matmul
    at corpus scale; it exists for cross-engine auditability, not as
    a query path.
    """
    np = _np()
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cent_lits = [
        F.array(*[F.lit(float(x)) for x in row]) for row in cn
    ]
    sims_arr = F.array(
        *[dot(unit_vec(F.col(vec_col)), c) for c in cent_lits]
    ).alias("sims")

    idx = _spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        unit_vec(F.col(vec_col)).alias("c_vec"),
        sims_arr,
    ).withColumn(
        "cluster",
        (F.array_position(F.col("sims"), F.array_max("sims")) - 1).cast("int"),
    ).drop("sims")

    q_sims = queries.select(
        F.col(id_col).alias("query_id"),
        unit_vec(F.col(vec_col)).alias("q_vec"),
        sims_arr,
    ).select("query_id", "q_vec", F.posexplode("sims").alias("cluster", "c_sim"))
    wp = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cluster"))
    q = (
        q_sims.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "q_vec", "cluster")
    )

    scored = (
        q.join(idx, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("q_vec"), F.col("c_vec")), ROUND_DP))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def write_ivf_index(
    emb: DataFrame,
    centroids,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the inverted lists partitioned by cluster.

    One directory per list means a probe reads only its ``nprobe``
    lists' files — the at-scale index layout the build_ivf_index
    docstring promises (partition pruning shows up as
    ``PartitionFilters`` on the probe scan; tests/test_ivf.py asserts
    it on the executed plan).
    """
    idx = build_ivf_index(emb, centroids, id_col, vec_col)
    idx.write.mode("overwrite").partitionBy("cluster").parquet(path)


def probe_ivf_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a partitioned on-disk index, pruned to the probed
    lists.

    The union of the query batch's probe clusters is collected to the
    driver (bounded: <= |queries| * nprobe ints — query batches are
    small by construction) and applied as a literal ``isin`` filter, so
    the scan prunes statically to those partition directories; the
    per-query cluster equi-join inside ``ivf_topk`` then narrows each
    query to its own lists.
    """
    probed_rows = (
        queries.select(
            F.explode(_probe_udf(centroids, nprobe)(F.col(vec_col))).alias("cluster")
        )
        .distinct()
        .collect()
    )
    probed = sorted(r["cluster"] for r in probed_rows)
    idx = spark.read.parquet(index_path).filter(F.col("cluster").isin(probed))
    return ivf_topk(
        emb=None,
        queries=queries,
        centroids=centroids,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        index=idx,
    )


def _probe_udf(centroids, nprobe: int):
    import pandas as pd

    np = _np()
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def _probe(v):
        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = np.stack(v.to_numpy()).astype(np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = xn @ cn.T
        # float64 + stable sort == the portable path's explicit
        # (sim DESC, centroid ASC) probe order
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return series_udf(_probe, "array<int>")


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine over the nprobe probed lists."""
    idx = index if index is not None else build_ivf_index(emb, centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        unit_vec(F.col(vec_col)).alias("q_vec"),
        F.explode(_probe_udf(centroids, nprobe)(F.col(vec_col))).alias("cluster"),
    )
    scored = (
        q.join(idx, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("q_vec"), F.col("c_vec")), ROUND_DP))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )
