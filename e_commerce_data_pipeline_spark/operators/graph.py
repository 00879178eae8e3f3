"""Iterative graph operators: integer fixed-point PageRank.

PageRank over co-occurrence graphs (part co-purchase, doc link graphs)
is the canonical iterative operator a training-data pipeline needs for
importance weighting and crawl-frontier scoring. Spark has no built-in;
this is the composition-of-DataFrame-ops formulation: one cached edge
frame pre-partitioned and sorted by source WITH the source out-degree
attached, and per iteration exactly one join (edges ⋈ ranks, reusing
the cached layout) and one partial-aggregated groupBy — the standard
distributed PageRank shuffle pattern (Malewicz et al., Pregel,
SIGMOD'10) with the per-iteration degree join folded away.

All arithmetic is INTEGER fixed-point: rank mass lives in
``RANK_SCALE`` units and per-edge shares use floor division, so the
result is bit-identical across engines, partitionings, and repeated
runs — a SQL engine unrolling the same iterations (the DuckDB oracle
does) reproduces every rank exactly. Floor losses leak a few units of
mass per vertex per round; ranking order is unaffected and
determinism is what matters for verification.

Scale: the edge frame is repartitioned by ``src`` once and cached
(sorted within partitions by the window that attaches the degree), so
the per-iteration share join reuses that layout instead of
re-shuffling — or re-sorting — edges every round; only the |V|-row
rank frame moves. Ranks are ``localCheckpoint``-ed per round to keep
lineage flat over many iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 10**12
# Damping factor in percent: 85 % of a vertex's rank flows along its
# out-edges, the rest teleports uniformly.
DAMPING_PCT = 85


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """(id, rank_q) after ``iters`` power iterations; rank_q is in
    RANK_SCALE units.

    ``edges`` is a directed edge list; it is deduplicated here. Every
    vertex must have out-degree >= 1 (always true for symmetrized
    co-occurrence graphs) — there is no dangling-mass redistribution.

    Exact update rule (all integer, '//' = floor division)::

        r0(v)     = RANK_SCALE // N
        share_k(u)= (DAMPING_PCT * r_k(u)) // (100 * deg(u))
        r_{k+1}(v)= (100-DAMPING_PCT)*RANK_SCALE // (100*N)
                    + sum_{u->v} share_k(u)
    """
    from pyspark.sql import Window

    # One cached frame carries everything the loop needs: the edge
    # list WITH the source's out-degree attached (round 17). Degrees
    # ride on the edge rows, so the per-iteration ranks-to-degrees
    # join disappears — the floor-division share is computed per edge
    # and (damping * r) div (100 * deg) depends only on the source,
    # so per-edge evaluation is value-identical to the old per-source
    # share join. The window needs exactly the exchange + sort the
    # iteration join wants anyway: the cache holds the edge frame
    # hash-partitioned AND sorted by src, so each round's join reuses
    # the cached layout instead of re-shuffling (and re-sorting)
    # lineage (guide §2.4).
    # repartition BEFORE the dedup: hashpartitioning(src) satisfies
    # the (src, dst) distinct's clustering requirement (same-key rows
    # can't straddle partitions), so the aggregate runs on the
    # repartition's exchange instead of adding its own — one shuffle
    # of the edge stream, not two
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .distinct()
        .withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .cache()
    )
    # bounded: one long per distinct source vertex; no exchange — the
    # cache is already partitioned by src
    n = e.select("src").distinct().count()
    if n == 0:
        return e.select(
            F.col("src").alias("id"), F.lit(0).cast("long").alias("rank_q")
        )
    teleport = (100 - DAMPING_PCT) * RANK_SCALE // (100 * n)
    ranks = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(RANK_SCALE // n).cast("long").alias("rank_q")
    )
    for _ in range(iters):
        ranks = (
            e.join(ranks, e.src == ranks.id)
            .select(
                "dst",
                F.expr(
                    f"({DAMPING_PCT} * rank_q) div (100 * deg)"
                ).alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("in_mass"))
            .select(
                F.col("dst").alias("id"),
                (F.col("in_mass") + F.lit(teleport)).alias("rank_q"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_adjacency: bool = True,
) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over an undirected simple graph (input pairs in any orientation;
    self-loops dropped, duplicates collapsed).

    Algorithm: degree-ordered edge orientation (node rank =
    (degree, id); every edge points from lower to higher rank), then
    triangle enumeration by out-neighbor intersection per edge: for
    oriented edge (a, b), every x in N_out(a) & N_out(b) closes the
    triangle (a, b, x) exactly once (ranks strictly increase along its
    oriented edges). Degree ordering bounds every out-list by
    O(sqrt(m)) on any graph (arboricity bound, Chiba-Nishizeki), so
    the total intersection work is O(m^1.5) even on hub-heavy graphs.
    Orientation changes COST only, never the result, so a SQL oracle
    can verify with the naive a<b<c triple join.

    ``broadcast_adjacency=True`` ships the |V|-row out-neighbor table
    to every task (one map-side pass over the edge stream — right
    whenever V is dim-sized, e.g. a part co-purchase graph). For
    graphs whose vertex set outgrows a broadcast, set it False: the
    closure runs as the classic wedge self-join + semi-join, all
    shuffle-partitioned on vertex keys.

    Returns (node, degree, n_triangles, clustering6) for every
    endpoint in the edge set, clustering6 = round(2T / d(d-1), 6).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .cache()
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    # degree table is |V| rows — broadcast regardless of closure mode
    ranked = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).cache()
    if broadcast_adjacency:
        # cached: the out-neighbor table feeds TWO broadcasts (keyed
        # on a and on b), and without the cache each broadcast re-runs
        # the full |E|-row shuffle + collect_list + array_sort (round
        # 17 plan audit: two identical ObjectHashAggregate subtrees)
        adj = (
            oriented.groupBy("a")
            .agg(F.array_sort(F.collect_list("b")).alias("nbrs"))
            .cache()
        )
        # na join is inner (edge (a,b) proves a has out-neighbors);
        # nb may be absent — slice(na, 1, 0) is a typed empty array,
        # keeping the operator generic over the node id type
        tri = (
            oriented.join(
                F.broadcast(adj.select(F.col("a"), F.col("nbrs").alias("na"))),
                "a",
            )
            .join(
                F.broadcast(
                    adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb"))
                ),
                "b",
                "left",
            )
            .select(
                "a",
                "b",
                F.explode(
                    F.array_intersect(
                        F.col("na"),
                        F.coalesce("nb", F.slice("na", 1, 0)),
                    )
                ).alias("c"),
            )
        )
    else:
        wedges = oriented.join(
            oriented.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )
        tri = wedges.join(
            oriented.select(F.col("a"), F.col("b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tn, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .withColumn(
            "clustering6",
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.col("n_triangles")
                    / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
