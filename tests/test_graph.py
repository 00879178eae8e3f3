"""Integer fixed-point PageRank: distributed result must be
bit-identical to the driver-side reference (same arithmetic)."""

from __future__ import annotations

from e_commerce_data_pipeline_spark.operators.graph import RANK_SCALE, pagerank


def pagerank_reference(edge_list, iters: int = 3, damping_pct: int = 85):
    """Driver-side integer reference implementation (tests only):
    identical arithmetic to :func:`pagerank`, plain Python dicts."""
    edges = sorted({(u, v) for u, v in edge_list if u != v})
    deg: dict = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    n = len(deg)
    if n == 0:
        return {}
    teleport = (100 - damping_pct) * RANK_SCALE // (100 * n)
    r = {u: RANK_SCALE // n for u in deg}
    for _ in range(iters):
        share = {u: (damping_pct * r[u]) // (100 * deg[u]) for u in r}
        nxt: dict = {}
        for u, v in edges:
            nxt[v] = nxt.get(v, 0) + share[u]
        r = {v: m + teleport for v, m in nxt.items()}
    return r


def _run(spark, edge_list, iters=3):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["id"]: r["rank_q"] for r in pagerank(df, iters=iters).collect()
    }
    want = pagerank_reference(edge_list, iters=iters)
    return got, want


def test_matches_reference_on_small_graph(spark):
    # two triangles bridged by one edge, symmetrized
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = pairs + [(b, a) for a, b in pairs]
    got, want = _run(spark, edges)
    assert got == want
    # bridge endpoints (3, 4) carry the most rank
    top = sorted(got, key=lambda v: (-got[v], v))[:2]
    assert set(top) == {3, 4}


def test_star_center_dominates_and_mass_conserved(spark):
    center = 0
    pairs = [(center, i) for i in range(1, 9)]
    edges = pairs + [(b, a) for a, b in pairs]
    got, want = _run(spark, edges, iters=4)
    assert got == want
    assert got[center] == max(got.values())
    # floor losses only: total mass within |V| units per round of SCALE
    assert 0 < sum(got.values()) <= RANK_SCALE


def test_duplicate_and_self_edges_ignored(spark):
    pairs = [(1, 2), (2, 3), (1, 3)]
    edges = pairs + [(b, a) for a, b in pairs]
    noisy = edges * 3 + [(1, 1), (2, 2)]
    got, want = _run(spark, noisy, iters=2)
    clean_got, _ = _run(spark, edges, iters=2)
    assert got == want == clean_got


def test_triangle_counts_both_modes_match_bruteforce(spark):
    import itertools
    import random

    from e_commerce_data_pipeline_spark.operators.graph import triangle_counts

    rng = random.Random(11)
    nodes = list(range(30))
    edges = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(120)}
    # feed duplicates and both orientations: the operator must collapse
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in list(edges)[:20]]
    df = spark.createDataFrame(rows, "src long, dst long")

    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)
    want_tri = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want_tri[n] += 1

    for mode in (True, False):
        got = {r["node"]: r for r in triangle_counts(
            df, broadcast_adjacency=mode).collect()}
        for n, r in got.items():
            assert r["degree"] == len(adj[n])
            assert r["n_triangles"] == want_tri[n], (mode, n)
            if r["degree"] >= 2:
                d = r["degree"]
                assert abs(r["clustering6"] - round(2*want_tri[n]/(d*(d-1)), 6)) < 1e-9
        # nodes with no edges don't appear; all edge endpoints do
        assert set(got) == {n for n in nodes if adj[n]}
