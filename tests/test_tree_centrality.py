"""tree_closeness vs brute-force BFS references on random forests."""

import random
from collections import deque

from bdtopo2refhydro_spark.operators.orders import tree_closeness


def _random_forest(rng, n):
    """parent(v) < v; some parent links dropped to split trees."""
    edges = []
    for v in range(1, n):
        if rng.random() < 0.15:
            continue  # v becomes a root
        edges.append((f"e{v}", v, rng.randrange(0, v)))
    return edges


def _adj(edges):
    g = {}
    for _, a, b in edges:
        g.setdefault(a, []).append(b)
        g.setdefault(b, []).append(a)
    return g


def _bfs_dists(g, src):
    d = {src: 0}
    q = deque([src])
    while q:
        v = q.popleft()
        for w in g[v]:
            if w not in d:
                d[w] = d[v] + 1
                q.append(w)
    return d


def test_tree_closeness_matches_bfs(spark):
    rng = random.Random(13)
    edges = _random_forest(rng, 120)
    g = _adj(edges)
    expected = {v: sum(_bfs_dists(g, v).values()) for v in g}
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    got = {r["node"]: r["closeness_sum"]
           for r in tree_closeness(df).collect()}
    assert got == expected


def test_single_edge_and_star(spark):
    edges = [("a", 1, 0), ("b", 2, 0), ("c", 3, 0)]  # star at 0
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    cl = {r["node"]: r["closeness_sum"] for r in tree_closeness(df).collect()}
    assert cl == {0: 3, 1: 5, 2: 5, 3: 5}
