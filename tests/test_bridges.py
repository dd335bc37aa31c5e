"""Bridges / 2-edge-connected components (batch 76).

Engine: spanning tree (Borůvka) → Euler tour intervals → non-tree-edge
XOR marks → ONE two-level prefix-XOR scan answers every subtree test.
Oracle here: pure-python brute force — an edge is a bridge iff removing
it disconnects its endpoints (BFS); 2ecc = components of graph minus
bridges. Randomized connected graphs (random tree + extra edges) so the
spanning tree the engine picks differs from the generator's tree.
"""
import random

import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators.graph import (
    bridges, prefix_scan_xor, two_edge_components)


def _bfs_reachable(n, adj, start, skip_edge=None):
    seen = {start}
    stack = [start]
    while stack:
        u = stack.pop()
        for v in adj.get(u, ()):
            if skip_edge and {u, v} == set(skip_edge):
                continue
            if v not in seen:
                seen.add(v)
                stack.append(v)
    return seen


def _brute_bridges(nodes, edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    out = {}
    for a, b in edges:
        out[(a, b)] = b not in _bfs_reachable(len(nodes), adj, a,
                                              skip_edge=(a, b))
    return out


def _brute_2ecc(nodes, edges):
    br = _brute_bridges(nodes, edges)
    adj = {}
    for (a, b), isb in br.items():
        if not isb:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
    comp = {}
    for v in sorted(nodes):
        if v in comp:
            continue
        for u in _bfs_reachable(len(nodes), adj, v):
            comp.setdefault(u, v)
    return comp


def _run_engine(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r["a"], r["b"]): r["is_bridge"]
           for r in bridges(df).collect()}
    return got


def test_triangle_with_pendant(spark):
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    got = _run_engine(spark, edges)
    assert got == {(0, 1): False, (1, 2): False, (0, 2): False,
                   (2, 3): True}


def test_pure_chain_all_bridges(spark):
    edges = [(i, i + 1) for i in range(6)]
    got = _run_engine(spark, edges)
    assert all(got.values()) and len(got) == 6


def test_cycle_no_bridges(spark):
    edges = [(i, (i + 1) % 5) for i in range(5)]
    got = _run_engine(spark, edges)
    assert not any(got.values()) and len(got) == 5


def test_disconnected_raises(spark):
    df = spark.createDataFrame([(0, 1), (2, 3)], "u long, v long")
    with pytest.raises(ValueError):
        bridges(df).collect()


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_random_graphs_vs_brute_force(spark, seed):
    rng = random.Random(seed)
    n = 40
    nodes = list(range(n))
    # random connected base tree + extra edges (some duplicates of
    # tree edges are filtered by the canonical distinct inside)
    edges = set()
    for v in range(1, n):
        p = rng.randrange(v)
        edges.add((min(p, v), max(p, v)))
    for _ in range(18):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    got = _run_engine(spark, edges)
    want = _brute_bridges(nodes, edges)
    assert got == want

    comp = {r["node"]: r["comp"]
            for r in two_edge_components(
                spark.createDataFrame(edges, "u long, v long")).collect()}
    assert comp == _brute_2ecc(nodes, edges)


def test_prefix_scan_xor_matches_serial(spark):
    rng = random.Random(3)
    rows = [(t, rng.getrandbits(63)) for t in rng.sample(range(10000), 500)]
    df = spark.createDataFrame(rows, "t long, m long")
    got = {r["t"]: r["p"]
           for r in prefix_scan_xor(df, t="t", val="m", out="p",
                                    num_partitions=7).collect()}
    acc = 0
    for t, m in sorted(rows):
        acc ^= m
        assert got[t] == acc


@pytest.mark.parametrize("seed", [4, 31])
def test_jp_coloring_proper_and_matches_sequential_greedy(spark, seed):
    """JP must equal sequential greedy processed in priority-DESC
    order (same mex, same higher-priority visibility) AND be a proper
    coloring."""
    from bdtopo2refhydro_spark.operators.graph import jp_coloring

    rng = random.Random(seed)
    n = 60
    edges = set()
    for v in range(1, n):
        p = rng.randrange(v)
        edges.add((min(p, v), max(p, v)))
    for _ in range(50):
        a, b = rng.sample(range(n), 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["color"] for r in jp_coloring(df).collect()}

    pr = lambda v: ((v * 2654435761) % (1 << 31)) * (1 << 31) + v
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v in sorted(adj, key=pr, reverse=True):
        used = {want[u] for u in adj[v] if u in want and pr(u) > pr(v)}
        c = 0
        while c in used:
            c += 1
        want[v] = c
    assert got == want
    for a, b in edges:
        assert got[a] != got[b]


@pytest.mark.parametrize("seed", [13, 47])
def test_count_four_cycles_vs_bruteforce(spark, seed):
    from itertools import combinations

    from bdtopo2refhydro_spark.operators.graph import count_four_cycles

    rng = random.Random(seed)
    n = 14
    edges = {(min(a, b), max(a, b))
             for a, b in (rng.sample(range(n), 2) for _ in range(30))}
    edges = sorted(edges)
    es = set(edges)
    want = 0
    for quad in combinations(range(n), 4):
        # count distinct 4-cycles on these 4 vertices (0 or up to 3)
        a, b, c, d = quad
        for perm in ((a, b, c, d), (a, b, d, c), (a, c, b, d)):
            w, x, y, z = perm
            if ({(min(w, x), max(w, x)), (min(x, y), max(x, y)),
                 (min(y, z), max(y, z)), (min(z, w), max(z, w))}
                    <= es):
                want += 1
    df = spark.createDataFrame(edges, "u long, v long")
    got = count_four_cycles(df).first()["n_c4"]
    assert got == want


def test_bom_rollup_vs_python_paths(spark):
    from bdtopo2refhydro_spark.operators.graph import bom_rollup

    # diamond with multiplicities + a second root
    edges = [(0, 1, 2), (0, 2, 3), (1, 3, 4), (2, 3, 5), (3, 4, 1),
             (10, 3, 7)]
    df = spark.createDataFrame(edges, "u long, v long, m long")
    got = {(r["root"], r["part"]): r["qty"]
           for r in bom_rollup(df).collect()}
    # root 0: part1=2, part2=3, part3=2*4+3*5=23, part4=23
    # root 10: part3=7, part4=7
    assert got == {(0, 1): 2, (0, 2): 3, (0, 3): 23, (0, 4): 23,
                   (10, 3): 7, (10, 4): 7}
