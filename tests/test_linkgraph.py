"""Link-graph analytics (operators/linkgraph.py) and the Bloom corpus
addition, on hand-checked graphs and documents.

page_rank_int is verified against a by-hand replay of the integer
fixed-point recurrence. Bloom is property-tested for the
no-false-negative guarantee and replayed bit-for-bit in python.
"""

import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators import corpus as C
from bdtopo2refhydro_spark.operators import linkgraph as LG


# ---------------------------------------------------------------------------
# page_rank_int
# ---------------------------------------------------------------------------

def _py_pagerank(edges, rounds=3, scale=1_000_000, damping=85):
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    base = scale * (100 - damping) // 100
    rank = {n: scale for n in nodes}
    for _ in range(rounds):
        nxt = {n: base for n in nodes}
        for s, d, w in edges:
            nxt[d] += ((rank[s] * damping) // 100) * w // outw[s]
        rank = nxt
    return rank


@pytest.mark.parametrize("rounds", [1, 3])
def test_page_rank_matches_python_replay(spark, rounds):
    # star into 'hub' + a 2-cycle + a dangling sink
    edges = [("a", "hub", 1), ("b", "hub", 2), ("c", "hub", 1),
             ("hub", "a", 1), ("x", "y", 3), ("y", "x", 1),
             ("a", "sink", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: r["rank"]
           for r in LG.page_rank_int(df, rounds=rounds).collect()}
    assert got == _py_pagerank(edges, rounds=rounds)


def test_page_rank_partitioning_invariant(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}", 1 + i % 4)
             for i in range(60)]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    a = sorted(map(tuple, LG.page_rank_int(df, rounds=3).collect()))
    b = sorted(map(tuple,
                   LG.page_rank_int(df.repartition(7), rounds=3).collect()))
    assert a == b == sorted(_py_pagerank(edges).items())


def _py_hits(edges, rounds=2, scale=1_000_000):
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(rounds):
        ar = {n: 0 for n in nodes}
        for s, d, w in edges:
            ar[d] += hub[s] * w
        amax = max(max(ar.values()), 1)
        auth = {n: v * scale // amax for n, v in ar.items()}
        hr = {n: 0 for n in nodes}
        for s, d, w in edges:
            hr[s] += auth[d] * w
        hmax = max(max(hr.values()), 1)
        hub = {n: v * scale // hmax for n, v in hr.items()}
    return {n: (hub[n], auth[n]) for n in nodes}


@pytest.mark.parametrize("rounds", [1, 2])
def test_hits_matches_python_replay(spark, rounds):
    # a classic hub (h fans out to three authorities), one authority
    # also pointed at by a stray node, a 2-cycle, a pure sink
    edges = [("h", "p1", 1), ("h", "p2", 2), ("h", "p3", 1),
             ("stray", "p1", 1), ("x", "y", 1), ("y", "x", 1),
             ("p1", "sink", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in LG.hits_int(df, rounds=rounds).collect()}
    exp = _py_hits(edges, rounds=rounds)
    assert got == exp
    # the fan-out node is the top hub, its most-linked target top authority
    assert max(exp, key=lambda n: exp[n][0]) == "h"


def test_hits_partitioning_invariant(spark):
    edges = [(f"n{i}", f"n{(i * 5 + 2) % 19}", 1 + i % 3)
             for i in range(50)]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    a = sorted(map(tuple, LG.hits_int(df, rounds=2).collect()))
    b = sorted(map(tuple, LG.hits_int(df.repartition(7), rounds=2).collect()))
    exp = sorted((n, h, au) for n, (h, au) in _py_hits(edges).items())
    assert a == b == exp


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------

def _py_bloom_positions(key, m_words=64):
    m_bits = m_words * 63
    return [((a * key + b) % C.BLOOM_P) % m_bits for a, b in C.BLOOM_HASHES]


def test_bloom_no_false_negatives_and_exact_replay(spark):
    member_keys = [(k * k * 7919 + 13) % C.BLOOM_P for k in range(40)]
    probe_keys = member_keys + [(k * 104729 + 5) % C.BLOOM_P
                                for k in range(200)]
    members = spark.createDataFrame([(k,) for k in member_keys],
                                    "key long").distinct()
    bloom = C.bloom_build(members, "key", m_words=64)
    probe = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probe_keys)], "doc_id long, key long")
    got = {r["doc_id"]: r["bloom_hit"]
           for r in C.bloom_probe(probe, "key", bloom, m_words=64).collect()}

    words = [0] * 64
    for k in set(member_keys):
        for pos in _py_bloom_positions(k):
            words[pos // 63] |= 1 << (pos % 63)
    expect = {
        i: all(words[p // 63] & (1 << (p % 63))
               for p in _py_bloom_positions(k))
        for i, k in enumerate(probe_keys)
    }
    assert got == expect
    # the guarantee: every member key hits
    assert all(got[i] for i in range(len(member_keys)))


def test_bloom_filter_is_tiny(spark):
    members = spark.createDataFrame([(k,) for k in range(1000)], "key long")
    bloom = C.bloom_build(members, "key", m_words=8)
    rows = bloom.collect()
    assert len(rows) <= 8
    assert all(0 <= r["word"] < 8 and r["bits"] > 0 for r in rows)


def test_anchor_aggregate_topk_and_ties(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import anchor_aggregate

    links = spark.createDataFrame(
        [("t1", "home"), ("t1", "home"), ("t1", "home"),
         ("t1", "docs"), ("t1", "docs"),
         ("t1", "blog"), ("t1", "api"),       # cnt=1 tie: 'api' < 'blog'
         ("t2", "solo")],
        "dst string, anchor string")
    got = {r.dst: (r.n_links, r.n_anchors, r.top_anchors)
           for r in anchor_aggregate(links, k=3).collect()}
    assert got["t1"] == (7, 4, "home\x1fdocs\x1fapi")
    assert got["t2"] == (1, 1, "solo")


def test_anchor_aggregate_k_larger_than_anchors(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import anchor_aggregate

    links = spark.createDataFrame([("t", "a"), ("t", "b")],
                                  "dst string, anchor string")
    [r] = anchor_aggregate(links, k=10).collect()
    assert (r.n_links, r.n_anchors, r.top_anchors) == (2, 2, "a\x1fb")


def test_kcore_peels_periphery_keeps_clique(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import kcore_peel

    # K4 clique (0-1-2-3 all pairs) + a pendant chain 3-4-5
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.degree for r in kcore_peel(df, k=3, rounds=3).collect()}
    # round 1 removes 5 (deg 1) and 4 (deg 2); round 2 removes nothing:
    # the K4 is the 3-core, every member at degree 3
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_needs_multiple_rounds_for_chains(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import kcore_peel

    # chain 0-1-2-3-4: 2-core is empty, but only after cascading peels
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    after1 = {r.node for r in kcore_peel(df, k=2, rounds=1).collect()}
    assert after1 == {1, 2, 3}           # endpoints peeled first
    assert kcore_peel(df, k=2, rounds=3).count() == 0   # cascade finishes


def test_kcore_ignores_self_loops_and_parallel_edges(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import kcore_peel

    edges = [(0, 0), (0, 1), (1, 0), (0, 1), (1, 2), (2, 0)]  # triangle
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.degree for r in kcore_peel(df, k=2, rounds=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


# ---------------------------------------------------------------------------
# label_propagation_int
# ---------------------------------------------------------------------------

def _py_label_prop(edges, rounds=3):
    und = {}
    for s, d, w in edges:
        und[(s, d)] = und.get((s, d), 0) + w
        und[(d, s)] = und.get((d, s), 0) + w
    nodes = {a for a, _ in und}
    lab = {n: n for n in nodes}
    for _ in range(rounds):
        nxt = {}
        for n in nodes:
            score = {}
            for (a, b), w in und.items():
                if a == n:
                    score[lab[b]] = score.get(lab[b], 0) + w
            # max weight, tie -> lexicographically smallest label
            nxt[n] = min(score, key=lambda c: (-score[c], c))
        lab = nxt
    return lab


@pytest.mark.parametrize("rounds", [1, 2, 3])
def test_label_prop_matches_python_replay(spark, rounds):
    # two triangles joined by one weak bridge -> two communities
    edges = [("a", "b", 3), ("b", "c", 3), ("c", "a", 3),
             ("x", "y", 3), ("y", "z", 3), ("z", "x", 3),
             ("c", "x", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: r["label"]
           for r in LG.label_propagation_int(df, rounds=rounds).collect()}
    assert got == _py_label_prop(edges, rounds)


def test_label_prop_parallel_edges_merge_weights(spark):
    # duplicate directed edges must merge into one undirected weight
    edges = [("a", "b", 1), ("b", "a", 1), ("a", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: r["label"]
           for r in LG.label_propagation_int(df, rounds=1).collect()}
    # a's neighbours: b with weight 2, c with weight 1 -> adopts 'b'
    assert got["a"] == "b"
    assert got["b"] == "a" and got["c"] == "a"


# ---------------------------------------------------------------------------
# two_hop_counts
# ---------------------------------------------------------------------------

def test_two_hop_counts_path_graph(spark):
    # path a-b-c-d-e: exact-distance-2 sets are {c}, {d}, {a,e}, {b}, {c}
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["n_two_hop"]
           for r in LG.two_hop_counts(df).collect()}
    assert got == {"a": 1, "b": 1, "c": 2, "d": 1, "e": 1}


def test_two_hop_counts_triangle_has_none(spark):
    # K3: every 2-hop candidate is already a direct neighbour
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    assert LG.two_hop_counts(df).count() == 0


def test_two_hop_counts_direction_irrelevant(spark):
    # reversed duplicate edges must not double-count
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    got = {r["node"]: r["n_two_hop"]
           for r in LG.two_hop_counts(df).collect()}
    assert got == {"a": 1, "c": 1}


# ---------------------------------------------------------------------------
# link_prediction
# ---------------------------------------------------------------------------

def test_link_prediction_square(spark):
    # 4-cycle a-b-c-d-a: the two diagonals (a,c) and (b,d) each share
    # BOTH off-diagonal nodes; every adjacent pair is excluded.
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string")
    rows = {(r["x"], r["y"]): r for r in LG.link_prediction(df).collect()}
    assert set(rows) == {("a", "c"), ("b", "d")}
    for r in rows.values():
        assert (r["cn"], r["deg_x"], r["deg_y"]) == (2, 2, 2)
        assert (r["jac_num"], r["jac_den"]) == (2, 2)


def test_link_prediction_path(spark):
    # path a-b-c: only (a,c) via b; Jaccard 1/1 (N(a)={b}, N(c)={b}).
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    rows = LG.link_prediction(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["x"], r["y"], r["cn"], r["jac_num"], r["jac_den"]) == \
        ("a", "c", 1, 1, 1)


# ---------------------------------------------------------------------------
# degree_assortativity_moments
# ---------------------------------------------------------------------------

def test_degree_assortativity_moments_star_vs_path(spark):
    # star a-{b,c,d}: every directed endpoint pair is (3,1) or (1,3):
    # m=6, s_j = 3*3 + 3*1 = 12, s_jk = 6*3 = 18, s_j2 = 3*9+3*1 = 30.
    star = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string")
    r = LG.degree_assortativity_moments(star).collect()[0]
    assert (r["m"], r["s_j"], r["s_jk"], r["s_j2"]) == (6, 12, 18, 30)
    # Newman r for a star is -1: (m*s_jk - s_j^2)/(m*s_j2 - s_j^2)
    assert (6 * 18 - 144) == -(6 * 30 - 144)
