"""Graph operator tests on a hand-drawn river tree (SURVEY.md §5.1).

Tree (flow A→B, downstream to outlet node O):

        N4      N5   N6       N7
          \\    /      \\     /
           N2            N3          (e4,e5 → N2;  e6,e7 → N3)
             \\          /
              ----N1----              (e2: N2→N1, e3: N3→N1)
                  |
                  O   (outlet)        (e1: N1→O)

Coordinates give distinct lengths so Hack main-stem choices are unambiguous:
O(0,0) N1(0,10) N2(-10,20) N3(10,20) N4(-20,40) N5(-5,35) N6(5,35) N7(18,38)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.geom.wkb import linestring_wkb
from bdtopo2refhydro_spark.operators import (
    aggregate_segments,
    edges_touching,
    fix_network_connectivity,
    hack_order,
    identify_network_nodes,
    measure_from_outlet,
    principal_stem,
    prune_slivers,
    select_connected,
    snap_endpoints_knn,
    strahler_order,
)

N = {
    "O": (0.0, 0.0), "N1": (0.0, 10.0), "N2": (-10.0, 20.0), "N3": (10.0, 20.0),
    "N4": (-20.0, 40.0), "N5": (-5.0, 35.0), "N6": (5.0, 35.0), "N7": (18.0, 38.0),
}
TREE = [  # (url, upstream_node, downstream_node)
    ("e1", "N1", "O"),
    ("e2", "N2", "N1"),
    ("e3", "N3", "N1"),
    ("e4", "N4", "N2"),
    ("e5", "N5", "N2"),
    ("e6", "N6", "N3"),
    ("e7", "N7", "N3"),
]


def _edges(spark, triples, extra=()):
    rows = [
        (u, linestring_wkb([N[a], N[b]]))
        for u, a, b in triples
    ] + list(extra)
    return spark.createDataFrame(rows, "url string, geom_wkb binary")


@pytest.fixture(scope="module")
def tree(spark):
    e = identify_network_nodes(_edges(spark, TREE), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    return e.withColumn("len", U.st_length("geom_wkb")).cache()


@pytest.fixture(scope="module")
def outlet(spark, tree):
    return tree.filter("url = 'e1'").select(F.col("NODEB").alias("node"))


def test_identify_nodes_shares_ids(tree):
    rows = {r.url: (r.NODEA, r.NODEB) for r in tree.collect()}
    assert rows["e2"][1] == rows["e1"][0]  # e2 flows into e1's upstream node
    assert rows["e4"][1] == rows["e2"][0]
    assert rows["e6"][1] == rows["e3"][0]
    all_nodes = {n for ab in rows.values() for n in ab}
    assert len(all_nodes) == 8  # no hash collisions, 8 distinct nodes


def test_identify_nodes_dense_mode(spark):
    e = identify_network_nodes(_edges(spark, TREE), tolerance=0.5, mode="dense")
    nodes = set()
    for r in e.collect():
        nodes.add(r.NODEA)
        nodes.add(r.NODEB)
    assert nodes == set(range(1, 9))  # sequential ids


def test_knn_snap_merges_nearby_endpoints(spark):
    # two edges ending 0.4 apart with tolerance 1.0 must share a node, even
    # across a quantization-cell boundary (endpoints straddle x=1.0)
    rows = [
        ("a", linestring_wkb([[10.0, 10.0], [0.8, 0.0]])),
        ("b", linestring_wkb([[1.2, 0.0], [10.0, -10.0]])),
        ("c", linestring_wkb([[50.0, 50.0], [60.0, 60.0]])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    snapped = snap_endpoints_knn(df, tolerance=1.0)
    r = {x.url: x for x in snapped.collect()}
    assert r["a"].NODEB == r["b"].NODEA
    assert r["c"].NODEA not in (r["a"].NODEB, r["a"].NODEA)


def test_select_connected_reaches_whole_tree(spark, tree, outlet):
    noise = [("x1", linestring_wkb([[500.0, 500.0], [510.0, 510.0]]))]
    e = identify_network_nodes(_edges(spark, TREE, noise), tolerance=0.5)
    visited = select_connected(e, outlet, "both")
    keys = {r.url for r in edges_touching(e, visited).collect()}
    assert keys == {t[0] for t in TREE}  # all tree edges, not the noise


def test_select_connected_directional(tree, outlet):
    # walking upstream from the outlet reaches everything; walking
    # downstream from a leaf node reaches only its path to the outlet
    up = select_connected(tree, outlet, "up")
    assert up.count() == 8
    leaf_n4 = tree.filter("url='e4'").select(F.col("NODEA").alias("node"))
    down = select_connected(tree, leaf_n4, "down")
    keys = {r.url for r in edges_touching(tree, down, direction="down").collect()}
    assert keys == {"e4", "e2", "e1"}  # only the path N4→outlet


def test_measure_from_outlet(tree, outlet):
    m = {r.url: r.MEASURE for r in measure_from_outlet(tree, outlet).collect()}
    assert m["e1"] == pytest.approx(0.0)
    assert m["e2"] == pytest.approx(10.0)  # dist(N1)
    assert m["e4"] == pytest.approx(10.0 + np.hypot(10, 10))  # dist(N2)


def test_strahler(tree):
    s = {r.url: r.STRAHLER for r in strahler_order(tree).collect()}
    assert s == {"e4": 1, "e5": 1, "e6": 1, "e7": 1, "e2": 2, "e3": 2, "e1": 3}


def test_hack(tree, outlet):
    h = {r.url: r.HACK for r in hack_order(tree, outlet).collect()}
    # UL(e2)=14.14+22.36 > UL(e3)=14.14+19.70 → e2 is main at N1
    # UL(e4)=22.36 > UL(e5)=15.81 → e4 main at N2
    # UL(e7)=19.70 > UL(e6)=15.81 → e7 main at N3
    assert h == {"e1": 1, "e2": 1, "e4": 1, "e5": 2, "e3": 2, "e7": 2, "e6": 3}


def test_principal_stem_drops_longer_parallel_channel(spark, outlet):
    # add a second channel N3→N1 with a detour (longer) — multichannel reach
    detour = ("e3b", linestring_wkb([N["N3"], (30.0, 15.0), N["N1"]]))
    e = identify_network_nodes(_edges(spark, TREE, [detour]), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    e = e.withColumn("len", U.st_length("geom_wkb"))
    out = e.filter("url = 'e1'").select(F.col("NODEB").alias("node"))
    kept = {r.url for r in principal_stem(e, out).collect()}
    assert "e3" in kept and "e3b" not in kept
    assert kept == {t[0] for t in TREE}


def test_prune_slivers(spark):
    # s1 short sliver (len 5 ≤ 500) flowing into a strahler-3 edge's NODEA;
    # iso: isolated short rank-1 edge; both must be dropped, tree kept
    extra = [
        ("s1", linestring_wkb([(3.0, 12.0), N["N1"]])),
        ("iso", linestring_wkb([(900.0, 900.0), (905.0, 900.0)])),
    ]
    e = identify_network_nodes(_edges(spark, TREE, extra), tolerance=0.5)
    from bdtopo2refhydro_spark.functions import udfs as U

    e = e.withColumn("len", U.st_length("geom_wkb"))
    e = strahler_order(e)
    kept = {r.url for r in prune_slivers(e).collect()}
    assert "iso" not in kept
    assert "s1" not in kept  # flows into e1 (strahler 3)
    assert {t[0] for t in TREE} <= kept


def test_fix_connectivity_readds_bridging_canal(spark):
    # two stream components bridged by canal 'c1'; far-away canal 'c2'
    # unrelated. Removing canals disconnects the upper component; fix must
    # re-add c1 but not c2.
    rows = [
        ("s1", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),       # lower stream
        ("c1", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),      # bridge canal
        ("s2", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),      # upper stream
        ("c2", linestring_wkb([(700.0, 0.0), (700.0, 10.0)])),   # stray canal
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    subset = spark.createDataFrame([("s1",), ("s2",)], "url string")
    outlet_nodes = e.filter("url='s1'").select(F.col("NODEB").alias("node"))
    kept = {r.url for r in
            fix_network_connectivity(e, subset, outlet_nodes).collect()}
    assert kept == {"s1", "s2", "c1"}


def test_fix_connectivity_multi_round_repair(spark):
    # two canals IN SERIES between the components: round 1 can only admit
    # c1 (touching the reached set), which exposes c2 in round 2 — the
    # greedy frontier repair must take >1 outer round (VERDICT r1 #4).
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    rows = [
        ("s1", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),
        ("c1", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),
        ("c2", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),
        ("s2", linestring_wkb([(0.0, 40.0), (0.0, 30.0)])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    subset = spark.createDataFrame([("s1",), ("s2",)], "url string")
    outlet_nodes = e.filter("url='s1'").select(F.col("NODEB").alias("node"))
    m = TraversalMetrics()
    kept = {r.url for r in
            fix_network_connectivity(e, subset, outlet_nodes,
                                     metrics=m).collect()}
    assert kept == {"s1", "s2", "c1", "c2"}
    g3_rounds = [r for r in m.rounds if r.get("op") == "fix_connectivity"]
    assert len(g3_rounds) > 1


def test_aggregate_segments_collapses_chains(spark):
    # path a→b→c (degree-2 interior nodes) + junction with two arms
    rows = [
        ("a", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),
        ("b", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),
        ("c", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),
        ("arm1", linestring_wkb([(-10.0, 40.0), (0.0, 30.0)])),
        ("arm2", linestring_wkb([(10.0, 40.0), (0.0, 30.0)])),
    ]
    df = spark.createDataFrame(rows, "url string, geom_wkb binary")
    e = identify_network_nodes(df, tolerance=0.5)
    segs = aggregate_segments(e).collect()
    # arm1, arm2 stay; a+b+c merge → 3 segments
    assert len(segs) == 3
    merged = [s for s in segs if s.n_reaches == 3][0]
    assert merged.LENGTH == pytest.approx(30.0)
    assert merged.first_url == "a"
    total = sum(s.LENGTH for s in segs)
    assert total == pytest.approx(30.0 + np.hypot(10, 10) * 2)


def test_knn_snap_cell_mode_arithmetic_ids(spark):
    """node_mode='cell' encodes the snapped cell arithmetically: two
    endpoints 0.5 apart across a cell border snap to one node whose id is
    qx * 2^26 + qy of the lexicographically smaller occupied cell."""
    from bdtopo2refhydro_spark.functions.cells import CELL_SHIFT
    from bdtopo2refhydro_spark.geom.wkb import linestring_wkb
    from bdtopo2refhydro_spark.operators import snap_endpoints_knn

    import numpy as np

    edges = spark.createDataFrame(
        [
            ("a", bytearray(linestring_wkb(np.array([[10.75, 5.0], [100.0, 100.0]])))),
            ("b", bytearray(linestring_wkb(np.array([[11.25, 5.0], [200.0, 200.0]])))),
        ],
        "url string, geom_wkb binary",
    )
    out = snap_endpoints_knn(edges, tolerance=1.0, node_mode="cell")
    rows = {r["url"]: r["NODEA"] for r in out.collect()}
    dim = 1 << CELL_SHIFT
    # both A-endpoints see each other (dist 0.5): snap to min cell (10, 5)
    assert rows["a"] == rows["b"] == 10 * dim + 5


def _modes(m) -> set[str]:
    """The arms a TraversalMetrics recorded."""
    return {r["mode"] for r in m.rounds if "mode" in r}


def test_local_and_distributed_paths_agree(spark, tree, outlet, monkeypatch):
    """The small-graph arm (operators/_local.py) must produce exactly the
    iterative self-join results: visited set, bit-identical distances,
    identical chain roots."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators.aggregate import _chain_roots
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.operators.orders import distance_from_outlet

    seeds = outlet
    m_local, m_dist = TraversalMetrics(), TraversalMetrics()
    v_local = {r["node"] for r in
               select_connected(tree, seeds, "both",
                                metrics=m_local).collect()}
    v_dist = {r["node"] for r in
              select_connected(tree, seeds, "both", force_distributed=True,
                               metrics=m_dist).collect()}
    assert _modes(m_local) == {"local"} and _modes(m_dist) == {"cc"}
    assert v_local == v_dist and len(v_local) == 8

    m_local, m_dist = TraversalMetrics(), TraversalMetrics()
    d_local = {r["node"]: r["dist"] for r in
               distance_from_outlet(tree, seeds, metrics=m_local).collect()}
    d_dist = {r["node"]: r["dist"] for r in
              distance_from_outlet(tree, seeds, force_distributed=True,
                                   metrics=m_dist).collect()}
    assert _modes(m_local) == {"local"} and "local" not in _modes(m_dist)
    assert d_local == d_dist  # bit-identical floats

    m_local, m_dist = TraversalMetrics(), TraversalMetrics()
    roots_local = {r["url"]: r["chain_id"] for r in
                   _chain_roots(tree.select("url", "NODEA", "NODEB"),
                                "url", metrics=m_local).collect()}
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)  # force the jumping loop
    roots_dist = {r["url"]: r["chain_id"] for r in
                  _chain_roots(tree.select("url", "NODEA", "NODEB"),
                               "url", metrics=m_dist).collect()}
    assert _modes(m_local) == {"local"} and _modes(m_dist) == {"jump"}
    assert roots_local == roots_dist


def _deep_chain_edges(spark, n: int, branch_every: int = 0):
    """Directed path graph e_i: node i+1 → i with integer lens (exact in
    any summation order); node 0 is the outlet end. branch_every adds a
    side edge n+i → i at every multiple, creating junctions."""
    rows = [(f"p{i}", i + 1, i, float(1 + i % 7)) for i in range(n)]
    if branch_every:
        rows += [(f"s{i}", n + 1 + i, i, float(2 + i % 5))
                 for i in range(branch_every, n, branch_every)]
    return spark.createDataFrame(
        rows, "url string, NODEA long, NODEB long, len double")


def test_log_depth_paths_match_rounds_on_deep_chain(spark):
    """VERDICT r1 #5: the O(log depth) physical strategies (min-label CC
    for BFS, chain contraction for distance) must equal the O(depth)
    round loop exactly — and take logarithmically many rounds on a deep
    path graph (integer lens → float order immaterial)."""
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.operators.orders import distance_from_outlet

    # depth 60 keeps the O(depth)-vs-O(log depth) gap observable (60
    # rounds vs ~7) at a fraction of the wall of the old 120-deep fixture
    # — the rounds path is pure per-round fixed cost on this box
    n = 60
    e = _deep_chain_edges(spark, n, branch_every=20).cache()
    outlet = spark.createDataFrame([(0,)], "node long")

    # BFS: cc vs rounds vs local all equal
    m_cc = TraversalMetrics()
    v_cc = {r.node for r in select_connected(
        e, outlet, "both", force_distributed=True, algorithm="cc",
        metrics=m_cc).collect()}
    v_rounds = {r.node for r in select_connected(
        e, outlet, "both", force_distributed=True, algorithm="rounds",
        metrics=TraversalMetrics()).collect()}
    m_local = TraversalMetrics()
    v_local = {r.node for r in select_connected(
        e, outlet, "both", metrics=m_local).collect()}
    assert v_cc == v_rounds == v_local
    assert _modes(m_cc) == {"cc"} and _modes(m_local) == {"local"}
    cc_rounds = len([r for r in m_cc.rounds
                     if r.get("op") == "connected_components"])
    assert 0 < cc_rounds <= 16  # ~log2(n) + convergence check, not n

    # distance: contract vs rounds vs local bit-identical (integer lens)
    m_c = TraversalMetrics()
    d_contract = {r.node: r.dist for r in distance_from_outlet(
        e, outlet, force_distributed=True, algorithm="contract",
        metrics=m_c).collect()}
    d_rounds = {r.node: r.dist for r in distance_from_outlet(
        e, outlet, force_distributed=True, algorithm="rounds",
        metrics=TraversalMetrics()).collect()}
    m_local = TraversalMetrics()
    d_local = {r.node: r.dist for r in
               distance_from_outlet(e, outlet, metrics=m_local).collect()}
    assert d_contract == d_rounds == d_local
    assert "contract" in _modes(m_c) and _modes(m_local) == {"local"}
    # the contract path's own relaxation ran on the ~8-junction graph
    relax_rounds = len([r for r in m_c.rounds
                        if r.get("op") == "distance_from_outlet"
                        and "round" in r])
    contract_modes = [r for r in m_c.rounds if r.get("mode") == "contract"]
    assert contract_modes and contract_modes[0]["super_edges"] < n // 10


def test_order_contract_paths_match_rounds(spark, monkeypatch):
    """upstream_length / hack_order / strahler_order contraction must
    equal the literal round loops exactly (integer lens → UL float order
    immaterial; HACK/STRAHLER are integers always)."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    # depth 40 with three junctions: deep enough that any contract/rounds
    # divergence in chain folding or junction handling shows; the rounds
    # path costs O(depth) Spark jobs, so depth is the test's wall time
    e = _deep_chain_edges(spark, 40, branch_every=10).cache()
    outlet = spark.createDataFrame([(0,)], "node long")

    def run(algorithm):
        m = TraversalMetrics()
        ul = {r.url: r.UL for r in
              upstream_length(e, algorithm=algorithm, metrics=m).collect()}
        hk = {r.url: r.HACK for r in
              hack_order(e, outlet, algorithm=algorithm,
                         metrics=m).collect()}
        st = {r.url: r.STRAHLER for r in
              strahler_order(e, algorithm=algorithm, metrics=m).collect()}
        return (ul, hk, st), _modes(m)

    local, m_local = run("auto")            # below threshold → local
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)
    contract, m_contract = run("contract")
    rounds, m_rounds = run("rounds")
    assert m_local == {"local"}
    assert m_contract == {"contract"}
    # hack_order's upstream_length runs with algorithm='auto' (contract
    # on this chain graph); the literal loops themselves record no mode
    assert m_rounds == {"contract"}
    assert contract == rounds == local


def test_bounded_max_iter_truncates_bfs(spark):
    """max_iter as a semantic depth bound must be honored (ADVICE r1):
    bounded calls pin the round-based path on every input size."""
    e = _deep_chain_edges(spark, 50)
    outlet = spark.createDataFrame([(0,)], "node long")
    v = {r.node for r in
         select_connected(e, outlet, "both", max_iter=3).collect()}
    assert v == {0, 1, 2, 3}


def test_local_and_distributed_orders_agree(spark, tree, outlet,
                                            monkeypatch):
    """upstream / Hack / Strahler small arms must equal the distributed
    fixpoints exactly (floats bit-identical, same nulls)."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    def snap():
        m = TraversalMetrics()
        ul = {r.url: r.UL for r in upstream_length(tree, metrics=m).collect()}
        hk = {r.url: r.HACK for r in
              hack_order(tree, outlet, metrics=m).collect()}
        st = {r.url: r.STRAHLER for r in
              strahler_order(tree, metrics=m).collect()}
        return (ul, hk, st), _modes(m)

    local, m_local = snap()
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)
    dist, m_dist = snap()
    assert m_local == {"local"}
    # the 7-edge tree is junction-dense: auto takes the round loops
    assert m_dist == {"rounds_chainpoor"}
    assert local == dist


def test_auto_strategy_follows_chain_fraction(spark, monkeypatch):
    """algorithm='auto' above the size threshold must pick contraction on
    a chain-dominated graph and the round loop on a junction-dense one
    (the r3 pass-through-fraction probe; values must match either way)."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    chainy = _deep_chain_edges(spark, 80)               # pure path: ~1.0
    # star: every edge i -> 0 shares one junction head, no chains
    star = spark.createDataFrame(
        [(f"b{i}", i, 0, 1.0) for i in range(1, 60)],
        "url string, NODEA long, NODEB long, len double")
    with monkeypatch.context() as mp:
        mp.setattr(L, "SMALL_GRAPH_ROWS", -1)
        m = TraversalMetrics()
        ul_c = {r.url: r.UL for r in
                upstream_length(chainy, metrics=m).collect()}
        assert "contract" in _modes(m) and "local" not in _modes(m)
        m = TraversalMetrics()
        ul_s = {r.url: r.UL for r in
                upstream_length(star, metrics=m).collect()}
        assert _modes(m) == {"rounds_chainpoor"}
    m = TraversalMetrics()
    assert ul_c == {r.url: r.UL for r in
                    upstream_length(chainy, metrics=m).collect()}
    assert ul_s == {r.url: r.UL for r in
                    upstream_length(star, metrics=m).collect()}
    assert _modes(m) == {"local"}


def test_subtree_counts_and_tree_betweenness_golden(spark):
    r"""Hand-computed tree:        0
                                 / \
                                1   2
                               / \    \
                              3   4    5
                              |
                              6
    Edges are child->parent, one per child node. n = 7 nodes.
    subtree edge counts: e1=4 (1,3,4,6), e2=2 (2,5), e3=2, e4=1,
    e5=1, e6=1. betweenness(e) = s*(7-s)."""
    edges = [("e1", 1, 0), ("e2", 2, 0), ("e3", 3, 1), ("e4", 4, 1),
             ("e5", 5, 2), ("e6", 6, 3)]
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    from bdtopo2refhydro_spark.operators.orders import (
        subtree_counts, tree_edge_betweenness)

    sub = {r["url"]: r["SUB"] for r in subtree_counts(df).collect()}
    assert sub == {"e1": 4, "e2": 2, "e3": 2, "e4": 1, "e5": 1, "e6": 1}

    got = {r["url"]: (r["sub_nodes"], r["n_nodes"], r["betweenness"])
           for r in tree_edge_betweenness(df).collect()}
    for u, s in sub.items():
        assert got[u] == (s, 7, s * (7 - s))


def test_subtree_counts_rounds_equals_local(spark):
    """The distributed bounded-round fixpoint == the driver-side
    topological pass, on a forest with two components and a chain."""
    edges = ([("c%d" % i, i, i - 1) for i in range(1, 9)]  # chain 0..8
             + [("t1", 101, 100), ("t2", 102, 100), ("t3", 103, 101)])
    df = spark.createDataFrame(edges, "url string, NODEA long, NODEB long")
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.operators.orders import subtree_counts

    m_local, m_rounds = TraversalMetrics(), TraversalMetrics()
    local = {r["url"]: r["SUB"] for r in
             subtree_counts(df, algorithm="auto", metrics=m_local).collect()}
    rounds = {r["url"]: r["SUB"] for r in
              subtree_counts(df, algorithm="rounds",
                             metrics=m_rounds).collect()}
    assert _modes(m_local) == {"local"}
    assert _modes(m_rounds) == set() and m_rounds.rounds
    assert local == rounds
    assert local["c1"] == 8 and local["c8"] == 1
    assert local["t1"] == 2 and local["t2"] == 1 and local["t3"] == 1


@pytest.mark.parametrize("op", ["select_connected", "upstream_length"])
def test_gate_boundary_is_exact(spark, tree, outlet, monkeypatch, op):
    """The gate compares its input rows with SMALL_GRAPH_ROWS exactly: with
    the threshold patched to n, an input of n rows takes the small arm and
    one of n + 1 rows (threshold n - 1) the distributed arm, with equal
    outputs. BFS gate rows are the adjacency plus the seed rows; the order
    gates see one row per edge."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    n_edges = tree.count()
    if op == "select_connected":
        n = 2 * n_edges + outlet.count()    # 'both' adjacency + seeds

        def run(m):
            return {r.node for r in select_connected(
                tree, outlet, "both", metrics=m).collect()}
    else:
        n = n_edges

        def run(m):
            return {r.url: r.UL for r in
                    upstream_length(tree, metrics=m).collect()}

    m_at, m_over = TraversalMetrics(), TraversalMetrics()
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", n)
    at = run(m_at)
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", n - 1)
    over = run(m_over)
    assert _modes(m_at) == {"local"}
    assert "local" not in _modes(m_over) and m_over.rounds
    assert at == over


def test_distributed_arm_reads_the_pinned_gate_input(spark, monkeypatch):
    """Above the threshold the gate's input is computed once: the bounded
    collect materializes the pin, and the distributed arm's count, chain
    probe and rounds read those blocks instead of recomputing the input."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    sc = spark.sparkContext
    computed = sc.accumulator(0)

    def edge(i):
        computed.add(1)
        return (f"p{i}", i + 1, i, float(1 + i % 7))

    n = 30
    edges = spark.createDataFrame(sc.parallelize(range(n), 3).map(edge),
                                  "url string, NODEA long, NODEB long, "
                                  "len double")
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", n - 1)
    m = TraversalMetrics()
    ul = {r.url: r.UL for r in upstream_length(edges, metrics=m).collect()}
    # the outer call contracted; its junction graph took the small arm
    assert m.rounds[0]["mode"] == "contract"
    assert ul["p0"] == sum(float(1 + i % 7) for i in range(n))
    assert computed.value == n


_EDGES = "url string, NODEA long, NODEB long, len double"
# every kernel's declared output schema
_DECLARED = {
    "select_connected": "node long",
    "distance_from_outlet": "node long, dist double",
    "upstream_length": "url string, UL double",
    "hack_order": _EDGES + ", HACK int",
    "strahler_order": _EDGES + ", STRAHLER int",
    "subtree_counts": "url string, SUB long",
    "chain_roots": "url string, chain_id string",
}


def _every_kernel(edges, outlet, metrics) -> dict:
    from bdtopo2refhydro_spark.operators import upstream_length
    from bdtopo2refhydro_spark.operators.aggregate import _chain_roots
    from bdtopo2refhydro_spark.operators.orders import (
        distance_from_outlet, subtree_counts)

    return {
        "select_connected": select_connected(edges, outlet, "both",
                                             metrics=metrics),
        "distance_from_outlet": distance_from_outlet(edges, outlet,
                                                     metrics=metrics),
        "upstream_length": upstream_length(edges, metrics=metrics),
        "hack_order": hack_order(edges, outlet, metrics=metrics),
        "strahler_order": strahler_order(edges, metrics=metrics),
        "subtree_counts": subtree_counts(edges, metrics=metrics),
        "chain_roots": _chain_roots(edges.select("url", "NODEA", "NODEB"),
                                    "url", metrics=metrics),
    }


def _fields(df) -> list:
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_small_arm_degenerate_inputs_keep_schema(spark):
    """An empty edge table and a single edge through every kernel on the
    small arm: empty results still carry the declared schema, and the
    one-edge values are the hand-computed ones."""
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    m = TraversalMetrics()
    empty = _every_kernel(spark.createDataFrame([], _EDGES),
                          spark.createDataFrame([], "node long"), m)
    declared = {name: _fields(spark.createDataFrame([], ddl))
                for name, ddl in _DECLARED.items()}
    for name, df in empty.items():
        assert _fields(df) == declared[name], name
        assert df.collect() == [], name

    one = _every_kernel(spark.createDataFrame([("e1", 1, 0, 5.0)], _EDGES),
                        spark.createDataFrame([(0,)], "node long"), m)
    for name, df in one.items():
        assert _fields(df) == declared[name], name
    got = {name: sorted(tuple(r) for r in df.collect())
           for name, df in one.items()}
    assert got == {
        "select_connected": [(0,), (1,)],
        "distance_from_outlet": [(0, 0.0), (1, 5.0)],
        "upstream_length": [("e1", 5.0)],
        "hack_order": [("e1", 1, 0, 5.0, 1)],
        "strahler_order": [("e1", 1, 0, 5.0, 1)],
        "subtree_counts": [("e1", 1)],
        "chain_roots": [("e1", "e1")],
    }
    assert _modes(m) == {"local"}


def _be_line(coords) -> bytes:
    """Big-endian WKB LineString (byte-order flag 0): valid WKB the engine
    never writes itself."""
    import struct

    flat = [v for xy in coords for v in xy]
    return struct.pack(">BII", 0, 2, len(coords)) + \
        struct.pack(f">{len(flat)}d", *flat)


_AGG_EDGES = "url string, geom_wkb binary, NODEA long, NODEB long"


def _agg_rows(df) -> list:
    return sorted((r.GID, bytes(r.geom_wkb), r.NODEA, r.NODEB, r.LENGTH,
                   r.n_reaches, r.first_url) for r in df.collect())


def _agg_fixture(spark):
    """Multi-edge chains (one with a big-endian member), single-edge
    chains at a junction, and a big-endian single-edge chain. Node ids
    are explicit; coordinates are non-integer so LENGTH has real ulps."""
    return spark.createDataFrame([
        # chain a→b→c through pass-through nodes 2 and 3, into junction 1
        ("a", linestring_wkb([(0.1, 30.3), (0.2, 25.7), (0.3, 20.1)]), 4, 3),
        ("b", linestring_wkb([(0.3, 20.1), (0.35, 10.9)]), 3, 2),
        ("c", linestring_wkb([(0.35, 10.9), (0.0, 0.0)]), 2, 1),
        # junction arms at node 4 (single-edge chains)
        ("arm1", linestring_wkb([(-10.7, 40.3), (0.1, 30.3)]), 5, 4),
        ("arm2", linestring_wkb([(10.9, 40.1), (3.3, 35.5), (0.1, 30.3)]),
         6, 4),
        # a big-endian single-edge chain (re-encoded by the stitch)
        ("be1", _be_line([(50.5, 0.25), (60.75, 3.5)]), 7, 8),
        # two-edge chain whose head is big-endian
        ("d", _be_line([(80.1, 9.9), (80.2, 5.3), (81.7, 4.4)]), 9, 10),
        ("e", linestring_wkb([(81.7, 4.4), (90.3, 0.7)]), 10, 11),
    ], _AGG_EDGES)


def test_aggregate_segments_arms_equal(spark, monkeypatch):
    """A3's driver arm (stitch on the driver), its over-budget variant
    (driver labels, Spark stitch) and the distributed arm (pointer
    jumping) give identical rows: same geometry bytes, LENGTH bit for
    bit."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    e = _agg_fixture(spark)
    m_local = TraversalMetrics()
    local = _agg_rows(aggregate_segments(e, metrics=m_local))
    with monkeypatch.context() as mp:
        mp.setattr(L, "payload_budget", lambda spark: 0)
        m_budget = TraversalMetrics()
        budget = _agg_rows(aggregate_segments(e, metrics=m_budget))
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)
    m_dist = TraversalMetrics()
    dist = _agg_rows(aggregate_segments(e, metrics=m_dist))

    assert [r["stitch"] for r in m_local.rounds] == ["driver"]
    assert [r["stitch"] for r in m_budget.rounds] == ["spark"]
    assert _modes(m_local) == _modes(m_budget) == {"local"}
    assert _modes(m_dist) == {"jump"}
    assert local == budget == dist
    by_gid = {r[0]: r for r in local}
    assert set(by_gid) == {"c", "arm1", "arm2", "be1", "e"}
    assert by_gid["c"][5] == 3 and by_gid["c"][6] == "a"
    assert by_gid["e"][5] == 2 and by_gid["e"][6] == "d"
    # the big-endian rows come out as canonical little-endian WKB
    assert by_gid["be1"][1] == linestring_wkb([(50.5, 0.25), (60.75, 3.5)])
    assert by_gid["e"][1][:5] == b"\x01\x02\x00\x00\x00"
    assert by_gid["arm1"][4] == pytest.approx(np.hypot(10.8, 10.0))


def test_aggregate_segments_degenerate_inputs_keep_schema(spark,
                                                           monkeypatch):
    """An empty edge table and a single edge through both A3 arms: the
    declared schema, and the one-edge chain passes through unchanged."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators.aggregate import _AGG_SCHEMA

    declared = _fields(spark.createDataFrame([], _AGG_SCHEMA))
    empty = spark.createDataFrame([], _AGG_EDGES)
    geom = linestring_wkb([(0.0, 0.0), (3.0, 4.0)])
    one = spark.createDataFrame([("e1", geom, 1, 0)], _AGG_EDGES)
    for small in (L.SMALL_GRAPH_ROWS, -1):
        monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", small)
        out = aggregate_segments(empty)
        assert _fields(out) == declared
        assert out.collect() == []
        out = aggregate_segments(one)
        assert _fields(out) == declared
        assert _agg_rows(out) == [("e1", geom, 1, 0, 5.0, 1, "e1")]


def test_fix_connectivity_arms_equal(spark, monkeypatch):
    """G3 on the series-canal fixture: the driver repair and the
    self-join rounds keep the same set with the same per-round
    unreachable counts and BFS adjacency rows."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    rows = [
        ("s1", linestring_wkb([(0.0, 10.0), (0.0, 0.0)])),
        ("c1", linestring_wkb([(0.0, 20.0), (0.0, 10.0)])),
        ("c2", linestring_wkb([(0.0, 30.0), (0.0, 20.0)])),
        ("s2", linestring_wkb([(0.0, 40.0), (0.0, 30.0)])),
        ("x1", linestring_wkb([(500.0, 0.0), (500.0, 10.0)])),
    ]
    e = identify_network_nodes(
        spark.createDataFrame(rows, "url string, geom_wkb binary"),
        tolerance=0.5).cache()
    subset = spark.createDataFrame([("s1",), ("s2",)], "url string")
    outlet_nodes = e.filter("url='s1'").select(F.col("NODEB").alias("node"))

    def run():
        m = TraversalMetrics()
        kept = sorted(r.url for r in fix_network_connectivity(
            e, subset, outlet_nodes, metrics=m).collect())
        g3 = [(r["round"], r["unreachable_edges"]) for r in m.rounds
              if r.get("op") == "fix_connectivity"]
        bfs = [r["adj_rows"] for r in m.rounds
               if r.get("op") == "select_connected" and "mode" in r]
        return kept, g3, bfs, _modes(m)

    local = run()
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)
    dist = run()
    assert local[3] == {"local"} and dist[3] == {"cc"}
    assert local[:3] == dist[:3]
    # round 0 reaches s1 only; c1 then c2 are admitted one per round
    assert local[0] == ["c1", "c2", "s1", "s2"]
    assert local[1] == [(0, 1), (1, 1), (2, 0)]
    assert local[2] == [4, 6, 8]


def test_hack_tie_broken_by_key_on_both_arms(spark, monkeypatch):
    """Two junction arms with equal UL: the main arm is the larger key
    (max of the (UL, key) struct) on the driver arm and the distributed
    arm alike."""
    import bdtopo2refhydro_spark.operators._local as L
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

    e = spark.createDataFrame([
        ("out", 1, 0, 5.0),
        ("a_arm", 2, 1, 3.0), ("b_arm", 3, 1, 3.0),   # UL 4.0 both
        ("a_up", 4, 2, 1.0), ("b_up", 5, 3, 1.0),
    ], _EDGES)
    outlet = spark.createDataFrame([(0,)], "node long")

    def run():
        m = TraversalMetrics()
        got = {r.url: r.HACK for r in
               hack_order(e, outlet, metrics=m).collect()}
        return got, _modes(m)

    local, m_local = run()
    monkeypatch.setattr(L, "SMALL_GRAPH_ROWS", -1)
    dist, m_dist = run()
    assert m_local == {"local"} and "local" not in m_dist
    assert local == dist == {"out": 1, "b_arm": 1, "b_up": 1,
                             "a_arm": 2, "a_up": 2}


def test_boruvka_equals_kruskal_on_pseudorandom_graph(spark):
    """boruvka_mst == a sequential Kruskal union-find reference on a
    deterministic LCG multigraph (distinct weights -> unique MST)."""
    edges = []
    x = 7
    for i in range(90):
        x = (x * 1103515245 + 12345) % 2147483648
        u = x % 40
        v = (x // 40) % 40
        if u == v:
            v = (v + 1) % 40
        edges.append((f"e{i:03d}", u, v, i * 1000 + (x % 997)))

    parent = list(range(40))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    want = set()
    for eid, u, v, w in sorted(edges, key=lambda t: t[3]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add(eid)

    from bdtopo2refhydro_spark.operators.graph import boruvka_mst

    df = spark.createDataFrame(edges, "eid string, u long, v long, w long")
    got = {r["eid"] for r in boruvka_mst(df).collect()}
    assert got == want


def test_greedy_matching_equals_sequential_greedy(spark):
    """Parallel local-minima rounds == sequential greedy by weight
    (unique weights) on an LCG multigraph, and the result is maximal."""
    edges = []
    x = 3
    for i in range(80):
        x = (x * 1103515245 + 12345) % 2147483648
        u = x % 30
        v = (x // 30) % 30
        if u == v:
            v = (v + 1) % 30
        edges.append((f"e{i:03d}", u, v, i * 1000 + (x % 997)))

    used = set()
    want = set()
    for eid, u, v, w in sorted(edges, key=lambda t: t[3]):
        if u not in used and v not in used:
            used.add(u)
            used.add(v)
            want.add(eid)

    from bdtopo2refhydro_spark.operators.graph import greedy_matching

    df = spark.createDataFrame(edges, "eid string, u long, v long, w long")
    got = {r["eid"] for r in greedy_matching(df, rounds=30).collect()}
    assert got == want
    # maximality: every remaining edge touches a matched node
    matched_nodes = set()
    by_id = {e[0]: e for e in edges}
    for eid in got:
        _, u, v, _ = by_id[eid]
        matched_nodes |= {u, v}
    for eid, u, v, w in edges:
        assert u in matched_nodes or v in matched_nodes
