"""Small-graph arm of the traversal operators: the kernel runs on the driver.

Iterative self-join traversals pay ~0.5-1s of scheduling latency PER ROUND
regardless of data size; a 12-level BFS over 5k edges costs seconds doing
milliseconds of work. Every traversal gate therefore makes ONE bounded
action over its narrow input, ``limit(SMALL_GRAPH_ROWS + 1).toPandas()``
(collect_small). That action both picks the arm and moves the input: at
most SMALL_GRAPH_ROWS rows → an ordinary in-memory algorithm below runs
in the driver and its result comes back as a local relation
(``createDataFrame(result, schema)``); more rows → the caller falls
through to its checkpointed self-join arm. This mirrors Catalyst's
broadcast-vs-shuffle join selection: pick the physical strategy from the
data size, keep the semantics identical — the equality of both arms is
asserted in tests/test_graph_ops.py and by the driver's DuckDB oracles
(which run at sizes that take the small arm AND are replayed with the
threshold forced down by ``scripts/oracle_check.py --distributed``).

Kernels and the gate input each one reads (one bounded collect per call):
- ``bfs`` (select_connected): (node, nbr) adjacency + seed rows;
- ``sssp`` (distance_from_outlet): (src, dst, _len) edges + seed rows;
- ``chain_roots`` (aggregate._chain_roots and A3 aggregate_segments):
  (key, NODEA, NODEB) edges — in/out degrees, the pass-through successor
  and the pointer chase all run here, so no degree/successor join plan is
  built on the small arm;
- ``repair`` (G3 fix_network_connectivity): full edges + subset keys +
  outlet nodes as tagged rows; the greedy frontier repair, one BFS per
  outer round;
- ``upstream`` / ``strahler`` / ``subtree``: (key, NODEA, NODEB[, _len]);
- ``hack_orders`` (G6 hack_order): (key, NODEA, NODEB, _len) edges +
  outlet rows; UL, the main-arm flag and the outlet flag are derived
  here, then ``hack``.

Why the driver and not one executor task: a one-task pandas job costs a
Python worker task, whose fixed cost is dominated by PySpark's per-task
``importlib.invalidate_caches()`` rescanning pyspark.zip, plus the eager
checkpoint and the ``count()`` that sized it. The bounded collect is one
Arrow action with no Python worker, and the result is a literal: its
consumers read it instead of replaying the kernel.

The gate input is pinned with a lazy localCheckpoint before the collect,
so above the threshold the distributed arm reads the blocks that action
materialized instead of recomputing the input. Driver memory is bounded
by SMALL_GRAPH_ROWS narrow rows (a few id/length columns), far below
``spark.driver.maxResultSize``. A3 also moves geometry to the driver, but
only when the gate's summed WKB bytes fit ``payload_budget`` — a quarter
of ``spark.driver.maxResultSize`` (of the driver heap when that cap is 0),
derived from the session so the collect cap and the heap stay set
together; over it, the chain labels go back as a literal and Spark
stitches.

The local algorithms reproduce the distributed results EXACTLY:
- BFS: same visited set (set semantics — no float issues);
- shortest path: distances accumulate outlet→node in the same order as
  the relaxation loop (dist(parent) + len), so float sums agree bit for
  bit on the argmin paths;
- chain roots: the same successor pointers and fixpoint;
- G3 repair: the same kept set and per-round unreachable counts (sets);
- Hack: UL with the same float ops, the main arm as max (UL, key) per
  NODEB like the distributed struct max, integer orders.

CONTRACT CAVEAT — cycles: the local↔distributed path-equality guarantee
holds for ACYCLIC inputs (all river networks the reference targets, and
everything the tests cover). On a directed cycle, chain_roots resolves
members to the first revisited member while the distributed pointer
jumping leaves cycle members oscillating until max_rounds, and upstream
freezes a cycle's UL at its initial value while the distributed fixpoint
keeps accumulating until the fingerprint stabilizes or max_iter. Cycles
are out of contract for path equality; the distance contraction
(orders._distance_contract) is cycle-safe only in the sense that
pass-through rings never acquire a distance on either path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import backing_rdd

SMALL_GRAPH_ROWS = 2_000_000


def payload_budget(spark) -> int:
    """Bytes a driver-side payload collect (A3's geometry) may move: a
    quarter of ``spark.driver.maxResultSize``, Spark's own cap on one
    action's result, or of ``spark.driver.memory`` when that cap is 0
    (unlimited) — the rest is headroom for the Arrow batches and the
    pandas copy that live beside it in the driver heap."""
    conf = spark.sparkContext._jsc.sc().conf()
    cap = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if cap <= 0:
        cap = conf.getSizeAsBytes("spark.driver.memory", "1g")
    return cap // 4


def tag_dummy(df: DataFrame, col: str):
    """A concrete dummy of ``df[col]``'s type for the tagged rows a gate
    input unions in: a NULL would coerce an int64 column to float64 in
    pandas, and xxhash64 node ids exceed float64's 2^53 integer
    precision."""
    return F.lit(0).cast(df.schema[col].dataType)


def collect_small(df: DataFrame, eligible: bool = True
                  ) -> tuple[pd.DataFrame | None, DataFrame | None]:
    """The small-graph gate: pin ``df`` lazily, then one bounded action.

    Returns ``(rows, None)`` when ``df`` has at most SMALL_GRAPH_ROWS rows:
    ``rows`` is ``df`` on the driver, and the pinned blocks are released
    (the caller's kernel result is a literal and never reads them).
    Returns ``(None, pinned)`` otherwise, where ``pinned`` is ``df`` under
    a lazy localCheckpoint that the bounded action already materialized —
    the distributed arm counts and traverses it without recomputing
    ``df``. ``eligible=False`` (a bounded, forced or non-local algorithm
    call) skips the action and returns the not yet materialized pin."""
    pinned = df.localCheckpoint(eager=False)
    if not eligible:
        return None, pinned
    rows = pinned.limit(SMALL_GRAPH_ROWS + 1).toPandas()
    if len(rows) > SMALL_GRAPH_ROWS:
        return None, pinned
    backing_rdd(pinned).unpersist(False)
    return rows, None


def bfs_input(adj: DataFrame, seeds: DataFrame) -> DataFrame:
    """The BFS gate input: (node, nbr) adjacency rows plus one row per seed
    node, told apart by ``is_seed``."""
    # seed rows carry a flag + a concrete dummy nbr: a NULL in the union
    # would coerce the int64 column to float64 in pandas, and xxhash64
    # node ids exceed float64's 2^53 integer precision
    return adj.select("node", "nbr", F.lit(False).alias("is_seed")) \
        .unionByName(seeds.select("node", F.col("node").alias("nbr"),
                                  F.lit(True).alias("is_seed")))


def bfs(rows: pd.DataFrame) -> pd.DataFrame:
    """Visited node set of a BFS over the bfs_input rows: (node, nbr)
    adjacency walked from the seed rows. Returns pandas (node)."""
    is_seed = rows["is_seed"].astype("bool")
    nbrs: dict[int, list[int]] = {}
    for n, m in zip(rows.loc[~is_seed, "node"].astype("int64"),
                    rows.loc[~is_seed, "nbr"].astype("int64")):
        nbrs.setdefault(int(n), []).append(int(m))
    seeds = {int(n) for n in rows.loc[is_seed, "node"].astype("int64")}
    return pd.DataFrame({"node": sorted(_reach(seeds, nbrs))})


def _reach(seeds: set, nbrs: dict) -> set:
    """Frontier BFS: every node reachable from ``seeds`` over ``nbrs``
    (node → neighbour list), seeds included."""
    visited, frontier = set(seeds), set(seeds)
    while frontier:
        nxt = set()
        for n in frontier:
            for m in nbrs.get(n, ()):
                if m not in visited:
                    visited.add(m)
                    nxt.add(m)
        frontier = nxt
    return visited


def repair_input(full_edges: DataFrame, subset_keys: DataFrame,
                 outlet_nodes: DataFrame, key: str) -> DataFrame:
    """The G3 gate input, one row kind per source: ``kind`` 0 = full edge
    (key, NODEA, NODEB), 1 = subset key, 2 = outlet node (in NODEA and
    NODEB). Unused columns carry concrete dummies (tag_dummy)."""
    node0 = F.lit(0).cast("long")
    return full_edges.select(
        key, "NODEA", "NODEB", F.lit(0).alias("kind")
    ).unionByName(subset_keys.select(
        key, node0.alias("NODEA"), node0.alias("NODEB"),
        F.lit(1).alias("kind"))
    ).unionByName(outlet_nodes.select(
        tag_dummy(full_edges, key).alias(key), F.col("node").alias("NODEA"),
        F.col("node").alias("NODEB"), F.lit(2).alias("kind")))


def repair(rows: pd.DataFrame, key: str, max_outer: int
           ) -> tuple[list, list[dict]]:
    """G3 greedy frontier repair over the repair_input rows — the same
    rounds as the distributed loop in graph.fix_network_connectivity: BFS
    over the kept edges from the outlets (undirected); count the subset
    edges with neither end reached; stop at 0, else admit every non-kept
    edge touching the reached set and repeat. Returns (kept keys — the
    subset rows as given when no round admits anything, else the distinct
    union — and the per-round metric records: one ``select_connected``
    local record with the adjacency rows walked, one ``fix_connectivity``
    record with the unreachable count)."""
    kind = rows["kind"].astype("int64")
    ed = rows.loc[kind == 0]
    edges = list(zip(ed[key], ed["NODEA"].astype("int64").tolist(),
                     ed["NODEB"].astype("int64").tolist()))
    kept_rows = list(rows.loc[kind == 1, key])
    subset, kept = set(kept_rows), set(kept_rows)
    seeds = {int(n) for n in rows.loc[kind == 2, "NODEA"].astype("int64")}
    log: list[dict] = []
    for outer in range(max_outer):
        nbrs: dict[int, list[int]] = {}
        n_adj = 0
        for k, a, b in edges:
            if k in kept:
                nbrs.setdefault(a, []).append(b)
                nbrs.setdefault(b, []).append(a)
                n_adj += 2
        reached = _reach(seeds, nbrs)
        log.append({"op": "select_connected", "mode": "local",
                    "adj_rows": n_adj})
        n_unreached = sum(1 for k, a, b in edges if k in subset
                          and a not in reached and b not in reached)
        log.append({"op": "fix_connectivity", "round": outer,
                    "unreachable_edges": n_unreached})
        if n_unreached == 0:
            break
        touching = {k for k, a, b in edges
                    if k not in kept and (a in reached or b in reached)}
        if not touching:
            break  # disconnected beyond repair
        kept |= touching
        kept_rows = list(kept)
    return kept_rows, log


def sssp_input(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """The shortest-path gate input: (src, dst, _len) edges plus one
    (node, node, 0.0) row per seed node, told apart by ``is_seed``."""
    # concrete dummies, not NULLs — see bfs_input (float64 coercion would
    # corrupt 64-bit hash node ids)
    return edges.select("src", "dst", "_len",
                        F.lit(False).alias("is_seed")).unionByName(
        seeds.select(F.col("node").alias("src"),
                     F.col("node").alias("dst"),
                     F.lit(0.0).alias("_len"),
                     F.lit(True).alias("is_seed"))
    )


def sssp(rows: pd.DataFrame) -> pd.DataFrame:
    """Multi-source shortest path over the sssp_input rows, walking
    dst→src (upstream), seeds at dist 0. Dijkstra with the same
    dist(parent) + len accumulation order as the distributed relaxation.
    Returns pandas (node, dist)."""
    import heapq

    is_seed = rows["is_seed"].astype("bool")
    # upstream adjacency: from a settled node d, relax edges src→d
    ins: dict[int, list[tuple[int, float]]] = {}
    for s, d, ln in zip(rows.loc[~is_seed, "src"].astype("int64"),
                        rows.loc[~is_seed, "dst"].astype("int64"),
                        rows.loc[~is_seed, "_len"].astype("float64")):
        ins.setdefault(int(d), []).append((int(s), float(ln)))
    dist: dict[int, float] = {
        int(n): 0.0 for n in rows.loc[is_seed, "src"].astype("int64")
    }
    heap = [(0.0, n) for n in dist]
    heapq.heapify(heap)
    while heap:
        d0, n = heapq.heappop(heap)
        if d0 > dist.get(n, float("inf")):
            continue
        for s, ln in ins.get(n, ()):
            nd = d0 + ln
            if nd < dist.get(s, float("inf")):
                dist[s] = nd
                heapq.heappush(heap, (nd, s))
    items = sorted(dist.items())
    return pd.DataFrame({"node": [k for k, _ in items],
                         "dist": [v for _, v in items]})


def chain_input(e: DataFrame, key: str,
                exclude_nodes: DataFrame | None = None) -> DataFrame:
    """The chain-roots gate input: (key, NODEA, NODEB) edge rows plus one
    row per excluded node (in NODEA and NODEB), told apart by
    ``is_excl``."""
    edges = e.select(key, "NODEA", "NODEB", F.lit(False).alias("is_excl"))
    if exclude_nodes is None:
        return edges
    return edges.unionByName(exclude_nodes.select(
        tag_dummy(e, key).alias(key), F.col("node").alias("NODEA"),
        F.col("node").alias("NODEB"), F.lit(True).alias("is_excl")))


def chain_roots(keys, na, nb, excluded=frozenset()) -> list:
    """Chain root of every edge: the key of the last edge of its degree-2
    chain. successor(e) = the one edge leaving e.NODEB when that node is a
    pass-through (in-degree 1, out-degree 1, not ``excluded``), else e;
    the root is the successor-pointer fixpoint. Cycles (ring chains —
    degenerate for river networks) terminate at the first revisited
    member. Returns the roots aligned with ``keys``."""
    from collections import Counter

    keys = list(keys)
    na = [int(a) for a in na]
    nb = [int(b) for b in nb]
    indeg, outdeg = Counter(nb), Counter(na)
    leaving = dict(zip(na, keys))     # the edge leaving a node of outdeg 1
    p = {k: leaving[b] if indeg[b] == 1 and outdeg[b] == 1
         and b not in excluded else k for k, b in zip(keys, nb)}
    root: dict = {}
    for k in p:
        seen, on_path = [], set()
        cur = k
        while p[cur] != cur and cur not in root and cur not in on_path:
            seen.append(cur)
            on_path.add(cur)
            cur = p[cur]
        r = root.get(cur, cur)
        for s in seen:
            root[s] = r
        root[k] = r
    return [root[k] for k in keys]


def _topo(keys, na, nb):
    """Kahn order over edges: edge j is upstream of edge i iff
    nb[j] == na[i]. Returns (processing order, upstream lists); edges on
    cycles never become ready and are omitted (matching the distributed
    fixpoints, which leave them unordered)."""
    from collections import defaultdict, deque

    by_nb, by_na = defaultdict(list), defaultdict(list)
    for j, b in enumerate(nb):
        by_nb[b].append(j)
    for i, a in enumerate(na):
        by_na[a].append(i)
    upstream = {i: by_nb.get(na[i], []) for i in range(len(keys))}
    remaining = {i: len(upstream[i]) for i in range(len(keys))}
    dq = deque(i for i, c in remaining.items() if c == 0)
    order = []
    while dq:
        j = dq.popleft()
        order.append(j)
        for i in by_na.get(nb[j], []):
            remaining[i] -= 1
            if remaining[i] == 0:
                dq.append(i)
    return order, upstream


def upstream(rows: pd.DataFrame, key: str) -> pd.DataFrame:
    """UL(e) = _len + max(UL of upstream edges, default 0) — same
    two-operand float ops as the distributed recursion, so values are
    bit-identical. Input cols: key, NODEA, NODEB, _len. Returns pandas
    (key, UL)."""
    keys = list(rows[key])
    na = list(rows["NODEA"].astype("int64"))
    nb = list(rows["NODEB"].astype("int64"))
    ln = list(rows["_len"].astype("float64"))
    order, upstream_of = _topo(keys, na, nb)
    ul: dict[int, float] = {}
    for i in order:
        ups = [ul[j] for j in upstream_of[i]]
        ul[i] = ln[i] + (max(ups) if ups else 0.0)
    # cycle members keep their init value (len), like round 0 of the
    # distributed fixpoint before it gives up at max_iter
    out = [(keys[i], ul.get(i, ln[i])) for i in range(len(keys))]
    return pd.DataFrame(out, columns=[key, "UL"])


def hack_input(edges_nodes: DataFrame, outlet_nodes: DataFrame, key: str,
               len_col: str) -> DataFrame:
    """The Hack gate input: (key, NODEA, NODEB, _len) edge rows plus one
    row per outlet node (in NODEA and NODEB), told apart by
    ``is_outlet``."""
    return edges_nodes.select(
        key, "NODEA", "NODEB", F.col(len_col).cast("double").alias("_len"),
        F.lit(False).alias("is_outlet")
    ).unionByName(outlet_nodes.select(
        tag_dummy(edges_nodes, key).alias(key), F.col("node").alias("NODEA"),
        F.col("node").alias("NODEB"), F.lit(0.0).alias("_len"),
        F.lit(True).alias("is_outlet")))


def hack_orders(rows: pd.DataFrame, key: str) -> pd.DataFrame:
    """Hack orders from the hack_input rows: UL (``upstream``), the main
    arm of each junction as the max (UL, key) among the edges sharing its
    NODEB — the distributed ``max(struct(UL, key))`` — and the outlet flag
    (NODEB is an outlet node), then ``hack``. Returns pandas (key, HACK)."""
    is_out = rows["is_outlet"].astype("bool")
    e = rows.loc[~is_out].reset_index(drop=True)
    outlets = {int(n) for n in rows.loc[is_out, "NODEB"].astype("int64")}
    ul = upstream(e, key)["UL"]
    nb = [int(b) for b in e["NODEB"].astype("int64")]
    best: dict[int, tuple] = {}
    for k, b, u in zip(e[key], nb, ul):
        if b not in best or (u, k) > best[b]:
            best[b] = (u, k)
    return hack(pd.DataFrame({
        key: e[key], "NODEA": e["NODEA"], "NODEB": e["NODEB"],
        "_is_main": [k == best[b][1] for k, b in zip(e[key], nb)],
        "_is_outlet": [b in outlets for b in nb],
    }), key)


def strahler(rows: pd.DataFrame, key: str) -> pd.DataFrame:
    """Strahler orders: leaves 1; max(arms) + 1 when the max occurs ≥ 2
    times. Input cols: key, NODEA, NODEB. Returns only ordered edges
    (cycle members omitted, matching the distributed left join's nulls)
    as pandas (key, STRAHLER)."""
    keys = list(rows[key])
    na = list(rows["NODEA"].astype("int64"))
    nb = list(rows["NODEB"].astype("int64"))
    order, upstream_of = _topo(keys, na, nb)
    sv: dict[int, int] = {}
    for i in order:
        arms = [sv[j] for j in upstream_of[i]]
        if not arms:
            sv[i] = 1
        else:
            mx = max(arms)
            sv[i] = mx + (1 if arms.count(mx) >= 2 else 0)
    out = [(keys[i], v) for i, v in sv.items()]
    return pd.DataFrame(out, columns=[key, "STRAHLER"])


def hack(rows: pd.DataFrame, key: str) -> pd.DataFrame:
    """Hack orders. Input cols: key, NODEA, NODEB, _is_main (precomputed
    main-arm flag), _is_outlet (edge drains to an outlet node).
    Min-fixpoint over parent paths = 0/1-weight Dijkstra from the outlet
    edges; integers, so equality with the distributed min-union loop is
    exact. Unreachable edges omitted (→ nulls after the caller's left
    join). Returns pandas (key, HACK)."""
    import heapq
    from collections import defaultdict

    keys = list(rows[key])
    na = list(rows["NODEA"].astype("int64"))
    nb = list(rows["NODEB"].astype("int64"))
    main = list(rows["_is_main"].astype("bool"))
    outlet = list(rows["_is_outlet"].astype("bool"))
    # children of parent p: edges c with nb[c] == na[p]
    by_nb = defaultdict(list)
    for i, b in enumerate(nb):
        by_nb[b].append(i)
    h: dict[int, int] = {}
    heap = []
    for i, o in enumerate(outlet):
        if o:
            h[i] = 1
            heapq.heappush(heap, (1, i))
    while heap:
        v, p = heapq.heappop(heap)
        if v > h.get(p, 1 << 30):
            continue
        for c in by_nb.get(na[p], ()):  # children drain into p
            nv = v if main[c] else v + 1
            if nv < h.get(c, 1 << 30):
                h[c] = nv
                heapq.heappush(heap, (nv, c))
    out = [(keys[i], v) for i, v in h.items()]
    return pd.DataFrame(out, columns=[key, "HACK"])


def subtree(rows: pd.DataFrame, key: str) -> pd.DataFrame:
    """Subtree edge count: s(e) = 1 + sum(s of upstream edges at NODEA) —
    all-integer, so there is nothing float to match. Input cols: key,
    NODEA, NODEB. Returns pandas (key, SUB)."""
    keys = list(rows[key])
    na = list(rows["NODEA"].astype("int64"))
    nb = list(rows["NODEB"].astype("int64"))
    order, upstream_of = _topo(keys, na, nb)
    s: dict[int, int] = {}
    for i in order:
        s[i] = 1 + sum(s[j] for j in upstream_of[i])
    # cycle members keep the round-0 init (1), like the distributed
    # fixpoint at max_iter
    out = [(keys[i], s.get(i, 1)) for i in range(len(keys))]
    return pd.DataFrame(out, columns=[key, "SUB"])
