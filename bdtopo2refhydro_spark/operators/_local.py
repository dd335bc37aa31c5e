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
``spark.driver.maxResultSize``.

The local algorithms reproduce the distributed results EXACTLY:
- BFS: same visited set (set semantics — no float issues);
- shortest path: distances accumulate outlet→node in the same order as
  the relaxation loop (dist(parent) + len), so float sums agree bit for
  bit on the argmin paths;
- chain roots: the same successor-pointer fixpoint.

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
    frontier = {int(n) for n in rows.loc[is_seed, "node"].astype("int64")}
    nbrs: dict[int, list[int]] = {}
    for n, m in zip(rows.loc[~is_seed, "node"].astype("int64"),
                    rows.loc[~is_seed, "nbr"].astype("int64")):
        nbrs.setdefault(int(n), []).append(int(m))
    visited = set(frontier)
    while frontier:
        nxt = set()
        for n in frontier:
            for m in nbrs.get(n, ()):
                if m not in visited:
                    visited.add(m)
                    nxt.add(m)
        frontier = nxt
    return pd.DataFrame({"node": sorted(visited)})


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


def chain_roots(rows: pd.DataFrame) -> pd.DataFrame:
    """Pointer-jumping fixpoint (k → final successor root) over (k, p)
    rows with p = successor-or-self. Cycles (ring chains — degenerate for
    river networks) terminate at the first revisited member. Returns
    pandas (k, p)."""
    p = dict(zip(rows["k"], rows["p"]))
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
    return pd.DataFrame({"k": list(rows["k"]),
                         "p": [root[k] for k in rows["k"]]})


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
