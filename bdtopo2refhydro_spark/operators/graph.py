"""Graph core: node identification + checkpointed traversals.

The reference overlays a directed graph on the segment table via
``fct:identifynetworknodes`` (NODEA = upstream/from end, NODEB =
downstream/to end) and traverses it with ``SelectConnectedComponents``
(create_connected_reference_hydro.py:160-197). Here:

- node IDs are deterministic xxhash64 of the quantized endpoint (no
  monotonically_increasing_id — same IDs at any parallelism), or dense_rank
  for oracle-checkable small runs;
- traversals are frontier BFS as iterative self-joins with
  localCheckpoint() per round to truncate lineage (the north rule's
  "checkpointed self-joins") and per-round row counts for lineage metrics.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import udfs as U

DEFAULT_TOLERANCE = 1.0  # meters; reference QUANTIZATION 1e8 over a ~1e6 m
                         # extent ≈ 0.01 m — effectively exact-equality snap


@dataclass
class TraversalMetrics:
    """Per-round lineage (north rule: per-iteration row counts)."""
    rounds: list[dict] = field(default_factory=list)

    def add(self, **kw):
        self.rounds.append(kw)


@contextmanager
def loop_profile(df: DataFrame, n_rows: int | None = None,
                 rows_per_partition: int = 100_000):
    """Execution profile for fixpoint loops: AQE replanning and wide
    shuffles of tiny per-round state dominate iterative wall time
    (measured 6.6s → 2.8s for a 12-round BFS). Inside the loop, disable
    adaptive execution and size shuffle width to the loop's actual state
    size; restore the session conf on exit.

    Session-wide conf is mutated for the duration — concurrent queries in
    the same session during a traversal inherit the profile. At real
    scale pass n_rows so the width scales back up (p ≈ rows/100k)."""
    spark = df.sparkSession
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        old_sp_n = int(old_sp)
    except (TypeError, ValueError):  # e.g. "auto" — fall back to a sane cap
        old_sp_n = 200
    p = max(4, min(old_sp_n, ((n_rows or 0) // rows_per_partition) + 4))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def identify_network_nodes(edges: DataFrame, key: str = "url",
                           geom_col: str = "geom_wkb",
                           tolerance: float = DEFAULT_TOLERANCE,
                           mode: str = "hash") -> DataFrame:
    """G1 ~ fct:identifynetworknodes
    (create_connected_reference_hydro.py:160-166): quantize line endpoints,
    assign one int64 node id per distinct quantized endpoint, add
    NODEA (from-end) / NODEB (to-end).

    mode='hash'  → node = xxhash64(qx, qy): no shuffle, no global state,
                   deterministic at any scale (collision probability over
                   even 10^12 endpoints ~ 10^-5; tests assert zero collisions
                   on fixtures).
    mode='dense' → dense_rank over sorted distinct endpoints (the reference's
                   sequential ids; needs a global sort — small inputs only).
    """
    e = edges.withColumn("_ep", U.st_endpoints(geom_col))
    qa_x = F.round(F.col("_ep.x0") / tolerance).cast("long")
    qa_y = F.round(F.col("_ep.y0") / tolerance).cast("long")
    qb_x = F.round(F.col("_ep.x1") / tolerance).cast("long")
    qb_y = F.round(F.col("_ep.y1") / tolerance).cast("long")
    if mode == "hash":
        out = (
            e.withColumn("NODEA", F.xxhash64(qa_x, qa_y))
            .withColumn("NODEB", F.xxhash64(qb_x, qb_y))
        )
    elif mode == "dense":
        withq = (
            e.withColumn("_qax", qa_x).withColumn("_qay", qa_y)
            .withColumn("_qbx", qb_x).withColumn("_qby", qb_y)
        )
        pts = (
            withq.select(F.col("_qax").alias("qx"), F.col("_qay").alias("qy"))
            .union(withq.select("_qbx", "_qby"))
            .distinct()
        )
        w = Window.orderBy("qx", "qy")
        ids = pts.withColumn("node_id", F.row_number().over(w))
        out = (
            withq.join(ids.withColumnRenamed("node_id", "NODEA"),
                       (F.col("_qax") == F.col("qx")) & (F.col("_qay") == F.col("qy")))
            .drop("qx", "qy")
            .join(ids.withColumnRenamed("node_id", "NODEB"),
                  (F.col("_qbx") == F.col("qx")) & (F.col("_qby") == F.col("qy")))
            .drop("qx", "qy", "_qax", "_qay", "_qbx", "_qby")
        )
    else:
        raise ValueError(f"unknown mode {mode}")
    return out.drop("_ep")


def network_nodes(edges_nodes: DataFrame,
                  geom_col: str = "geom_wkb") -> DataFrame:
    """G1's NODES point-layer output (fct:identifynetworknodes also emits
    a node point layer the reference consumes implicitly,
    create_connected_reference_hydro.py:160-166): one row per distinct
    node id with a representative coordinate (lexicographically smallest
    endpoint that mapped to the node — deterministic at any parallelism)
    and a point geometry. Expects identify_network_nodes output (NODEA/
    NODEB present)."""
    e = edges_nodes.withColumn("_ep", U.st_endpoints(geom_col))
    pts = (
        e.select(F.col("NODEA").alias("node"),
                 F.col("_ep.x0").alias("x"), F.col("_ep.y0").alias("y"))
        .union(e.select("NODEB", "_ep.x1", "_ep.y1"))
    )
    return (
        pts.groupBy("node")
        .agg(F.min(F.struct("x", "y")).alias("_p"))
        .select("node", F.col("_p.x").alias("x"), F.col("_p.y").alias("y"))
        .withColumn("geom_wkb", U.st_make_point("x", "y"))
    )


def snap_endpoints_knn(edges: DataFrame, key: str = "url",
                       geom_col: str = "geom_wkb",
                       tolerance: float = DEFAULT_TOLERANCE,
                       node_mode: str = "hash") -> DataFrame:
    """Graft generalization of G1 (north star: "kNN endpoint snapping within
    tolerance via cell-neighborhood candidate generation"): endpoints within
    `tolerance` of each other snap to one canonical node even when they fall
    in different quantization cells.

    Candidate generation: each endpoint joins the 3×3 neighborhood of its
    cell (cell = floor(coord/tolerance)); candidates within `tolerance`
    snap to the lexicographically-smallest quantized cell among the group —
    deterministic without iteration (tolerance-chain clusters resolve to
    per-pair minima, matching nearest-neighbor semantics, not full
    transitive-closure clustering).

    node_mode='hash' → node = xxhash64(qx, qy) (scale path, as G1);
    node_mode='cell' → node = qx * 2^26 + qy, an arithmetic encoding a SQL
    oracle can recompute (coords must be non-negative and < 2^26·tol)."""
    e = edges.withColumn("_ep", U.st_endpoints(geom_col))
    pts = (
        e.select(key, F.lit("A").alias("end"),
                 F.col("_ep.x0").alias("x"), F.col("_ep.y0").alias("y"))
        .union(e.select(key, F.lit("B"), F.col("_ep.x1"), F.col("_ep.y1")))
    )
    pts = pts.withColumn("cx", F.floor(F.col("x") / tolerance).cast("long")) \
             .withColumn("cy", F.floor(F.col("y") / tolerance).cast("long"))
    # explode each point into its 9 candidate neighbor cells
    nbr = pts.select(
        key, "end", "x", "y",
        F.explode(F.array(*[
            F.struct((F.col("cx") + dx).alias("nx"), (F.col("cy") + dy).alias("ny"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])).alias("n"),
    ).select(key, "end", "x", "y", "n.nx", "n.ny")
    # candidate cell centers that actually hold a point
    occupied = pts.select(F.col("cx").alias("nx"), F.col("cy").alias("ny"),
                          F.col("x").alias("ox"), F.col("y").alias("oy"))
    cand = (
        nbr.join(occupied, ["nx", "ny"])
        .withColumn("_d2", (F.col("x") - F.col("ox")) ** 2 + (F.col("y") - F.col("oy")) ** 2)
        .filter(F.col("_d2") <= tolerance * tolerance)
        .withColumn("qx", F.floor(F.col("ox") / tolerance).cast("long"))
        .withColumn("qy", F.floor(F.col("oy") / tolerance).cast("long"))
        .groupBy(key, "end")
        .agg(F.min(F.struct("qx", "qy")).alias("q"))
    )
    if node_mode == "hash":
        cand = cand.withColumn("node", F.xxhash64(F.col("q.qx"), F.col("q.qy")))
    elif node_mode == "cell":
        # lexicographic (qx, qy) order is preserved by qx*DIM+qy for
        # 0 <= qy < DIM, so the min-struct choice above encodes faithfully
        from ..functions.cells import CELL_SHIFT

        dim = 1 << CELL_SHIFT
        cand = cand.withColumn(
            "node", F.col("q.qx") * F.lit(dim) + F.col("q.qy")
        )
    else:
        raise ValueError(f"unknown node_mode {node_mode}")
    cand = cand.select(key, "end", "node")
    a = cand.filter(F.col("end") == "A").select(key, F.col("node").alias("NODEA"))
    b = cand.filter(F.col("end") == "B").select(key, F.col("node").alias("NODEB"))
    return edges.join(a, key).join(b, key)


def _adjacency(edges_nodes: DataFrame, direction: str) -> DataFrame:
    """(node, nbr) adjacency for the walk direction, built ONCE before the
    traversal loop: 'up' walks against flow (B→A), 'down' with flow (A→B),
    'both' undirected (the reference's DIRECTION:2 at
    create_connected_reference_hydro.py:191-197). One materialized
    adjacency turns each BFS round into a single broadcast join instead of
    two joins + a union over the edge table. Returned unpinned: the
    caller's gate (select_connected) pins it."""
    out = []
    if direction in ("down", "both"):
        out.append(edges_nodes.select(F.col("NODEA").alias("node"),
                                      F.col("NODEB").alias("nbr")))
    if direction in ("up", "both"):
        out.append(edges_nodes.select(F.col("NODEB").alias("node"),
                                      F.col("NODEA").alias("nbr")))
    adj = out[0]
    for o in out[1:]:
        adj = adj.union(o)
    return adj


def connected_components(adj: DataFrame, max_rounds: int = 64,
                         metrics: TraversalMetrics | None = None) -> DataFrame:
    """Min-label connected components over a symmetric (node, nbr)
    adjacency in O(log n) rounds: each round propagates the smallest label
    across edges (hash-to-min) and then shortcuts label pointers
    (l(v) ← l(l(v)), pointer jumping). Returns ('node', 'l') with
    l = smallest node id in the component — a pure set computation, so it
    is EXACTLY equal to running BFS to convergence, at O(log n) instead of
    O(diameter) rounds (VERDICT r1 'What's wrong' #3).

    Round cost is 3 shuffles (propagate join, min-agg, shortcut join)
    vs the BFS round's 1, but a 10^4-deep chain converges in ~15 rounds
    instead of 10^4."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    # pin the adjacency: the node-init union reads it twice and every
    # propagate round once more — without this, a derived adj (e.g. the
    # verified near-dup pair graph) re-runs its whole upstream plan per
    # round. Same rule as persisting the edge RDD in any iterative graph
    # algorithm.
    adj = adj.localCheckpoint(eager=False)
    lab = slots.checkpoint(
        adj.select("node").union(adj.select(F.col("nbr").alias("node")))
        .distinct()
        .withColumn("l", F.col("node")),
        "lab",
    )
    n_lab = lab.count()

    def _sig(df: DataFrame):
        return df.select(F.expr("bit_xor(xxhash64(node, l))").alias("h")) \
                 .first()["h"]

    sig = _sig(lab)
    with loop_profile(lab, n_lab):
        for i in range(max_rounds):
            # propagate: l'(v) = min(l(v), min over nbrs l(nbr))
            prop = (
                adj.join(lab.withColumnRenamed("node", "nbr"), "nbr")
                .select("node", "l")
            )
            lab1 = (
                lab.select("node", "l").union(prop)
                .groupBy("node").agg(F.min("l").alias("l"))
            )
            # shortcut: l''(v) = l'(l'(v)) — labels are node ids, so the
            # label table doubles as the pointer table
            # slot checkpoint: the superseded round's blocks are freed the
            # moment lab2 is materialized (operators/_ckpt.py) — bounded
            # state instead of an orphaned-block backlog per round
            lab2 = slots.checkpoint(
                lab1.join(
                    lab1.select(F.col("node").alias("l"),
                                F.col("l").alias("_ll")),
                    "l", "left")
                .select("node", F.coalesce("_ll", "l").alias("l")),
                "lab",
            )
            new_sig = _sig(lab2)
            lab = lab2
            if metrics is not None:
                metrics.add(op="connected_components", round=i)
            if new_sig == sig:
                break
            sig = new_sig
    return lab


def select_connected(edges_nodes: DataFrame, seed_nodes: DataFrame,
                     direction: str = "both", max_iter: int | None = None,
                     checkpoint_every: int = 1,
                     metrics: TraversalMetrics | None = None,
                     force_distributed: bool = False,
                     algorithm: str = "auto") -> DataFrame:
    """G2 ~ fct:selectconnectedcomponents: visited node set from seed
    nodes, returned as a DataFrame('node' long).

    max_iter=None (default) runs to convergence; an integer bounds the BFS
    depth (frontier rounds) — bounded calls always take the round-based
    path so the bound is honored on every physical strategy.

    Physical strategy for run-to-convergence calls (`algorithm`):
      'auto'   → at most SMALL_GRAPH_ROWS gate rows (adjacency + seed
                 rows): BFS on the driver (operators/_local.py —
                 self-join rounds pay ~1s of scheduling each regardless
                 of size); above it: 'cc'.
      'cc'     → min-label connected components with pointer jumping,
                 O(log n) rounds (connected_components) — visited =
                 components containing a seed. Identical set to BFS.
      'rounds' → the checkpointed frontier-BFS self-join loop, O(depth)
                 rounds (the north rule's literal shape; kept for
                 equality testing and bounded-depth semantics).
    All paths return identical sets (asserted in tests/test_graph_ops.py).
    """
    from . import _local

    if algorithm == "cc" and direction != "both":
        raise ValueError("algorithm='cc' requires direction='both' — "
                         "directed reachability is not a component query")
    bounded = max_iter is not None
    rows, tagged = _local.collect_small(
        _local.bfs_input(_adjacency(edges_nodes, direction), seed_nodes),
        not force_distributed and not bounded and algorithm in ("auto", "cc"))
    if rows is not None:
        if metrics is not None:
            metrics.add(op="select_connected", mode="local",
                        adj_rows=int((~rows["is_seed"]).sum()))
        return edges_nodes.sparkSession.createDataFrame(_local.bfs(rows),
                                                        "node long")
    # the distributed arm reads the pinned gate input (no recompute)
    adj = tagged.filter(~F.col("is_seed")).select("node", "nbr")
    seed_nodes = tagged.filter(F.col("is_seed")).select("node")
    n_adj = adj.count()
    # components == BFS-reachability only for the undirected walk; directed
    # walks ('up'/'down') are genuine reachability queries and stay on the
    # round-based path (directed log-depth would need transitive-closure
    # doubling — an edge blowup, not worth it for river depths)
    if not bounded and direction == "both" and algorithm in ("auto", "cc"):
        if metrics is not None:
            metrics.add(op="select_connected", mode="cc", adj_rows=n_adj)
        labels = connected_components(adj, metrics=metrics)
        seed_labels = (
            labels.join(seed_nodes.select("node"), "node", "left_semi")
            .select("l").distinct()
        )
        comp_nodes = labels.join(seed_labels, "l", "left_semi").select("node")
        return (
            seed_nodes.select("node").union(comp_nodes).distinct()
        )
    visited = seed_nodes.select("node").distinct().localCheckpoint()
    frontier = visited
    with loop_profile(adj, n_adj):
        # unbounded = run to convergence (the loop breaks on an empty
        # frontier); the large constant is a runaway guard, not a bound
        for i in range(max_iter if bounded else 1_000_000):
            nxt = (
                adj.join(frontier, "node")
                .select(F.col("nbr").alias("node"))
                .distinct()
            )
            frontier = nxt.join(visited, "node", "left_anti")
            if checkpoint_every and i % checkpoint_every == 0:
                frontier = frontier.localCheckpoint()
            n_new = frontier.count()
            if metrics is not None:
                metrics.add(op="select_connected", round=i, new_nodes=n_new)
            if n_new == 0:
                break
            # visited stays a shallow union of checkpointed frontiers — no
            # checkpoint needed, and one fewer job per round
            visited = visited.union(frontier)
    return visited


def edges_touching(edges_nodes: DataFrame, nodes: DataFrame,
                   key: str = "url", direction: str = "both") -> DataFrame:
    """Edges selected by a traversal's visited-node set (selection
    materialization ~ native:saveselectedfeatures,
    create_connected_reference_hydro.py:199). direction must match the
    walk: 'both' → either endpoint visited; 'down' → edge traversed
    leaving a visited NODEA; 'up' → edge traversed against flow from a
    visited NODEB."""
    a = edges_nodes.join(nodes.withColumnRenamed("node", "NODEA"), "NODEA",
                         "left_semi")
    b = edges_nodes.join(nodes.withColumnRenamed("node", "NODEB"), "NODEB",
                         "left_semi")
    if direction == "down":
        return a.select(key).distinct()
    if direction == "up":
        return b.select(key).distinct()
    return a.select(key).union(b.select(key)).distinct()


def fix_network_connectivity(full_edges: DataFrame, subset_keys: DataFrame,
                             outlet_nodes: DataFrame, key: str = "url",
                             max_outer: int = 30,
                             metrics: TraversalMetrics | None = None) -> DataFrame:
    """G3 ~ fct:fixnetworkconnectivity (fix_suppr_canal_auto.py:131-138;
    README.md:42 'remove canals and add only necessary canals to connect
    streams'): given the full graph and a kept SUBSET (canals removed),
    re-add the minimal full-graph edges needed so every subset edge reaches
    the outlets.

    Greedy frontier repair: BFS over the kept set from the outlets; while
    unreachable subset edges remain, admit the non-subset edges with at
    least one endpoint in the reached set (one hop of 'candidate canals'),
    re-BFS. Each outer round admits only edges adjacent to the reached
    frontier, so admitted canals form connecting paths, not the whole canal
    web. Returns the kept key set (subset + admitted).

    One gate (operators/_local.py) collects the full edges, the subset
    keys and the outlet nodes as tagged rows — the subset's plan (the
    width network's zonal filter) runs inside that one action. At most
    SMALL_GRAPH_ROWS rows → the whole repair runs on the driver
    (_local.repair, the same rounds and per-round records); above it the
    self-join rounds below read the pinned gate input."""
    from . import _local
    from ._ckpt import CheckpointSlots

    rows, tagged = _local.collect_small(
        _local.repair_input(full_edges, subset_keys, outlet_nodes, key))
    if rows is not None:
        kept, log = _local.repair(rows, key, max_outer)
        if metrics is not None:
            for r in log:
                metrics.add(**r)
        return full_edges.sparkSession.createDataFrame(
            pd.DataFrame({key: pd.Series(kept, dtype=object)}),
            T.StructType([full_edges.schema[key]]))
    kind = F.col("kind")
    full_edges = tagged.filter(kind == 0).select(key, "NODEA", "NODEB")
    subset_keys = tagged.filter(kind == 1).select(key)
    outlet_nodes = tagged.filter(kind == 2).select(F.col("NODEA").alias("node"))
    slots = CheckpointSlots()
    kept_keys = slots.checkpoint(subset_keys, "kept")
    for outer in range(max_outer):
        kept_edges = full_edges.join(kept_keys, key, "left_semi")
        reached = select_connected(kept_edges, outlet_nodes, "both",
                                   metrics=metrics)
        sub_edges = full_edges.join(subset_keys, key, "left_semi")
        unreachable = (
            sub_edges.join(reached.withColumnRenamed("node", "NODEA"), "NODEA",
                           "left_anti")
            .join(reached.withColumnRenamed("node", "NODEB"), "NODEB",
                  "left_anti")
        )
        n_unreached = unreachable.count()
        if metrics is not None:
            metrics.add(op="fix_connectivity", round=outer,
                        unreachable_edges=n_unreached)
        if n_unreached == 0:
            break
        cand = (
            full_edges.join(kept_keys, key, "left_anti")
        )
        touching = (
            cand.join(reached.withColumnRenamed("node", "NODEA"), "NODEA",
                      "left_semi")
            .select(key)
            .union(
                cand.join(reached.withColumnRenamed("node", "NODEB"), "NODEB",
                          "left_semi").select(key)
            )
            .distinct()
        )
        n_added = touching.count()
        if n_added == 0:
            break  # disconnected beyond repair — reference keeps going too
        kept_keys = slots.checkpoint(kept_keys.union(touching).distinct(),
                                     "kept")
    return kept_keys


def boruvka_mst(edges: DataFrame, *, eid: str = "eid", src: str = "u",
                dst: str = "v", weight: str = "w",
                max_rounds: int = 64,
                metrics: TraversalMetrics | None = None) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — the classic
    O(log n)-round DISTRIBUTED MST (each round every component hooks
    its minimum-weight outgoing edge, components at least halve), the
    shape Spark has no built-in for. Kruskal/Prim need a sequential
    union-find / heap; Borůvka is all joins + aggregations:

      per round: 1 label join on each endpoint → cross-component
      filter → per-component min(struct(w, eid)) (partial agg
      map-side) → the chosen edges form a HOOK FOREST over component
      labels (functional: one parent pointer per hooked component;
      mutual pairs broken to the smaller label) that pointer jumping
      resolves in O(log depth) rounds of |components|-row self-joins —
      far cheaper than generic CC on the merge graph, and shrinking
      geometrically. Total work per round is dominated by the edge
      relabel join.

    Ties are broken by (w, eid) lexicographic min, so the forest is
    deterministic even with duplicate weights (and UNIQUE when weights
    are distinct — the oracle fixtures use distinct weights).
    Returns the chosen edges (eid, u, v, w).
    """
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    e = (edges.select(F.col(eid).alias("eid"),
                      F.col(src).alias("u"), F.col(dst).alias("v"),
                      F.col(weight).alias("w"))
         .localCheckpoint(eager=False))
    lab = slots.checkpoint(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct().withColumn("l", F.col("node")),
        "lab")
    chosen = None
    for i in range(max_rounds):
        lu = lab.select(F.col("node").alias("u"), F.col("l").alias("lu"))
        lv = lab.select(F.col("node").alias("v"), F.col("l").alias("lv"))
        cross = (e.join(lu, "u").join(lv, "v")
                 .where(F.col("lu") != F.col("lv")))
        # each component hooks its min incident cross edge; one edge
        # may be hooked from both sides -> distinct eid
        inc = (cross.select(F.col("lu").alias("c"), "w", "eid",
                            "u", "v", "lu", "lv")
               .union(cross.select(F.col("lv").alias("c"), "w", "eid",
                                   "u", "v", "lu", "lv")))
        per_c = slots.checkpoint(
            inc.groupBy("c")
            .agg(F.min(F.struct("w", "eid", "u", "v",
                                "lu", "lv")).alias("m")),
            "perc")
        n_sel = per_c.count()
        if metrics is not None:
            metrics.add(op="boruvka_mst", round=i, hooked=n_sel)
        if n_sel == 0:
            break
        picked = (per_c.select("m.eid", "m.u", "m.v", "m.w")
                  .dropDuplicates(["eid"]))
        chosen = (picked if chosen is None
                  else chosen.union(picked))
        chosen = slots.checkpoint(chosen, "chosen")
        chosen.count()
        # relabel via the hook forest: each hooked component's parent
        # pointer is the other endpoint's label of its chosen edge;
        # mutual pairs (c and p hooked the same edge) break to the
        # smaller label, rooting every hook tree, and pointer jumping
        # resolves roots in O(log depth) self-joins of component rows
        par = per_c.select(
            "c",
            F.when(F.col("m.lu") == F.col("c"), F.col("m.lv"))
            .otherwise(F.col("m.lu")).alias("p"))
        pp = par.select(F.col("c").alias("p"), F.col("p").alias("_gp"))
        # SELF-join rounds need BOTH layers (PLANS.md, measured twice):
        # slot-checkpoint truncates the plan tree (which doubles per
        # self-join round and hits the 2 GB plan-string wall) and a
        # cache on top resets size estimates to MEASURED bytes (which
        # chained localCheckpoints preserve and the self-join SQUARES
        # into a BigInteger stats overflow ~25 rounds in).
        ptr = slots.checkpoint(
            par.join(pp, "p", "left")
            .select("c",
                    F.when(F.col("_gp") == F.col("c"),
                           F.least("c", "p"))
                    .otherwise(F.col("p")).alias("p")),
            "ptr").cache()
        ptr.count()

        def _psig(df):
            return df.select(
                F.expr("bit_xor(xxhash64(c, p))").alias("h")).first()["h"]

        psig = _psig(ptr)
        prev_cache = ptr
        for _ in range(max_rounds):
            nxt = ptr.select(F.col("c").alias("p"),
                             F.col("p").alias("_np"))
            ptr = slots.checkpoint(
                ptr.join(nxt, "p", "left")
                .select("c", F.coalesce("_np", "p").alias("p")),
                "ptr").cache()
            ptr.count()
            prev_cache.unpersist()
            prev_cache = ptr
            new_psig = _psig(ptr)
            if new_psig == psig:
                break
            psig = new_psig
        lab = slots.checkpoint(
            lab.join(ptr.select(F.col("c").alias("_old"),
                                F.col("p").alias("_new")),
                     lab["l"] == F.col("_old"), "left")
            .select("node", F.coalesce("_new", "l").alias("l")),
            "lab")
        lab.count()
        prev_cache.unpersist()
    if chosen is None:
        return e.select("eid", "u", "v", "w").limit(0)
    return chosen


def greedy_matching(edges: DataFrame, *, eid: str = "eid",
                    src: str = "u", dst: str = "v", weight: str = "w",
                    rounds: int = 12,
                    metrics: TraversalMetrics | None = None
                    ) -> DataFrame:
    """Maximal matching by parallel greedy local minima — the
    symmetry-breaking round pattern (Israeli–Itai / Luby family): each
    round, an edge joins the matching iff its (w, eid) is the minimum
    among ALL alive edges touching either endpoint (itself included);
    matched endpoints and their incident edges then drop out. With a
    total order on (w, eid) this computes EXACTLY the sequential
    greedy-by-weight matching — but in parallel rounds (O(log n)
    expected on random weights), each round two aggregations and two
    semi-joins, no driver-side edge list.

    ``rounds`` is a FIXED count (kcore_peel convention) so a
    non-recursive oracle replays the exact schedule; at scale run
    enough rounds for convergence (alive hits zero and further rounds
    are no-ops). Returns the matched edges (eid, u, v, w).
    """
    alive = (edges.select(F.col(eid).alias("eid"),
                          F.col(src).alias("u"), F.col(dst).alias("v"),
                          F.col(weight).alias("w"))
             .localCheckpoint(eager=False))
    matched = None
    for i in range(rounds):
        inc = (alive.select(F.col("u").alias("n"), "w", "eid")
               .union(alive.select(F.col("v").alias("n"), "w", "eid")))
        nmin = (inc.groupBy("n")
                .agg(F.min(F.struct("w", "eid")).alias("m"))
                .select("n", F.col("m.w").alias("_mw"),
                        F.col("m.eid").alias("_me")))
        mu = nmin.select(F.col("n").alias("u"),
                         F.col("_mw").alias("_wu"),
                         F.col("_me").alias("_eu"))
        mv = nmin.select(F.col("n").alias("v"),
                         F.col("_mw").alias("_wv"),
                         F.col("_me").alias("_ev"))
        hit = (alive.join(mu, "u").join(mv, "v")
               .where((F.col("_eu") == F.col("eid"))
                      & (F.col("_ev") == F.col("eid")))
               .select("eid", "u", "v", "w")
               .localCheckpoint(eager=False))
        n_hit = hit.count()
        if metrics is not None:
            metrics.add(op="greedy_matching", round=i, matched=n_hit)
        if n_hit == 0:
            break
        matched = hit if matched is None else matched.union(hit)
        matched = matched.localCheckpoint(eager=False)
        used = (hit.select(F.col("u").alias("n"))
                .union(hit.select(F.col("v").alias("n"))).distinct())
        alive = (alive
                 .join(used.withColumnRenamed("n", "u"), "u",
                       "left_anti")
                 .join(used.withColumnRenamed("n", "v"), "v",
                       "left_anti")
                 .localCheckpoint(eager=False))
    if matched is None:
        return alive.select("eid", "u", "v", "w").limit(0)
    return matched


def dag_levels(edges: DataFrame, *, src: str = "u", dst: str = "v",
               max_iter: int = 500) -> DataFrame:
    """Longest-path level per node of a DAG (topological depth):
    level(v) = 0 for sources, else 1 + max(level(pred)). Bounded-round
    max fixpoint against the FIXED edge frame (rounds = longest path
    length; linear growth, checkpoint-safe) with a bit_xor signature
    for convergence — the scheduling/stratification primitive
    (crawl-frontier waves, dependency batches). Path ENUMERATION would
    be exponential; the per-node max is one tiny join per round.
    Returns (node, level), all-integer."""
    from pyspark.sql import functions as F

    from ._ckpt import CheckpointSlots

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")) \
        .localCheckpoint(eager=False)
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select(F.col("t").alias("node"))).distinct()
             .localCheckpoint(eager=False))
    slots = CheckpointSlots()
    lv = slots.checkpoint(
        nodes.select("node", F.lit(0).cast("long").alias("level")), "lv")

    def _sig(df):
        return df.select(F.expr(
            "bit_xor(xxhash64(node, level))").alias("x")).first()["x"]

    sig = _sig(lv)
    for _ in range(max_iter):
        up = (e.join(lv.withColumnRenamed("node", "s"), "s")
              .groupBy("t").agg((F.max("level") + 1).alias("_lp"))
              .withColumnRenamed("t", "node"))
        new_lv = slots.checkpoint(
            nodes.join(up, "node", "left")
            .select("node",
                    F.greatest(F.coalesce("_lp", F.lit(0)), F.lit(0))
                    .cast("long").alias("level")), "lv")
        new_sig = _sig(new_lv)
        lv = new_lv
        if new_sig == sig:
            break
        sig = new_sig
    return lv


def shortest_path_counts(edges: DataFrame, source: int = 0, *,
                         src: str = "u", dst: str = "v",
                         max_iter: int = 100) -> DataFrame:
    """BFS distances AND shortest-path counts from one source — the
    σ_sv quantity Brandes betweenness is built on: per round, a
    frontier node's count is the SUM of its distance-(d−1) neighbors'
    counts (integer, order-free), so counting rides the same bounded
    BFS rounds as reachability; joins hit the FIXED symmetric edge
    frame (linear growth, checkpoint-safe). Returns
    (node, dist, n_paths)."""
    from pyspark.sql import functions as F

    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    e = slots.checkpoint(
        edges.select(F.col(src).cast("long").alias("a"),
                     F.col(dst).cast("long").alias("b"))
        .where(F.col("a") != F.col("b")).distinct(), "e")
    sym = slots.checkpoint(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(), "sym")
    spark = edges.sparkSession
    frame = slots.checkpoint(
        spark.createDataFrame([(int(source), 0, 1)],
                              "node long, dist long, n_paths long"),
        "fr")
    frontier = frame
    for r in range(1, max_iter + 1):
        nxt = (sym.join(frontier.select(F.col("node").alias("a"),
                                        "n_paths"), "a")
               .groupBy(F.col("b").alias("node"))
               .agg(F.sum("n_paths").alias("n_paths"))
               .join(frame.select("node"), "node", "left_anti")
               .select("node", F.lit(r).cast("long").alias("dist"),
                       F.col("n_paths").cast("long")))
        nxt = slots.checkpoint(nxt, "nxt")
        if not nxt.take(1):
            break
        frame = slots.checkpoint(frame.unionByName(nxt), "fr")
        frontier = nxt
    return frame


def euler_tour(edges: DataFrame, root: int = 0, *, src: str = "u",
               dst: str = "v", max_doublings: int = 40) -> DataFrame:
    """Euler tour of a tree by LIST RANKING — the classic PRAM
    construction, Spark-shaped: (1) each directed edge (u→v) gets its
    circuit successor (v → next neighbor of v after u in cyclic sorted
    adjacency order) from one windowed self-join — a purely LOCAL
    rule; (2) the circuit is cut before the start edge (root → min
    child) and every edge's distance-to-end is computed by POINTER
    DOUBLING (acc += acc[ptr]; ptr = ptr[ptr]) in O(log n) rounds —
    the self-join-on-own-frame loop uses the two-layer
    checkpoint+cache discipline (CLAUDE.md: stats-squaring AND
    plan-tree doubling both bite otherwise); (3) pos = len−1−dist.
    Returns (u, v, pos) for all 2(n−1) directed edges — enter/exit
    times and subtree intervals read straight off it."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    e = slots.checkpoint(
        edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v")).distinct(), "e")
    sym = slots.checkpoint(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct(), "sym")
    # successor: next neighbor of v after u, cyclic in sorted order
    w_nxt = Window.partitionBy("v").orderBy("u")
    nbr = sym.select(F.col("v"), F.col("u")) \
        .withColumn("_nu", F.lead("u").over(w_nxt)) \
        .withColumn("_first", F.first("u").over(
            Window.partitionBy("v").orderBy("u")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)))
    succ = nbr.select(
        F.col("u").alias("su"), F.col("v").alias("sv"),
        F.col("v").alias("nu"),
        F.coalesce("_nu", "_first").alias("nv"))
    # edge ids: eid(u,v) = u * 2^32 + v (node ids < 2^31)
    def eid(a, b):
        return (F.col(a) * F.lit(1 << 32) + F.col(b))

    start = (sym.where(F.col("u") == root)
             .agg(F.min("v").alias("m")).first()["m"])
    start_id = root * (1 << 32) + int(start)
    frame = succ.select(
        eid("su", "sv").alias("edge"),
        F.col("su").alias("u"), F.col("sv").alias("v"),
        F.when(eid("nu", "nv") == start_id, F.lit(None))
        .otherwise(eid("nu", "nv")).alias("ptr"),
        F.when(eid("nu", "nv") == start_id, 0).otherwise(1)
        .cast("long").alias("acc"))
    frame = slots.checkpoint(frame, "fr0")
    cached = frame.cache()
    cached.count()
    for i in range(max_doublings):
        nxt = (cached.alias("a")
               .join(cached.select(F.col("edge").alias("ptr"),
                                   F.col("ptr").alias("p2"),
                                   F.col("acc").alias("a2")).alias("b"),
                     "ptr", "left")
               .select("edge", "u", "v",
                       F.col("p2").alias("ptr"),
                       (F.col("acc") + F.coalesce("a2", F.lit(0)))
                       .alias("acc")))
        nxt = slots.checkpoint(nxt, f"fr{(i % 2) + 1}")
        new_cached = nxt.cache()
        n_live = new_cached.where(F.col("ptr").isNotNull()).count()
        cached.unpersist()
        cached = new_cached
        if n_live == 0:
            break
    total = cached.count()
    return cached.select(
        "u", "v", (F.lit(total - 1) - F.col("acc")).cast("long")
        .alias("pos"))


def prefix_scan_xor(df: DataFrame, *, t: str = "t", val: str = "m",
                    out: str = "p", num_partitions: int | None = None
                    ) -> DataFrame:
    """Distributed INCLUSIVE prefix-XOR over rows ordered by `t`
    (values of `t` must be unique): range-repartition on t, running
    bit_xor window WITHIN each range partition, then fold in the XOR
    of all prior partitions' totals — the totals table is one row per
    partition (collected once, broadcast back), so there is no global
    single-partition window anywhere. The classic two-level scan,
    Spark-shaped; scales to any row count because per-partition state
    is a window over a sorted range and cross-partition state is
    O(#partitions)."""
    spark = df.sparkSession
    k = num_partitions or spark.sparkContext.defaultParallelism
    d = (df.repartitionByRange(k, F.col(t))
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    run = d.selectExpr(
        "*",
        f"bit_xor({val}) OVER (PARTITION BY _pid ORDER BY {t} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run")
    tots = {r["_pid"]: r["_t"]
            for r in d.groupBy("_pid")
            .agg(F.expr(f"bit_xor({val})").alias("_t")).collect()}
    acc, offs = 0, []
    for pid in sorted(tots):
        offs.append((pid, acc))
        acc ^= tots[pid] if tots[pid] is not None else 0
    off_df = spark.createDataFrame(offs or [(0, 0)], "_pid int, _off long")
    return (run.join(F.broadcast(off_df), "_pid", "left")
            .withColumn(out, F.col("_run")
                        .bitwiseXOR(F.coalesce("_off", F.lit(0))))
            .drop("_pid", "_run", "_off"))


def bridges(edges: DataFrame, *, src: str = "u", dst: str = "v"
            ) -> DataFrame:
    """Bridge edges of a CONNECTED undirected graph — all joins and
    O(log n) rounds, no sequential DFS low-link pass anywhere (the
    Tarjan-Vishkin certificate, XOR variant):

    1. spanning tree = Borůvka forest over synthetic distinct weights
       (deterministic; O(log n) hook rounds);
    2. Euler tour of the tree (list ranking, O(log n) pointer
       doublings) → subtree interval [enter(c), exit(c)] per
       non-root node;
    3. every NON-tree edge {x,y} XORs a 64-bit hash mark onto both
       endpoints. S(c) = XOR of marks over subtree(c): an edge with
       both endpoints inside cancels itself, both outside never
       enters — S(c) aggregates exactly the edges with ONE endpoint
       in subtree(c), i.e. the edges covering tree edge
       (parent(c), c). That tree edge is a bridge iff S(c) == 0
       (up to a ~2^-64 hash-collision, the standard randomized
       certificate). Non-tree edges are never bridges (each closes a
       cycle with the tree path).
    4. subtree XORs for ALL nodes at once: S(c) = P(exit(c)) ^
       P(enter(c)) ^ mark(c) where P is the inclusive prefix-XOR of
       node marks in enter order — exit positions are probed by
       injecting 0-mark rows into the SAME ordered stream, so one
       `prefix_scan_xor` (two-level, no global window) answers every
       subtree at once.

    Returns every distinct undirected edge as (a, b, is_bridge) with
    a < b. Node ids must lie in [0, 2^31) (euler_tour packs (u, v)
    into one 64-bit edge id). Raises ValueError when the graph is
    disconnected.

    Reference semantics: connectivity-critical edges of the hydro
    network graph (SURVEY.md §2 G-family; the repair candidates of
    fix_network_connectivity are exactly edges whose removal split
    the network — bridges in reverse)."""
    e = (edges.select(
            F.least(F.col(src).cast("long"),
                    F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"),
                       F.col(dst).cast("long")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=False))
    ew = e.select(
        (F.col("a") * F.lit(1 << 32) + F.col("b")).alias("eid"),
        F.col("a").alias("u"), F.col("b").alias("v"),
        (F.col("a") * F.lit(1 << 32) + F.col("b")).alias("w"))
    tree = (boruvka_mst(ew)
            .select(F.col("u").alias("a"), F.col("v").alias("b"))
            .localCheckpoint(eager=False))
    n_nodes = e.select("a").union(e.select(F.col("b").alias("a"))) \
        .distinct().count()
    n_tree = tree.count()
    if n_tree != n_nodes - 1:
        raise ValueError(
            f"bridges() requires a connected graph: spanning forest has "
            f"{n_tree} edges for {n_nodes} nodes")
    root = int(e.agg(F.min("a")).first()[0])
    tour = euler_tour(tree, root=root, src="a", dst="b")
    und = tour.select(F.least("u", "v").alias("a"),
                      F.greatest("u", "v").alias("b"),
                      "pos", F.col("v").alias("head"))
    # first traversal of an undirected tree edge is downward → its head
    # is the child; child's interval = [enter, exit] of its edge pair
    iv = (und.groupBy("a", "b")
          .agg(F.min(F.struct("pos", "head")).alias("_dn"),
               F.max("pos").alias("exit"))
          .select("a", "b", F.col("_dn.head").alias("node"),
                  F.col("_dn.pos").alias("enter"), "exit")
          .localCheckpoint(eager=False))
    nt = e.join(tree, ["a", "b"], "left_anti")
    hmark = F.xxhash64(F.col("a"), F.col("b"), F.lit(1009))
    marks = (nt.select(F.col("a").alias("node"), hmark.alias("m"))
             .union(nt.select(F.col("b").alias("node"), hmark.alias("m")))
             .groupBy("node").agg(F.expr("bit_xor(m)").alias("mark")))
    ivm = (iv.join(marks, "node", "left")
           .withColumn("mark", F.coalesce("mark", F.lit(0).cast("long"))))
    # ordered event stream: enter rows carry the node's mark, exit rows
    # probe with mark 0 (they read P without perturbing it); the root's
    # enter sits at t=-1 (only needed when the root has a mark — a
    # missing 0-mark row changes no prefix)
    ev = (ivm.select("node", F.col("enter").alias("t"),
                     F.col("mark").alias("m"))
          .unionByName(ivm.select(
              "node", F.col("exit").alias("t"),
              F.lit(0).cast("long").alias("m")))
          .unionByName(marks.where(F.col("node") == root).select(
              "node", F.lit(-1).cast("long").alias("t"),
              F.col("mark").alias("m"))))
    scanned = prefix_scan_xor(ev, t="t", val="m", out="p")
    s = (scanned.groupBy("node")
         .agg(F.expr("bit_xor(p)").alias("pp"),
              F.expr("bit_xor(m)").alias("mk"),
              F.count(F.lit(1)).alias("nr"))
         .where(F.col("nr") == 2)  # drop the root's lone enter row
         .select("node",
                 F.col("pp").bitwiseXOR(F.col("mk")).alias("s")))
    flags = iv.join(s, "node").select(
        "a", "b", (F.col("s") == 0).alias("is_bridge"))
    return (e.join(flags, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("is_bridge", F.lit(False))
                    .alias("is_bridge")))


def two_edge_components(edges: DataFrame, *, src: str = "u",
                        dst: str = "v") -> DataFrame:
    """2-edge-connected components: CC of the graph with its bridges
    removed (`bridges` above), labels = min node id per component.
    Nodes whose every incident edge is a bridge become singleton
    components. Returns (node, comp)."""
    br = bridges(edges, src=src, dst=dst).localCheckpoint(eager=False)
    nb = br.where(~F.col("is_bridge"))
    adj = (nb.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
           .union(nb.select(F.col("b").alias("node"),
                            F.col("a").alias("nbr"))))
    cc = connected_components(adj)
    allnodes = (br.select(F.col("a").alias("node"))
                .union(br.select(F.col("b").alias("node"))).distinct())
    return (allnodes.join(cc, "node", "left")
            .select("node", F.coalesce("l", F.col("node")).alias("comp")))


def jp_coloring(edges: DataFrame, *, src: str = "u", dst: str = "v",
                max_rounds: int = 128) -> DataFrame:
    """Greedy graph coloring by Jones-Plassmann — the distributed
    answer to sequential greedy coloring: give every node a
    deterministic priority (a Knuth multiplicative hash packed with
    the node id into one comparable BIGINT, so it mirrors into any
    SQL dialect); each round, every uncolored node whose
    higher-priority neighbors are ALL colored takes the mex (smallest
    absent color) of those neighbors' colors. Because lower-priority
    neighbors always wait, the final coloring is a pure function of
    the priority order — independent of round scheduling and
    parallelism — and rounds = longest priority-increasing path =
    O(log n) expected for hash priorities. Each round: one join
    against the (static, checkpointed) higher-neighbor list, one
    groupBy, one JVM higher-order-function mex — no Python.

    Requires node ids in [0, 2^31): the priority pack
    ((id*2654435761) % 2^31)*2^31 + id is only injective there, and
    larger ids overflow BIGINT under ANSI — enforced with an explicit
    range check (same contract as bridges/biconnected_components).

    Returns (node, color) with a proper coloring (no edge
    monochromatic)."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    e = (edges.select(
            F.least(F.col(src).cast("long"),
                    F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"),
                       F.col(dst).cast("long")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    sym = (e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
           .union(e.select(F.col("b").alias("node"),
                           F.col("a").alias("nbr"))))

    def prio(c):
        return ((F.col(c) * F.lit(2654435761)) % F.lit(1 << 31)) \
            * F.lit(1 << 31) + F.col(c)

    higher = (sym.where(prio("nbr") > prio("node"))
              .select("node", "nbr").localCheckpoint(eager=False))
    nh = (higher.groupBy("node")
          .agg(F.count(F.lit(1)).alias("n_high"))
          .localCheckpoint(eager=False))
    nodes = sym.select("node").distinct().localCheckpoint(eager=False)
    rng = nodes.agg(F.min("node").alias("lo"),
                    F.max("node").alias("hi")).first()
    if rng["lo"] is not None and (rng["lo"] < 0
                                  or rng["hi"] >= (1 << 31)):
        raise ValueError(
            "jp_coloring requires node ids in [0, 2^31): the priority "
            "pack is only injective (and ANSI-overflow-safe) there")
    n_nodes = nodes.count()
    colored = slots.checkpoint(
        nodes.limit(0).withColumn("color", F.lit(0).cast("long")),
        "col")
    n_colored = 0
    for _ in range(max_rounds):
        got = (higher.join(colored.withColumnRenamed("node", "nbr"),
                           "nbr")
               .groupBy("node")
               .agg(F.count(F.lit(1)).alias("n_got"),
                    F.array_sort(F.collect_set("color")).alias("cols")))
        ready = (nodes.join(colored, "node", "left_anti")
                 .join(nh, "node", "left")
                 .join(got, "node", "left")
                 .where(F.coalesce("n_got", F.lit(0))
                        == F.coalesce("n_high", F.lit(0))))
        new = ready.select(
            "node",
            F.expr("coalesce(filter(sequence(0L, cast(size(coalesce("
                   "cols, cast(array() as array<bigint>))) as long)), "
                   "x -> NOT array_contains(coalesce(cols, cast(array()"
                   " as array<bigint>)), x))[0], 0L)").alias("color"))
        colored = slots.checkpoint(colored.unionByName(new), "col2")
        m = colored.count()
        if m == n_colored:
            raise RuntimeError("jp_coloring made no progress")
        n_colored = m
        colored = slots.checkpoint(colored, "col")
        if m == n_nodes:
            break
    return colored


def biconnected_components(edges: DataFrame, *, src: str = "u",
                           dst: str = "v") -> DataFrame:
    """Biconnected components by TARJAN-VISHKIN (the 1985 parallel
    biconnectivity algorithm) — entirely joins + the repo's O(log)
    primitives, no DFS low-link recursion:

    1. Borůvka spanning tree + Euler tour → per non-root vertex v its
       tree edge (p(v), v), preorder number pre(v) (= dense_index of
       enter positions — the enter order IS a preorder of the tree)
       and subtree size nd(v) = (exit − enter + 1)/2. Ancestry is the
       interval test pre(u) ≤ pre(w) < pre(u) + nd(u).
    2. low(v)/high(v) = min/max preorder reachable from subtree(v) by
       one non-tree edge (or pre itself): per-node min/max of
       non-tree neighbor preorders, then a SUBTREE range reduction —
       subtrees are CONTIGUOUS preorder intervals, so both are batch
       range-min queries over the preorder sequence
       (rmq_sparse_table; max via negation).
    3. The auxiliary graph on tree edges (vertex = child v):
       rule 1 — non-tree edge {u, w}, neither an ancestor of the
       other ⟹ join u–w; rule 2 — tree edge (v, p), p ≠ root, and
       low(v) < pre(p) or high(v) ≥ pre(p) + nd(p) (some non-tree
       edge escapes subtree(p)) ⟹ join v–p. Connected components of
       the auxiliary graph are the blocks (isolated aux vertices =
       single-edge blocks).
    4. Every original edge gets its block: a tree edge (p(v), v) the
       block of v; a non-tree edge the block of its larger-preorder
       endpoint (for a back edge that is the descendant; for an
       unrelated pair rule 1 makes both sides equal). Block labels
       are canonicalized to the block's minimal edge packed as
       a·2³² + b, independent of the spanning tree chosen (a bare
       min-endpoint would collide for two bridges sharing a vertex).

    Requires a connected graph, node ids in [0, 2^31). Returns
    (a, b, block) for every distinct undirected edge."""
    from .aggregate import dense_index
    from .temporal import rmq_sparse_table

    e = (edges.select(
            F.least(F.col(src).cast("long"),
                    F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"),
                       F.col(dst).cast("long")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=False))
    ew = e.select(
        (F.col("a") * F.lit(1 << 32) + F.col("b")).alias("eid"),
        F.col("a").alias("u"), F.col("b").alias("v"),
        (F.col("a") * F.lit(1 << 32) + F.col("b")).alias("w"))
    tree = (boruvka_mst(ew)
            .select(F.col("u").alias("a"), F.col("v").alias("b"))
            .localCheckpoint(eager=False))
    n_nodes = e.select("a").union(e.select(F.col("b").alias("a"))) \
        .distinct().count()
    if tree.count() != n_nodes - 1:
        raise ValueError("biconnected_components requires a connected "
                         "graph")
    root = int(e.agg(F.min("a")).first()[0])
    tour = euler_tour(tree, root=root, src="a", dst="b")
    und = tour.select(F.least("u", "v").alias("a"),
                      F.greatest("u", "v").alias("b"),
                      "pos", F.col("v").alias("head"))
    iv = (und.groupBy("a", "b")
          .agg(F.min(F.struct("pos", "head")).alias("_dn"),
               F.max("pos").alias("exit"))
          .select("a", "b", F.col("_dn.head").alias("node"),
                  F.col("_dn.pos").alias("enter"), "exit"))
    allv = iv.select("node", "enter", "exit",
                     ((F.col("exit") - F.col("enter") + 1) / 2)
                     .cast("long").alias("nd")) \
        .unionByName(iv.sparkSession.createDataFrame(
            [(root, -1, 0, n_nodes)],
            "node long, enter long, exit long, nd long")
            .withColumn("nd", F.lit(n_nodes).cast("long")))
    pv = dense_index(allv, "enter", out="pre") \
        .select("node", "pre", "nd").localCheckpoint(eager=False)
    # parent per non-root vertex
    par = iv.select(F.col("node"),
                    (F.col("a") + F.col("b") - F.col("node"))
                    .alias("parent")).localCheckpoint(eager=False)
    nt = e.join(tree, ["a", "b"], "left_anti") \
        .localCheckpoint(eager=False)
    # per-node min/max preorder over {self} ∪ nontree neighbors
    pre_of = pv.select(F.col("node"), F.col("pre"))
    nbrpre = (nt.select(F.col("a").alias("node"), F.col("b").alias("o"))
              .union(nt.select(F.col("b").alias("node"),
                               F.col("a").alias("o")))
              .join(pre_of.withColumnRenamed("node", "o")
                    .withColumnRenamed("pre", "opre"), "o")
              .groupBy("node")
              .agg(F.min("opre").alias("nmin"),
                   F.max("opre").alias("nmax")))
    vals = (pv.join(nbrpre, "node", "left")
            .select("node", "pre", "nd",
                    F.least("pre", F.col("nmin")).alias("vmin"),
                    F.greatest("pre", F.col("nmax")).alias("vmax"))
            .withColumn("vmin", F.coalesce("vmin", F.col("pre")))
            .withColumn("vmax", F.coalesce("vmax", F.col("pre")))
            .localCheckpoint(eager=False))
    # low/high = range min/max of vmin/vmax over preorder interval
    seq_min = vals.select(F.col("pre").alias("i"),
                          F.col("vmin").alias("v"))
    seq_maxn = vals.select(F.col("pre").alias("i"),
                           (-F.col("vmax")).alias("v"))
    qs = vals.select(F.col("node").alias("qid"),
                     F.col("pre").alias("l"),
                     (F.col("pre") + F.col("nd") - 1).alias("r"))
    low = rmq_sparse_table(seq_min, qs).withColumnRenamed("mn", "low") \
        .withColumnRenamed("qid", "node")
    high = rmq_sparse_table(seq_maxn, qs) \
        .select(F.col("qid").alias("node"), (-F.col("mn")).alias("high"))
    vinfo = (pv.join(low, "node").join(high, "node")
             .localCheckpoint(eager=False))
    # rule 1: unrelated nontree pairs join their tree edges (aux: u—w)
    pu = vinfo.select(F.col("node").alias("a_"),
                      F.col("pre").alias("pu"), F.col("nd").alias("ndu"))
    pw = vinfo.select(F.col("node").alias("b_"),
                      F.col("pre").alias("pw"), F.col("nd").alias("ndw"))
    ntp = (nt.join(pu, nt["a"] == pu["a_"])
           .join(pw, nt["b"] == pw["b_"]))
    unrelated = ntp.where(
        ~((F.col("pu") <= F.col("pw"))
          & (F.col("pw") < F.col("pu") + F.col("ndu")))
        & ~((F.col("pw") <= F.col("pu"))
            & (F.col("pu") < F.col("pw") + F.col("ndw"))))
    aux1 = unrelated.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # rule 2: tree edge (v,p), p != root, escape test on subtree(p)
    pinfo = vinfo.select(F.col("node").alias("parent"),
                         F.col("pre").alias("ppre"),
                         F.col("nd").alias("pnd"))
    r2 = (par.where(F.col("parent") != root)
          .join(vinfo.select("node", "low", "high"), "node")
          .join(pinfo, "parent")
          .where((F.col("low") < F.col("ppre"))
                 | (F.col("high") >= F.col("ppre") + F.col("pnd"))))
    aux2 = r2.select(F.col("node").alias("x"), F.col("parent").alias("y"))
    aux = aux1.unionByName(aux2)
    adj = aux.select(F.col("x").alias("node"), F.col("y").alias("nbr")) \
        .union(aux.select(F.col("y").alias("node"),
                          F.col("x").alias("nbr")))
    cc = connected_components(adj)
    blocks = (par.select("node")
              .join(cc, "node", "left")
              .select("node", F.coalesce("l", F.col("node"))
                      .alias("blk")))
    # tree edges -> block of child; nontree -> block of larger-pre end
    te = iv.select("a", "b", "node").join(blocks, "node") \
        .select("a", "b", "blk")
    deeper = ntp.select(
        "a", "b",
        F.when(F.col("pu") >= F.col("pw"), F.col("a"))
        .otherwise(F.col("b")).alias("node"))
    ne = deeper.join(blocks, "node").select("a", "b", "blk")
    allb = te.unionByName(ne).localCheckpoint(eager=False)
    # canonical labels: the block's MINIMAL EDGE packed into one
    # BIGINT (min endpoint alone is NOT unique across blocks — two
    # bridges sharing a vertex would collide)
    canon = allb.groupBy("blk").agg(
        F.min(F.col("a") * F.lit(1 << 32) + F.col("b")).alias("block"))
    return (allb.join(canon, "blk")
            .select("a", "b", "block"))


def articulation_points(edges: DataFrame, *, src: str = "u",
                        dst: str = "v") -> DataFrame:
    """Articulation (cut) vertices: exactly the vertices belonging to
    ≥ 2 biconnected blocks (block-cut-tree fact) — one distinct-count
    over the per-edge block labels of `biconnected_components`.
    Returns (node, is_art)."""
    bc = biconnected_components(edges, src=src, dst=dst) \
        .localCheckpoint(eager=False)
    inc = (bc.select(F.col("a").alias("node"), "block")
           .union(bc.select(F.col("b").alias("node"), "block")))
    return (inc.groupBy("node")
            .agg(F.countDistinct("block").alias("nb"))
            .select("node", (F.col("nb") >= 2).alias("is_art")))


def count_four_cycles(edges: DataFrame, *, src: str = "u",
                      dst: str = "v") -> DataFrame:
    """Exact 4-cycle count via the CODEGREE identity: every
    unordered pair {u, w} with c common neighbors is the diagonal of
    C(c, 2) four-cycles, and each 4-cycle has exactly two diagonals —
    so #C4 = Σ C(codeg, 2) / 2. One wedge join (middle-vertex
    equi-join) + one aggregation; no cycle enumeration. Returns a
    single row (n_c4)."""
    e = (edges.select(
            F.least(F.col(src).cast("long"),
                    F.col(dst).cast("long")).alias("a"),
            F.greatest(F.col(src).cast("long"),
                       F.col(dst).cast("long")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct()
         .localCheckpoint(eager=False))
    sym = (e.select(F.col("a").alias("m"), F.col("b").alias("x"))
           .union(e.select(F.col("b").alias("m"),
                           F.col("a").alias("x"))))
    wedges = (sym.alias("l").join(sym.alias("r"), "m")
              .where(F.col("l.x") < F.col("r.x"))
              .select(F.col("l.x").alias("u"), F.col("r.x").alias("w")))
    codeg = wedges.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c"))
    # integer-exact: sum c(c-1) = 4*#C4 always, so `div 4` stays in
    # BIGINT (double-valued `/` loses exactness past 2^53; ANSI throws
    # on overflow instead of silently rounding)
    return codeg.agg(
        F.expr("sum(c * (c - 1)) div 4").alias("n_c4"))


def bom_rollup(edges: DataFrame, *, src: str = "u", dst: str = "v",
               mult: str = "m", max_rounds: int = 64) -> DataFrame:
    """Bill-of-materials explosion over a DAG: total quantity of each
    reachable part per ROOT (a node with no incoming edge) =
    Σ over paths Π edge multiplicities — the classic recursive-CTE
    demo, distributed as topo-frontier rounds: amounts start at
    (root, root, 1) and each round one join propagates
    amt·m along every edge, accumulating per (root, part). Rounds =
    DAG depth; joins hit the FIXED edge frame (linear growth,
    checkpoints only). All-integer. Returns (root, part, qty) for
    every reachable part (roots themselves excluded)."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"),
                      F.col(mult).cast("long").alias("m"))
         .localCheckpoint(eager=False))
    roots = (e.select(F.col("u").alias("node")).distinct()
             .join(e.select(F.col("v").alias("node")).distinct(),
                   "node", "left_anti"))
    frontier = slots.checkpoint(
        roots.select(F.col("node").alias("root"),
                     F.col("node").alias("part"),
                     F.lit(1).cast("long").alias("qty")), "fr")
    total = None
    for i in range(max_rounds):
        stepped = (frontier
                   .join(e.withColumnRenamed("u", "part"), "part")
                   .groupBy("root", F.col("v").alias("part"))
                   .agg(F.sum(F.col("qty") * F.col("m")).alias("qty")))
        # each round gets its OWN checkpoint: `total` keeps references
        # to every previous round, so slot reuse would free blocks a
        # live frame still needs (CLAUDE.md overwrite-while-referenced
        # trap). Depth-bounded rounds -> bounded leak, freed with the
        # session's release_all_persistent.
        stepped = stepped.localCheckpoint(eager=False)
        if not stepped.take(1):
            break
        total = stepped if total is None else \
            total.unionByName(stepped)
        frontier = stepped
    else:
        raise RuntimeError(
            f"bom_rollup: frontier did not drain within "
            f"max_rounds={max_rounds} rounds (DAG deeper than the cap); "
            f"raise max_rounds")
    if total is None:
        return frontier.limit(0)
    # a part reachable at several depths contributes per-depth partial
    # sums: fold them
    return (total.groupBy("root", "part")
            .agg(F.sum("qty").alias("qty")))
