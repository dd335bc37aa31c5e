"""Stream-order analytics: shortest-path relaxation, principal stem,
measure-from-outlet, Hack order, Strahler order, sliver pruning.

All are fixpoint loops of self-joins with localCheckpoint() per round
(north rule). Edge model: flow NODEA (upstream) → NODEB (downstream);
outlets are node ids.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _local
from .graph import TraversalMetrics, loop_profile

_N_CHAIN_BUCKETS = 64

# Degree-2 contraction pays only when chains make up a real share of the
# graph. On a junction-dense graph (e.g. a binary tree: pass-through
# fraction ~0.1) the contraction's two applyInPandas passes iterate
# millions of length-1 "chains" for zero round savings — measured 25+ min
# on a 2M-edge doc_id→doc_id/2 tree vs ~1 min of plain rounds. Below this
# pass-through-node fraction, algorithm='auto' picks the round loop; an
# explicit algorithm='contract' still forces contraction.
MIN_CHAIN_FRACTION = 0.2


def _passthrough_fraction(df: DataFrame, src_col: str, dst_col: str,
                          n_edges: int,
                          exclude_nodes: DataFrame | None = None) -> float:
    """Share of edges whose head is a pass-through node (in-degree 1 and
    out-degree 1, minus excluded junction-forced nodes) — the cheap
    structural probe behind the auto contract-vs-rounds choice (two
    map-side-combined aggs + a join + a count; same degree computation
    aggregate._chain_roots starts with)."""
    indeg = df.groupBy(dst_col).agg(F.count("*").alias("_in"))
    outdeg = df.groupBy(src_col).agg(F.count("*").alias("_out"))
    pt = (
        indeg.join(outdeg, F.col(dst_col) == F.col(src_col))
        .filter((F.col("_in") == 1) & (F.col("_out") == 1))
        .select(F.col(dst_col).alias("node"))
    )
    if exclude_nodes is not None:
        pt = pt.join(exclude_nodes.select("node"), "node", "left_anti")
    return pt.count() / max(n_edges, 1)


def _distance_contract(e: DataFrame, outlet_nodes: DataFrame,
                       metrics: TraversalMetrics | None) -> DataFrame:
    """O(log depth)-shaped distance: contract degree-2 chains (the bulk of
    a river network's depth) into super-edges via pointer jumping
    (aggregate._chain_roots, O(log chain) rounds), relax on the junction
    graph (rounds = junction depth — and the junction graph usually fits
    the small-graph arm on the driver), then recover interior chain-node
    distances with ONE pandas pass per chain in exact left-fold order
    (dist(src) = len + dist(dst), tail → head), so interior values are
    bit-identical to the round-based relaxation.

    The one float deviation vs the round loop: a super-edge's weight is
    the chain's length fold summed BEFORE the junction dist is added
    (W + d instead of l1+(l2+(…+(lk+d)))) — exact when lengths are
    integer-valued doubles (all driver fixtures), ≤ a few ulps otherwise.
    Chains are broken at outlet nodes, so an outlet never disappears
    inside a chain. Cycles of pass-through nodes have no junction tail and
    are unreachable from any outlet — they drop out here exactly as they
    never acquire a dist in the round loop."""
    from .aggregate import _chain_roots

    de = (
        e.groupBy("src", "dst").agg(F.min("_len").alias("elen"))
        .withColumn("kk", F.xxhash64("src", "dst"))
        .localCheckpoint()
    )
    roots = _chain_roots(
        de.select(F.col("kk").alias("_kk"), F.col("src").alias("NODEA"),
                  F.col("dst").alias("NODEB")),
        "_kk", exclude_nodes=outlet_nodes).withColumnRenamed("_kk", "kk")
    chained = de.join(roots, "kk").withColumn(
        "bk", F.pmod(F.xxhash64("chain_id"), F.lit(_N_CHAIN_BUCKETS)))

    sup_schema = "chain_id long, src long, dst long, W double"

    def _super(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for cid, g in pdf.groupby("chain_id", sort=False):
            rows = list(g[["src", "dst", "elen"]].itertuples(index=False))
            by_src = {r.src: r for r in rows}
            dsts = {r.dst for r in rows}
            heads = [r for r in rows if r.src not in dsts]
            if not heads:      # pass-through ring: no junction, unreachable
                continue
            cur, seq = heads[0], []
            while cur is not None and len(seq) < len(rows):
                seq.append(cur)
                cur = by_src.get(cur.dst)
            w = 0.0
            for r in reversed(seq):   # right fold: l1+(l2+(...+lk))
                w = r.elen + w
            out.append((int(cid), int(seq[0].src), int(seq[-1].dst), float(w)))
        return pd.DataFrame(out, columns=["chain_id", "src", "dst", "W"])

    super_edges = chained.groupBy("bk").applyInPandas(_super, sup_schema) \
                         .localCheckpoint()
    if metrics is not None:
        metrics.add(op="distance_from_outlet", mode="contract",
                    edges=de.count(), super_edges=super_edges.count())
    # junction relaxation: Dijkstra on the driver when the junction
    # graph is small (the common case — contraction removes the chain
    # bulk), round-based relaxation otherwise; never re-contract (the
    # contracted graph has no pass-through nodes left)
    jdist = distance_from_outlet(
        super_edges.select(F.col("src").alias("NODEA"),
                           F.col("dst").alias("NODEB"),
                           F.col("W").alias("len")),
        outlet_nodes, len_col="len", metrics=metrics,
        algorithm="_local_or_rounds",
    ).localCheckpoint()
    # interior recovery: per reachable chain, walk tail → head computing
    # dist(src) = len + dist(dst) sequentially (same order as the round
    # loop); only pass-through (interior) nodes are emitted — junction
    # dists are owned by jdist
    tails = chained.filter(F.col("kk") == F.col("chain_id")) \
                   .select("chain_id", F.col("dst").alias("node"))
    jd = tails.join(jdist, "node").select("chain_id",
                                          F.col("dist").alias("jdv"))
    ch2 = chained.join(jd, "chain_id")

    int_schema = "node long, dist double"

    def _interior(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for cid, g in pdf.groupby("chain_id", sort=False):
            rows = list(g[["src", "dst", "elen", "jdv"]].itertuples(index=False))
            if len(rows) < 2:
                continue
            by_src = {r.src: r for r in rows}
            dsts = {r.dst for r in rows}
            heads = [r for r in rows if r.src not in dsts]
            if not heads:
                continue
            cur, seq = heads[0], []
            while cur is not None and len(seq) < len(rows):
                seq.append(cur)
                cur = by_src.get(cur.dst)
            d = rows[0].jdv
            for r in reversed(seq[1:]):   # skip head edge: its src is a junction
                d = r.elen + d
                out.append((int(r.src), float(d)))
        return pd.DataFrame(out, columns=["node", "dist"])

    interior = ch2.groupBy("bk").applyInPandas(_interior, int_schema)
    return jdist.select("node", "dist").union(interior)


def distance_from_outlet(edges_nodes: DataFrame, outlet_nodes: DataFrame,
                         len_col: str = "len", max_iter: int | None = None,
                         metrics: TraversalMetrics | None = None,
                         force_distributed: bool = False,
                         algorithm: str = "auto") -> DataFrame:
    """Multi-source shortest path following flow downstream to any outlet:
    dist(n) = min over out-edges n→m of dist(m) + len. Returns ('node',
    'dist').

    max_iter=None (default) runs to convergence; an integer bounds the
    relaxation rounds (and pins the round-based path so the bound holds).

    algorithm (convergence calls):
      'auto'     → Dijkstra on the driver at most SMALL_GRAPH_ROWS gate
                   rows (edges + outlet rows; operators/_local.py,
                   bit-identical accumulation);
                   'contract' above it.
      'contract' → degree-2 chain contraction + junction relaxation +
                   exact per-chain interior recovery — rounds scale with
                   junction depth, not node depth (_distance_contract).
      'rounds'   → Bellman-Ford-style relaxation, one join round per
                   network level (the literal checkpointed-self-join
                   shape; rounds ≈ network depth).

    Backs G4 (fct:principal-stem COST:0 geometric length,
    create_connected_reference_hydro.py:202-209) and G5
    (fct:measurenetworkfromoutlet, create_5m_width_hydro_network.py:267-273).
    """
    e = edges_nodes.select(F.col("NODEA").alias("src"),
                           F.col("NODEB").alias("dst"),
                           F.col(len_col).alias("_len"))
    bounded = max_iter is not None
    rows, tagged = _local.collect_small(
        _local.sssp_input(e, outlet_nodes),
        not force_distributed and not bounded
        and algorithm in ("auto", "contract", "_local_or_rounds"))
    if rows is not None:
        # small-graph arm: Dijkstra on the driver with the same
        # dist(parent)+len accumulation → bit-identical distances
        # (see operators/_local.py; equality asserted in tests)
        if metrics is not None:
            metrics.add(op="distance_from_outlet", mode="local",
                        edges=int((~rows["is_seed"]).sum()))
        return edges_nodes.sparkSession.createDataFrame(
            _local.sssp(rows), "node long, dist double")
    # the distributed arm reads the pinned gate input (no recompute)
    e = tagged.filter(~F.col("is_seed")).select("src", "dst", "_len")
    outlet_nodes = tagged.filter(F.col("is_seed")) \
                         .select(F.col("src").alias("node"))
    n_e = e.count()
    if not bounded and algorithm in ("auto", "contract"):
        if (algorithm == "contract"
                or _passthrough_fraction(e, "src", "dst", n_e, outlet_nodes)
                >= MIN_CHAIN_FRACTION):
            return _distance_contract(e, outlet_nodes, metrics)
        if metrics is not None:
            metrics.add(op="distance_from_outlet", mode="rounds_chainpoor",
                        edges=n_e)
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    dist = slots.checkpoint(
        outlet_nodes.select("node", F.lit(0.0).alias("dist")), "dist")

    def _state_sig(df: DataFrame):
        # order-independent fingerprint of the dist table — convergence is
        # "state unchanged", and one aggregate over the checkpointed state
        # is far cheaper per round than a join against the previous state
        r = df.select(F.count("*").alias("n"),
                      F.expr("bit_xor(xxhash64(node, dist))").alias("h")).first()
        return r["n"], r["h"]

    sig = _state_sig(dist)
    with loop_profile(e, n_e):
        # unbounded = run to the convergence fingerprint; the constant is
        # a runaway guard (positive lengths always converge)
        for i in range(max_iter if bounded else 1_000_000):
            relaxed = (
                e.join(dist.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"),
                        (F.col("dist") + F.col("_len")).alias("dist"))
            )
            # slot checkpoint (operators/_ckpt.py): frees the superseded
            # round's blocks deterministically once new_dist materializes
            new_dist = slots.checkpoint(
                dist.union(relaxed).groupBy("node")
                .agg(F.min("dist").alias("dist")),
                "dist",
            )
            new_sig = _state_sig(new_dist)
            if metrics is not None:
                metrics.add(op="distance_from_outlet", round=i,
                            nodes=new_sig[0])
            dist = new_dist
            if new_sig == sig:
                break
            sig = new_sig
    return dist


def principal_stem(edges_nodes: DataFrame, outlet_nodes: DataFrame,
                   key: str = "url", len_col: str = "len",
                   metrics: TraversalMetrics | None = None) -> DataFrame:
    """G4 ~ principal stem: where several channels leave the same upstream
    node (multichannel reach), keep only the channel on the shortest
    outlet→source route — i.e. per NODEA keep the out-edge minimizing
    dist(NODEB) + len (README.md:43: 'le chenal choisi est le plus court
    chemin de l'exutoire à la source'). Ties break on smallest key for
    determinism."""
    dist = distance_from_outlet(edges_nodes, outlet_nodes, len_col,
                                metrics=metrics)
    scored = (
        edges_nodes.join(dist.withColumnRenamed("node", "NODEB"), "NODEB")
        .withColumn("_route", F.col("dist") + F.col(len_col))
    )
    best = (
        scored.groupBy("NODEA")
        .agg(F.min(F.struct(F.col("_route"), F.col(key))).alias("_best"))
        .select("NODEA", F.col(f"_best.{key}").alias(key))
    )
    return edges_nodes.join(best.select(key), key, "left_semi")


def measure_from_outlet(edges_nodes: DataFrame, outlet_nodes: DataFrame,
                        key: str = "url", len_col: str = "len",
                        metrics: TraversalMetrics | None = None) -> DataFrame:
    """G5 ~ fct:measurenetworkfromoutlet: MEASURE = along-network distance
    from the outlet to the downstream end of each edge."""
    dist = distance_from_outlet(edges_nodes, outlet_nodes, len_col,
                                metrics=metrics)
    return edges_nodes.join(
        dist.select(F.col("node").alias("NODEB"), F.col("dist").alias("MEASURE")),
        "NODEB", "left",
    )


def _upstream_rounds(e: DataFrame, key: str, n_e: int, max_iter: int,
                     metrics: TraversalMetrics | None) -> DataFrame:
    """The literal bottom-up fixpoint over (key, NODEA, NODEB, _len):
    one join round per network level."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    ul = slots.checkpoint(
        e.select(key, "NODEA", "NODEB", "_len", F.col("_len").alias("UL")),
        "ul")

    def _sig(df: DataFrame):
        # order-independent state fingerprint (see distance_from_outlet)
        r = df.select(F.expr(f"bit_xor(xxhash64({key}, UL))").alias("h")).first()
        return r["h"]

    sig = _sig(ul)
    with loop_profile(e, n_e):
        for i in range(max_iter):
            up_max = (
                ul.groupBy("NODEB").agg(F.max("UL").alias("_upmax"))
                .withColumnRenamed("NODEB", "NODEA")
            )
            new_ul = slots.checkpoint(
                e.join(up_max, "NODEA", "left")
                .withColumn("UL",
                            F.col("_len") + F.coalesce("_upmax", F.lit(0.0)))
                .drop("_upmax"),
                "ul",
            )
            new_sig = _sig(new_ul)
            if metrics is not None:
                metrics.add(op="upstream_length", round=i)
            ul = new_ul
            if new_sig == sig:
                break
            sig = new_sig
    return ul.select(key, "UL")


def _chained_with_buckets(e: DataFrame, key: str,
                          exclude_nodes: DataFrame | None = None) -> DataFrame:
    """(all e columns, chain_id, bk): chain label per edge + pandas bucket
    (see aggregate.py — grouping thousands of tiny chains directly costs a
    per-group Arrow round trip each)."""
    from .aggregate import _chain_roots

    roots = _chain_roots(e.select(key, "NODEA", "NODEB"), key,
                         exclude_nodes=exclude_nodes)
    return e.join(roots, key).withColumn(
        "bk", F.pmod(F.xxhash64("chain_id"), F.lit(_N_CHAIN_BUCKETS)))


def _chain_span(chained: DataFrame, key: str) -> DataFrame:
    """Per chain: head NODEA and tail NODEB via two anti-joins (no pandas).
    head = the edge whose NODEA is no chain-mate's NODEB; tail = the edge
    labelled chain_id (== its own key). Pass-through rings have no head
    and drop out (they can't carry an order/measure anyway)."""
    heads = chained.join(
        chained.select("chain_id", F.col("NODEB").alias("NODEA")),
        ["chain_id", "NODEA"], "left_anti",
    ).select("chain_id", F.col("NODEA").alias("_head_a"))
    tails = chained.filter(F.col(key) == F.col("chain_id")) \
                   .select("chain_id", F.col("NODEB").alias("_tail_b"))
    return heads.join(tails, "chain_id")


def _upstream_contract(e: DataFrame, key: str,
                       metrics: TraversalMetrics | None) -> DataFrame:
    """O(junction depth) upstream length: contract degree-2 chains, run
    the fixpoint on the junction graph (usually small enough for the
    small-graph arm), then recover every member's UL with one exact
    in-order pandas pass per chain (UL(e_i) = len_i + UL(e_{i-1}), head →
    tail, seeded by the max over the head junction's upstream arms).
    Same float contract as _distance_contract: super-edge weights are
    pre-folded, so junction-crossing sums are bit-exact for
    integer-valued lens, ≤ulps otherwise; recovered members are exact
    folds of their seed either way."""
    chained = _chained_with_buckets(e, key).localCheckpoint()
    key_t = {f.name: f.dataType.simpleString() for f in e.schema.fields}[key]

    sup_schema = f"chain_id {key_t}, NODEA long, NODEB long, len double"

    def _super(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for cid, g in pdf.groupby("chain_id", sort=False):
            rows = list(g[["NODEA", "NODEB", "elen"]].itertuples(index=False))
            by_src = {r.NODEA: r for r in rows}
            dsts = {r.NODEB for r in rows}
            heads = [r for r in rows if r.NODEA not in dsts]
            if not heads:
                continue
            cur, seq = heads[0], []
            while cur is not None and len(seq) < len(rows):
                seq.append(cur)
                cur = by_src.get(cur.NODEB)
            w = 0.0
            for r in seq:              # fold in walk order: lk+(...(l2+l1))
                w = r.elen + w
            out.append((cid, int(seq[0].NODEA), int(seq[-1].NODEB), float(w)))
        return pd.DataFrame(out, columns=["chain_id", "NODEA", "NODEB", "len"])

    pre = chained.select("chain_id", "bk", "NODEA", "NODEB",
                         F.col("_len").alias("elen"))
    super_e = pre.groupBy("bk").applyInPandas(_super, sup_schema) \
                 .localCheckpoint()
    if metrics is not None:
        metrics.add(op="upstream_length", mode="contract",
                    edges=chained.count(), super_edges=super_e.count())
    uls = upstream_length(super_e, key="chain_id", len_col="len",
                          metrics=metrics, algorithm="_local_or_rounds")
    # seed per chain = max UL over super-arms draining into the head node
    arm_max = (
        super_e.select(F.col("NODEB").alias("_head_a"),
                       F.col("chain_id").alias("_arm"))
        .join(uls.withColumnRenamed("chain_id", "_arm"), "_arm")
        .groupBy("_head_a").agg(F.max("UL").alias("_seed"))
    )
    seeded = (
        _chain_span(chained, key)
        .join(arm_max, "_head_a", "left")
        .select("chain_id", F.coalesce("_seed", F.lit(0.0)).alias("seed"))
    )
    ch2 = chained.select("chain_id", "bk", key, "NODEA", "NODEB",
                         F.col("_len").alias("elen")) \
                 .join(seeded, "chain_id")

    rec_schema = f"{key} {key_t}, UL double"

    def _recover(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for cid, g in pdf.groupby("chain_id", sort=False):
            rows = list(g[[key, "NODEA", "NODEB", "elen", "seed"]]
                        .itertuples(index=False))
            by_src = {r.NODEA: r for r in rows}
            dsts = {r.NODEB for r in rows}
            heads = [r for r in rows if r.NODEA not in dsts]
            if not heads:
                continue
            cur, u, n = heads[0], rows[0].seed, 0
            while cur is not None and n < len(rows):
                u = cur.elen + u
                out.append((getattr(cur, key), float(u)))
                n += 1
                cur = by_src.get(cur.NODEB)
        return pd.DataFrame(out, columns=[key, "UL"])

    return ch2.groupBy("bk").applyInPandas(_recover, rec_schema)


def upstream_length(edges_nodes: DataFrame, key: str = "url",
                    len_col: str = "len", max_iter: int = 500,
                    metrics: TraversalMetrics | None = None,
                    algorithm: str = "auto") -> DataFrame:
    """Longest upstream path above each edge (drained length proxy): ul(e) =
    len(e) + max(ul(u) for u with u.NODEB == e.NODEA, default 0). Feeds
    Hack ordering.

    algorithm: 'auto' → topological pass on the driver at most
    SMALL_GRAPH_ROWS edges, chain contraction above (_upstream_contract,
    rounds ~ junction depth); 'rounds' → the literal bottom-up fixpoint
    (rounds ~ network depth)."""
    rows, e = _local.collect_small(
        edges_nodes.select(key, "NODEA", "NODEB",
                           F.col(len_col).alias("_len")),
        algorithm in ("auto", "contract", "_local_or_rounds"))
    if rows is not None:
        # small-graph arm: topological pass on the driver with the same
        # len + max(upstream) float ops (operators/_local.py)
        if metrics is not None:
            metrics.add(op="upstream_length", mode="local", edges=len(rows))
        return edges_nodes.sparkSession.createDataFrame(
            _local.upstream(rows, key), f"{key} string, UL double")
    n_e = e.count()
    if algorithm in ("auto", "contract"):
        if (algorithm == "contract"
                or _passthrough_fraction(e, "NODEA", "NODEB", n_e)
                >= MIN_CHAIN_FRACTION):
            return _upstream_contract(e, key, metrics)
        if metrics is not None:
            metrics.add(op="upstream_length", mode="rounds_chainpoor",
                        edges=n_e)
    return _upstream_rounds(e, key, n_e, max_iter, metrics)


def _hack_propagate(e: DataFrame, outlet_nodes: DataFrame, key: str,
                    n_e: int, max_iter: int,
                    metrics: TraversalMetrics | None) -> DataFrame:
    """The literal top-down propagation over (key, NODEA, NODEB, _is_main):
    one join round per network level. Returns (key, HACK)."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    hack = slots.checkpoint(
        e.join(outlet_nodes.withColumnRenamed("node", "NODEB"), "NODEB",
               "left_semi")
        .select(key, F.lit(1).alias("HACK")),
        "hack",
    )
    done = hack.count()
    with loop_profile(e, n_e):
        for i in range(max_iter):
            # child edge c (c.NODEB == parent.NODEA) inherits parent's
            # order if main, else order+1
            parent = e.join(hack, key).select(
                F.col("NODEA").alias("NODEB"), F.col("HACK").alias("_ph")
            )
            child = (
                e.join(parent, "NODEB")
                .select(key, F.when(F.col("_is_main"), F.col("_ph"))
                              .otherwise(F.col("_ph") + 1).alias("HACK"))
            )
            # slot checkpoint frees the superseded round (_ckpt.py); the
            # running `done` count replaces re-counting the freed frame
            new_hack = slots.checkpoint(
                hack.union(child).groupBy(key)
                .agg(F.min("HACK").alias("HACK")),
                "hack",
            )
            new_done = new_hack.count()
            n_new = new_done - done
            if metrics is not None:
                metrics.add(op="hack_order", round=i, newly_ordered=n_new)
            hack, done = new_hack, new_done
            if n_new == 0:
                break
    return hack


def hack_order(edges_nodes: DataFrame, outlet_nodes: DataFrame,
               key: str = "url", len_col: str = "len", max_iter: int = 500,
               metrics: TraversalMetrics | None = None,
               algorithm: str = "auto") -> DataFrame:
    """G6 ~ fct:hackorder (create_5m_width_hydro_network.py:277-285): outlet
    edges get order 1; walking upstream through each junction, the upstream
    edge with the greatest drained (longest-upstream) length continues the
    parent's order, the others get parent+1. Top-down propagation until all
    edges ordered.

    algorithm 'auto': on the driver at most SMALL_GRAPH_ROWS edges; above
    it the propagation runs on the degree-2-contracted junction graph —
    HACK is CONSTANT along a chain (each interior node has exactly one upstream
    arm, so is_main is vacuously true), so the chain's tail-edge order is
    every member's order; rounds scale with junction depth.
    'rounds' forces the literal per-level loop.

    Contract/rounds equality caveat (ADVICE r2): the HACK propagation
    itself is integer-exact, but the _is_main flag is derived from
    upstream_length, whose contract path deviates ≤ulps from the round
    loop for NON-INTEGER edge lengths — a near-tie junction could then
    flip the main-stem choice between algorithms and change integer HACK
    orders downstream. Equality across algorithm= values is therefore
    EXACT for integer-valued len_col (all driver fixtures and reference
    data at mm precision) and inherits upstream_length's ulp caveat
    otherwise. The flag is computed ONCE here (not per algorithm branch),
    so within a single call every branch sees the same _is_main.

    Arms 'auto'/'contract' make ONE gate (operators/_local.py) over the
    (key, NODEA, NODEB, len) edges plus the outlet nodes: at most
    SMALL_GRAPH_ROWS rows → UL, the main-arm flag, the outlet flag and
    the orders all run on the driver (_local.hack_orders, recorded as an
    upstream_length and a hack_order local call); above it, and for
    'rounds', the plan below reads the pinned gate input."""
    rows, tagged = _local.collect_small(
        _local.hack_input(edges_nodes, outlet_nodes, key, len_col),
        algorithm in ("auto", "contract", "_local_or_rounds"))
    if rows is not None:
        if metrics is not None:
            n_e = int((~rows["is_outlet"]).sum())
            metrics.add(op="upstream_length", mode="local", edges=n_e)
            metrics.add(op="hack_order", mode="local", edges=n_e)
        hack = edges_nodes.sparkSession.createDataFrame(
            _local.hack_orders(rows, key), f"{key} string, HACK int")
        return edges_nodes.join(hack, key, "left")
    edges = tagged.filter(~F.col("is_outlet")).drop("is_outlet")
    outlet_nodes = tagged.filter(F.col("is_outlet")) \
                         .select(F.col("NODEB").alias("node"))
    ul = upstream_length(edges, key, "_len", max_iter, metrics)
    e = edges.select(key, "NODEA", "NODEB").join(ul, key)
    # main-stem flag: among edges sharing NODEB (a junction's upstream arms),
    # the one with max UL continues the parent's order
    best_up = (
        e.groupBy("NODEB")
        .agg(F.max(F.struct(F.col("UL"), F.col(key))).alias("_b"))
        .select("NODEB", F.col(f"_b.{key}").alias("_main_key"))
    )
    e = e.join(best_up, "NODEB", "left").select(
        key, "NODEA", "NODEB",
        (F.col(key) == F.col("_main_key")).alias("_is_main"),
    ).localCheckpoint(eager=False)
    n_e = e.count()
    if (algorithm in ("auto", "contract")
            and (algorithm == "contract"
                 or _passthrough_fraction(e, "NODEA", "NODEB", n_e,
                                          outlet_nodes)
                 >= MIN_CHAIN_FRACTION)):
        # contract chains, breaking them at outlet nodes so an outlet edge
        # is always a chain tail (members downstream of an outlet edge
        # must stay unordered, exactly as in the round loop)
        chained = _chained_with_buckets(e, key, exclude_nodes=outlet_nodes) \
            .localCheckpoint()
        span = _chain_span(chained, key)
        tails = chained.filter(F.col(key) == F.col("chain_id")) \
                       .select("chain_id", F.col("_is_main").alias("t_main"))
        super_e = (
            span.join(tails, "chain_id")
            .select(F.col("chain_id").alias(key),
                    F.col("_head_a").alias("NODEA"),
                    F.col("_tail_b").alias("NODEB"),
                    F.col("t_main").alias("_is_main"))
        ).localCheckpoint()
        n_s = super_e.count()
        if metrics is not None:
            metrics.add(op="hack_order", mode="contract", edges=n_e,
                        super_edges=n_s)
        hs = _hack_propagate(super_e, outlet_nodes, key, n_s, max_iter,
                             metrics)
        member_hack = (
            chained.select(key, "chain_id")
            .join(hs.withColumnRenamed(key, "chain_id"), "chain_id")
            .select(key, "HACK")
        )
        return edges_nodes.join(member_hack, key, "left")
    if metrics is not None and algorithm == "auto":
        metrics.add(op="hack_order", mode="rounds_chainpoor", edges=n_e)
    hack = _hack_propagate(e, outlet_nodes, key, n_e, max_iter, metrics)
    return edges_nodes.join(hack, key, "left")


def strahler_order(edges_nodes: DataFrame, key: str = "url",
                   max_iter: int = 500,
                   metrics: TraversalMetrics | None = None,
                   algorithm: str = "auto") -> DataFrame:
    """G7 ~ fct:strahlerorder (create_5m_width_hydro_network.py:289-296):
    leaves = 1; an edge whose upstream arms are all ordered gets
    max(up) + (1 if the max occurs ≥2 times else 0). Bottom-up fixpoint.

    algorithm 'auto': on the driver at most SMALL_GRAPH_ROWS edges; above
    it the fixpoint runs on the degree-2-contracted junction graph —
    Strahler is CONSTANT along a chain (one upstream arm at every interior
    node, so max+0 propagates unchanged), so rounds scale with junction depth.
    Orders are integers — contraction equals the round loop exactly.
    'rounds' forces the literal per-level loop."""
    rows, e = _local.collect_small(
        edges_nodes.select(key, "NODEA", "NODEB"),
        algorithm in ("auto", "contract", "_local_or_rounds"))
    if rows is not None:
        # small-graph arm: topological Strahler pass on the driver
        if metrics is not None:
            metrics.add(op="strahler", mode="local", edges=len(rows))
        st = edges_nodes.sparkSession.createDataFrame(
            _local.strahler(rows, key), f"{key} string, STRAHLER int")
        return edges_nodes.join(st, key, "left")
    n_edges = e.count()
    if (algorithm in ("auto", "contract")
            and (algorithm == "contract"
                 or _passthrough_fraction(e, "NODEA", "NODEB", n_edges)
                 >= MIN_CHAIN_FRACTION)):
        chained = _chained_with_buckets(e, key).localCheckpoint()
        super_e = _chain_span(chained, key).select(
            F.col("chain_id").alias(key),
            F.col("_head_a").alias("NODEA"),
            F.col("_tail_b").alias("NODEB"),
        )
        if metrics is not None:
            metrics.add(op="strahler", mode="contract", edges=n_edges,
                        super_edges=super_e.count())
        ss = strahler_order(super_e, key, max_iter, metrics,
                            algorithm="_local_or_rounds")
        member = (
            chained.select(key, "chain_id")
            .join(ss.select(F.col(key).alias("chain_id"), "STRAHLER"),
                  "chain_id")
            .select(key, "STRAHLER")
        )
        return edges_nodes.join(member, key, "left")
    if metrics is not None and algorithm == "auto":
        metrics.add(op="strahler", mode="rounds_chainpoor", edges=n_edges)
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    # leaves: no upstream edge ends at my NODEA
    strahler = slots.checkpoint(
        e.join(e.select(F.col("NODEB").alias("NODEA")), "NODEA", "left_anti")
        .select(key, F.lit(1).alias("STRAHLER")),
        "strahler",
    )
    done = strahler.count()
    with loop_profile(e, n_edges):
        for i in range(max_iter):
            if done >= n_edges:
                break
            # upstream arms of edge x = edges u with u.NODEB == x.NODEA
            up = e.select(F.col(key).alias("_ukey"), F.col("NODEB").alias("NODEA"))
            arms = (
                e.join(strahler, key, "left_anti")  # only unordered edges
                .join(up, "NODEA")
                .join(strahler.select(F.col(key).alias("_ukey"),
                                      F.col("STRAHLER").alias("_uord")),
                      "_ukey", "left")
            )
            ready = (
                arms.groupBy(key)
                .agg(
                    F.count("*").alias("_n"),
                    F.count("_uord").alias("_n_ordered"),
                    F.collect_list("_uord").alias("_arr"),
                )
                .filter(F.col("_n") == F.col("_n_ordered"))  # all arms ordered
                .select(
                    key,
                    (
                        F.array_max("_arr")
                        + F.when(
                            F.size(F.filter("_arr",
                                            lambda v: v == F.array_max("_arr"))) >= 2,
                            1,
                        ).otherwise(0)
                    ).alias("STRAHLER"),
                )
            )
            # checkpoint BEFORE counting: counting `ready` directly would
            # compute it once uncached for the count and AGAIN for the
            # union. Slot checkpoint (_ckpt.py) frees the superseded round;
            # reassign BEFORE the break so the returned frame is the live
            # checkpoint (n_new == 0 ⟺ ready was empty ⟹ identical content)
            new_strahler = slots.checkpoint(strahler.union(ready), "strahler")
            new_done = new_strahler.count()
            n_new = new_done - done
            if metrics is not None:
                metrics.add(op="strahler", round=i, newly_ordered=n_new)
            strahler, done = new_strahler, new_done
            if n_new == 0:
                break
    return edges_nodes.join(strahler, key, "left")


def prune_slivers(edges_nodes: DataFrame, key: str = "url",
                  len_col: str = "len",
                  small_segment_filter: float = 500.0,
                  exutoire_stream_min_length: float = 10_000.0) -> DataFrame:
    """G8 ~ sliver pruning (create_5m_width_hydro_network.py:298-359):
    (a) J3: drop STRAHLER-1 edges ≤ small_segment_filter whose NODEB is the
        NODEA of a STRAHLER ≥ 3 edge (short first-order stub into a big
        river — replaces the reference's O(N·M) list comprehension);
    (b) J4: drop isolated rank-1 edges ≤ exutoire_stream_min_length whose
        NODEA never appears as a NODEB and whose NODEB never appears as a
        NODEA (nothing upstream, nothing downstream).
    Expects a STRAHLER column (strahler_order output)."""
    s3 = edges_nodes.filter(F.col("STRAHLER") >= 3) \
                    .select(F.col("NODEA").alias("NODEB"))
    sliver_confluence = (
        edges_nodes.filter((F.col("STRAHLER") == 1)
                           & (F.col(len_col) <= small_segment_filter))
        .join(s3, "NODEB", "left_semi")
        .select(key)
    )
    others_b = edges_nodes.select(F.col("NODEB").alias("NODEA"))
    others_a = edges_nodes.select(F.col("NODEA").alias("NODEB"))
    isolated = (
        edges_nodes.filter((F.col("STRAHLER") == 1)
                           & (F.col(len_col) <= exutoire_stream_min_length))
        .join(others_b, "NODEA", "left_anti")
        .join(others_a, "NODEB", "left_anti")
        .select(key)
    )
    drop = sliver_confluence.union(isolated).distinct()
    return edges_nodes.join(drop, key, "left_anti")


def subtree_counts(edges_nodes: DataFrame, key: str = "url",
                   max_iter: int = 500,
                   metrics: TraversalMetrics | None = None,
                   algorithm: str = "auto") -> DataFrame:
    """Edges drained through each edge, itself included: s(e) = 1 +
    Σ s(u) over upstream edges u (u.NODEB == e.NODEA). The integer
    sibling of upstream_length (sum of ALL arms, not the max arm) —
    the drainage-accumulation primitive (catchment edge counts, tree
    betweenness, contributing-area proxies). All-integer → bit-exact.

    algorithm: 'auto' → topological pass on the driver at most
    SMALL_GRAPH_ROWS edges (_local.subtree), else bounded-round
    bottom-up fixpoint (rounds ~ network depth; the +1-per-step affine
    recurrence along degree-2 chains is contraction-friendly exactly
    like _upstream_contract, so the O(junction-depth) path applies at
    scale). Returns (key, SUB).
    """
    rows, e = _local.collect_small(
        edges_nodes.select(key, "NODEA", "NODEB"), algorithm == "auto")
    if rows is not None:
        if metrics is not None:
            metrics.add(op="subtree_counts", mode="local", edges=len(rows))
        return edges_nodes.sparkSession.createDataFrame(
            _local.subtree(rows, key), f"{key} string, SUB long")
    n_e = e.count()
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    s = slots.checkpoint(
        e.select(key, "NODEA", "NODEB",
                 F.lit(1).cast("long").alias("SUB")), "sub")

    def _sig(df: DataFrame):
        r = df.select(
            F.expr(f"bit_xor(xxhash64({key}, SUB))").alias("h")).first()
        return r["h"]

    sig = _sig(s)
    with loop_profile(e, n_e):
        for i in range(max_iter):
            up_sum = (s.groupBy("NODEB").agg(F.sum("SUB").alias("_up"))
                      .withColumnRenamed("NODEB", "NODEA"))
            new_s = slots.checkpoint(
                e.join(up_sum, "NODEA", "left")
                .withColumn("SUB", F.lit(1).cast("long")
                            + F.coalesce("_up", F.lit(0).cast("long")))
                .drop("_up"),
                "sub")
            new_sig = _sig(new_s)
            if metrics is not None:
                metrics.add(op="subtree_counts", round=i)
            s = new_s
            if new_sig == sig:
                break
            sig = new_sig
    return s.select(key, "SUB")


def tree_edge_betweenness(edges_nodes: DataFrame, key: str = "url",
                          metrics: TraversalMetrics | None = None
                          ) -> DataFrame:
    """EXACT edge betweenness on a forest: within a tree every node
    pair has one path, so the pairs crossing edge e number
    s·(n − s) with s = nodes below e (== subtree edge count, each edge
    owning its child node) and n = the tree's node count (edges + 1).
    Closed form beats path counting: two O(log)-round passes
    (subtree_counts + connected_components) instead of an
    all-pairs walk — the difference between feasible and not at crawl
    scale. All-integer. Returns (key, sub_nodes, n_nodes, betweenness).
    """
    from .graph import connected_components

    e = (edges_nodes.select(key, "NODEA", "NODEB")
         .localCheckpoint(eager=False))
    s = subtree_counts(e, key, metrics=metrics)
    adj = (e.select(F.col("NODEA").alias("node"),
                    F.col("NODEB").alias("nbr"))
           .union(e.select(F.col("NODEB").alias("node"),
                           F.col("NODEA").alias("nbr"))))
    comp = connected_components(adj, metrics=metrics)
    sized = (e.join(comp.withColumnRenamed("node", "NODEA"), "NODEA")
             .groupBy("l").agg(F.count("*").alias("_n_edges")))
    return (e.join(comp.withColumnRenamed("node", "NODEA"), "NODEA")
            .join(sized, "l")
            .join(s, key)
            .select(key, F.col("SUB").alias("sub_nodes"),
                    (F.col("_n_edges") + 1).cast("long").alias("n_nodes"),
                    (F.col("SUB") * (F.col("_n_edges") + 1 - F.col("SUB")))
                    .cast("long").alias("betweenness")))


def tree_closeness(edges_nodes: DataFrame, key: str = "url",
                   max_iter: int = 500,
                   metrics: TraversalMetrics | None = None) -> DataFrame:
    """EXACT closeness sums S(v) = Σ_u dist(v, u) for every node of a
    forest, without any all-pairs walk: the classic rerooting identity

        S(root)  = Σ_edges SUB(e)      (sum of subtree sizes = Σ depths)
        S(child) = S(parent) + n − 2·SUB(child's edge)

    turns all-pairs distances into subtree_counts (O(junction-depth)
    rounds) + one top-down propagation. All-integer → bit-exact.
    Rounds join the FIXED edge frame against a linearly-growing known
    frontier, so checkpoints alone suffice (no stats squaring).
    Returns (node, closeness_sum)."""
    from ._ckpt import CheckpointSlots
    from .graph import connected_components

    e = (edges_nodes.select(key, "NODEA", "NODEB")
         .localCheckpoint(eager=False))
    es = (e.join(subtree_counts(e, key, metrics=metrics), key)
          .select("NODEA", "NODEB", "SUB")
          .localCheckpoint(eager=False))
    adj = (e.select(F.col("NODEA").alias("node"),
                    F.col("NODEB").alias("nbr"))
           .union(e.select(F.col("NODEB").alias("node"),
                           F.col("NODEA").alias("nbr"))))
    comp = connected_components(adj, metrics=metrics)  # (node, l)
    info = (es.join(comp.withColumnRenamed("node", "NODEA"), "NODEA")
            .groupBy("l")
            .agg((F.count("*") + 1).cast("long").alias("_n"),
                 F.sum("SUB").cast("long").alias("_s_root")))
    roots = (e.select(F.col("NODEB").alias("node")).distinct()
             .join(e.select(F.col("NODEA").alias("node")).distinct(),
                   "node", "left_anti"))
    slots = CheckpointSlots()
    s = slots.checkpoint(
        roots.join(comp, "node").join(info, "l")
        .select("node", "l", F.col("_s_root").alias("S"), "_n"), "cl")
    for i in range(max_iter):
        frontier = (es.join(
            s.select(F.col("node").alias("NODEB"),
                     F.col("S").alias("_ps"), "l", "_n"), "NODEB")
            .select(F.col("NODEA").alias("node"), "l",
                    (F.col("_ps") + F.col("_n") - 2 * F.col("SUB"))
                    .alias("S"), "_n")
            .join(s.select("node"), "node", "left_anti"))
        frontier = slots.checkpoint(frontier, "fr")
        if metrics is not None:
            metrics.add(op="tree_closeness", round=i)
        if not frontier.take(1):
            break
        s = slots.checkpoint(s.unionByName(frontier), "cl")
    return s.select("node", F.col("S").cast("long")
                    .alias("closeness_sum"))
