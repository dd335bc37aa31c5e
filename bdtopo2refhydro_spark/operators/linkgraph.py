"""Link-graph analytics over a host/page graph (web-crawl flavored).

The reference's network operators (SURVEY §2 G1-G8, reference
``identify_network_nodes.py`` / ``create_exutoire.py``) walk a river
graph; a Common-Crawl-scale corpus has the same shape in its hyperlink
graph. This module holds the link-graph analytics a crawl pipeline
runs on that graph: PageRank/HITS-style centrality, k-core peeling,
label propagation, neighbourhood sampling and wedge-based pair counts
(co-citation, 2-hop, link prediction).

Everything is integer arithmetic (scaled fixed point, floor division)
so the DuckDB driver oracle reproduces bit-identical values — no float
sums whose order could differ between engines.

Scale notes (the part that must survive 100 TB):
- ``page_rank_int``: the edge table is the big static side. It is
  joined ONCE with out-weights, persisted, and each round costs exactly
  one equi-join against the (|nodes|-sized) rank table on ``src`` plus
  one shuffle for the groupBy on ``dst`` — the textbook distributed
  PageRank step. Rounds are a fixed small constant (crawl-rank style),
  not convergence-driven, so the plan is a bounded chain;
  ``localCheckpoint`` between rounds keeps Catalyst from inlining the
  whole unrolled loop into one exponential tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Fixed-point scale for integer PageRank: ranks start at RANK_SCALE and
# stay in the low millions, so rank * damping products stay far below
# 2^63 (ANSI-safe).
RANK_SCALE = 1_000_000


def page_rank_int(
    edges: DataFrame,
    *,
    rounds: int = 3,
    damping_pct: int = 85,
    scale: int = RANK_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Integer (fixed-point) PageRank over a weighted directed graph.

    rank_0(n) = scale for every node; each round
        rank_{i+1}(n) = base + SUM over in-edges (s -> n) of
            (((rank_i(s) * damping_pct) div 100) * w(s->n)) div outw(s)
    with base = (scale * (100 - damping_pct)) div 100 and
    outw(s) = total out-weight of s. All divisions are floor divisions
    on nonnegative BIGINTs, so the result is deterministic and exactly
    reproducible in any engine (dangling mass leaks, as in push-style
    crawl rank). Returns (node, rank) for every node.
    """
    src, dst, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    nodes = (
        edges.select(src.alias("node"))
        .unionByName(edges.select(dst.alias("node")))
        .distinct()
    )
    outw = edges.groupBy(src.alias("_s")).agg(F.sum(w).alias("outw"))
    ew = (
        edges.join(outw, edges[src_col] == outw["_s"])
        .select(src.alias("e_src"), dst.alias("e_dst"),
                w.cast("bigint").alias("e_w"), "outw")
    )
    # The edge side is reused every round: cut its lineage once so the
    # unrolled round plans stay linear in `rounds`.
    ew = ew.localCheckpoint(eager=False)
    nodes = nodes.localCheckpoint(eager=False)

    base = (scale * (100 - damping_pct)) // 100
    rank = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    contrib_expr = F.expr(
        f"(((rank * {damping_pct}) div 100) * e_w) div outw"
    ).alias("contrib")
    for _ in range(rounds):
        inflow = (
            ew.join(rank, ew["e_src"] == rank["node"])
            .select(F.col("e_dst").alias("node"), contrib_expr)
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        rank = nodes.join(inflow, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("bigint")
            .alias("rank"),
        )
    return rank


def anchor_aggregate(links: DataFrame, *, k: int = 3,
                     dst_col: str = "dst",
                     anchor_col: str = "anchor") -> DataFrame:
    """Aggregate anchor text per link target — the classic web-search
    signal (a page is what its in-links call it).

    Returns one row per target: (dst, n_links, n_anchors,
    top_anchors) where top_anchors is the k most frequent anchor
    strings, most-frequent first, ties broken lexicographically.

    Scale shape: the anchor strings are first reduced to
    (dst, anchor) → count with map-side partial aggregation (the raw
    link table — trillions of edges — collapses before the shuffle);
    the per-target top-k window then runs on the collapsed table whose
    size is Σ distinct anchors per target, and the final per-target
    rollup reuses the same (dst) partitioning. No anchor text ever
    moves more than once.
    """
    counts = (
        links.groupBy(dst_col, anchor_col)
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy(dst_col).orderBy(F.desc("cnt"),
                                            F.asc(anchor_col))
    ranked = counts.withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy(dst_col).agg(
        F.sum("cnt").alias("n_links"),
        F.count("*").cast("bigint").alias("n_anchors"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(
                    F.when(F.col("_rn") <= k,
                           F.struct("_rn", anchor_col)))),
                lambda s: s[anchor_col],
            ),
            "\x1f",
        ).alias("top_anchors"),
    )


def hits_int(
    edges: DataFrame,
    *,
    rounds: int = 2,
    scale: int = RANK_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg hubs/authorities) over a
    weighted directed graph, bounded rounds — the hub/authority dual of
    `page_rank_int` with the same exact-replay contract.

    hub_0(n) = scale; each round
        auth_raw(n) = SUM over in-edges  (s -> n) of hub(s)  * w
        auth(n)     = (auth_raw(n) * scale) div max(auth_raw)
        hub_raw(n)  = SUM over out-edges (n -> d) of auth(d) * w
        hub(n)      = (hub_raw(n) * scale) div max(hub_raw)

    Max-normalizing each half-step with a floor division keeps every
    value a deterministic integer function of the edge multiset (no
    float L2 norms), so an unrolled SQL CTE chain with a scalar
    MAX subquery replays it bit-for-bit. ANSI-safe while a node's
    weighted in/out degree stays under 2^63 / scale^2 (~9.2e6 total
    edge weight per node at the default scale). Nodes missing a side
    carry 0 for it. Returns (node, hub, auth) for every node.
    """
    src, dst, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    nodes = (
        edges.select(src.alias("node"))
        .unionByName(edges.select(dst.alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = edges.select(
        src.alias("e_src"), dst.alias("e_dst"), w.cast("bigint").alias("e_w")
    ).localCheckpoint(eager=False)

    def _norm(raw: DataFrame, val: str, out: str) -> DataFrame:
        mx = raw.agg(F.greatest(F.max(val), F.lit(1)).alias("_mx"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"(coalesce({val}, 0) * {scale}) div _mx")
                .cast("bigint").alias(out),
            )
        )

    hub = nodes.select("node", F.lit(scale).cast("bigint").alias("hub"))
    auth = None
    for _ in range(rounds):
        araw = (
            e.join(hub, e["e_src"] == hub["node"])
            .select(F.col("e_dst").alias("node"),
                    (F.col("hub") * F.col("e_w")).alias("c"))
            .groupBy("node").agg(F.sum("c").alias("ar"))
        )
        auth = _norm(araw, "ar", "auth")
        hraw = (
            e.join(auth, e["e_dst"] == auth["node"])
            .select(F.col("e_src").alias("node"),
                    (F.col("auth") * F.col("e_w")).alias("c"))
            .groupBy("node").agg(F.sum("c").alias("hr"))
        )
        hub = _norm(hraw, "hr", "hub")
    return hub.join(auth, "node")


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3,
               src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Bounded-round k-core peeling over the undirected link graph —
    the classic link-farm / spam-cluster signal (a dense core survives
    peeling; organic periphery doesn't).

    Each round removes every node whose current degree is < k, then
    drops edges touching removed nodes; after ``rounds`` rounds the
    survivors and their residual degrees are returned as
    (node, degree). Rounds are a fixed constant (crawl-rank style, like
    ``page_rank_int``), NOT convergence-driven — the driver oracle
    replays the identical unrolled rounds, and production picks rounds
    ≈ log(graph diameter) since each peel is a full pass.

    Scale shape: one round = one groupBy(degree) shuffle + two
    broadcast-or-shuffle semi-joins against the (node-sized) keep set;
    the edge table is localCheckpointed each round so Catalyst never
    inlines the unrolled loop into an exponential tree (the same guard
    as page_rank_int). Self-loops are dropped, parallel edges collapse
    before the first count.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"),
                                  F.col(src_col).alias("b")))
        .filter(F.col("a") != F.col("b"))  # AFTER the union: a reversed
        .distinct()                        # self-loop is still a self-loop
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        keep = (
            sym.groupBy("a").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        sym = (
            sym.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        sym.groupBy("a").agg(F.count("*").cast("bigint").alias("degree"))
        .select(F.col("a").alias("node"), "degree")
    )


def cocitation_pairs(
    edges: DataFrame,
    *,
    min_common: int = 2,
    cap: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Co-citation similarity over the link graph: pairs of sources
    that point at >= ``min_common`` common targets (the classic
    "related pages" signal; transposed it is bibliographic coupling).

    Output: (a, b, common) with a < b, common = number of shared
    distinct targets counted over the capped per-target source lists.

    Scale shape: the naive form is a self-join of the edge list on
    ``dst`` — quadratic in the in-degree of hot targets (a page linked
    by 10M hosts would emit 10^14 pairs). The standard fix is applied
    here: per target, sources are ranked deterministically (ascending)
    and only the first ``cap`` participate in pair generation, bounding
    the per-target fan-out at cap^2 rows while keeping every pair among
    low-in-degree targets exact (hot targets contribute capped,
    deterministic evidence — they carry little similarity signal
    anyway, the same reasoning as stopword removal). One shuffle ranks
    per dst, the wedge join shares that dst partitioning, and the final
    pair count is a map-side-combinable groupBy.
    """
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).filter(F.col(src_col) != F.col(dst_col)).distinct()
    w = Window.partitionBy("d").orderBy("s")
    ranked = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("d", "s")
    ).localCheckpoint(eager=False)  # defeat projection collapse in self-join
    pairs = (
        ranked.alias("l")
        .join(ranked.alias("r"), "d")
        .filter(F.col("l.s") < F.col("r.s"))
        .select(F.col("l.s").alias("a"), F.col("r.s").alias("b"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )


def sample_neighbors(edges: DataFrame, *, fanout: int = 3, hops: int = 2,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling: per node, keep
    the ``fanout`` neighbors with the smallest md5-derived rank, then
    expand ``hops`` times — the training-data operator that turns a
    full link graph into bounded per-seed neighborhoods for GNN
    mini-batches. Deterministic (hash rank, not RNG): resumes and
    reruns sample identical neighborhoods, and the oracle replays it.

    Output: (seed, hop, node) — hop 1..hops, nodes deduped per
    (seed, hop). Frontier size is bounded by fanout^hop per seed, so
    the per-hop join fan-out is a constant factor of the seed count —
    never degree-driven (a celebrity node contributes at most
    ``fanout`` rows to any frontier).

    Scale shape: the ranked edge table is computed ONCE (one shuffle on
    src + a window), localCheckpoint'd, and every hop is an equi-join
    of the (bounded) frontier against it."""
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("d")).distinct()
    rnk = F.expr(
        "pmod(cast(conv(substr(md5(concat(s, chr(31), d)), 1, 15), 16, 10) "
        "as bigint), 2147483647)")
    w = Window.partitionBy("s").orderBy(rnk.asc(), F.col("d").asc())
    sampled = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= fanout)
        .select("s", "d")
    ).localCheckpoint(eager=False)
    seeds = sampled.select(F.col("s").alias("seed")).distinct()
    frontier = seeds.withColumn("node", F.col("seed"))
    out = None
    for hop in range(1, hops + 1):
        frontier = (
            frontier.join(sampled, frontier.node == sampled.s)
            .select("seed", F.col("d").alias("node")).distinct()
            .localCheckpoint(eager=False)
        )
        layer = frontier.select(
            "seed", F.lit(hop).cast("long").alias("hop"), "node")
        out = layer if out is None else out.unionByName(layer)
    return out


def label_propagation_int(
    edges: DataFrame,
    *,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection).

    The bounded-round community counterpart of ``page_rank_int``: every
    node starts labelled with itself; each round it adopts the label
    carrying the largest total incident edge weight among its
    neighbours, ties broken by the lexicographically smallest label.
    Deterministic (no RNG, no float scores) and exactly replayable as
    an unrolled SQL chain, like the other fixed-round graph analytics
    here. Reference parity: the round structure mirrors the reference's
    iterative connectivity passes (``fix_network_connectivity.py``)
    re-expressed as label spread instead of admission.

    Scale: each round is one equi-join of the (|nodes|-sized) label
    table against the static bidirectional edge table plus one
    (node, label) aggregation and one per-node top-1 window — the same
    shuffle budget as a PageRank round. ``rounds`` is a small constant,
    and the edge side's lineage is cut once so round plans stay linear.
    Returns (node, label).
    """
    src, dst, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    und = (
        edges.select(src.alias("a"), dst.alias("b"), w.alias("w"))
        .unionByName(edges.select(dst.alias("a"), src.alias("b"),
                                  w.alias("w")))
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    top = Window.partitionBy("node").orderBy(
        F.col("lw").desc(), F.col("label").asc())
    for _ in range(rounds):
        labels = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.sum("w").alias("lw"))
            .withColumn("rn", F.row_number().over(top))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


def two_hop_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Distinct friends-of-friends counts over the undirected graph:
    for every node, the number of distinct nodes at distance exactly 2
    (reachable through a neighbour, not a neighbour itself, not self).

    The classic link-expansion primitive (crawl frontier growth,
    recommendation candidates). Shape: one wedge self-join on the
    shared middle node, a distinct, and one anti-join against the
    direct-edge set — never a cartesian. Returns (node, n_two_hop)
    for nodes with at least one 2-hop neighbour.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(src.alias("a"), dst.alias("b"))
        .unionByName(edges.select(dst.alias("a"), src.alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    pairs = (
        und.select(F.col("a").alias("x"), F.col("b").alias("mid"))
        .join(und.select(F.col("a").alias("mid"), F.col("b").alias("y")),
              "mid")
        .select("x", "y")
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    two = pairs.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"], "left_anti")
    return two.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_two_hop"))


def link_prediction(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor link prediction over the undirected graph:
    for every NON-adjacent pair (x < y) sharing >= ``min_common``
    neighbours, emit the common-neighbour count plus the exact Jaccard
    of the two neighbourhoods as an integer numerator/denominator pair
    (jac_num = |N(x) ∩ N(y)|, jac_den = |N(x) ∪ N(y)| =
    deg(x) + deg(y) − cn) — all-integer so an oracle replays it
    bit-for-bit; callers divide at presentation time.

    The candidate-recommendation primitive of crawl/feed pipelines.
    Shape: ONE wedge self-join on the shared middle node (x < y halves
    the pair space), a per-pair count, one broadcastable degree join per
    side, and a left_anti against the direct-edge set. Never a
    cartesian; text/payloads never enter the shuffle.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(src.alias("a"), dst.alias("b"))
        .unionByName(edges.select(dst.alias("a"), src.alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"))
    cn = (
        und.select(F.col("a").alias("x"), F.col("b").alias("mid"))
        .join(und.select(F.col("a").alias("mid"), F.col("b").alias("y")),
              "mid")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
        .filter(F.col("cn") >= min_common)
    )
    non_adj = cn.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"], "left_anti")
    return (
        non_adj
        .join(deg.select(F.col("node").alias("x"),
                         F.col("deg").alias("deg_x")), "x")
        .join(deg.select(F.col("node").alias("y"),
                         F.col("deg").alias("deg_y")), "y")
        .select(
            "x", "y", "cn", "deg_x", "deg_y",
            F.col("cn").alias("jac_num"),
            (F.col("deg_x") + F.col("deg_y") - F.col("cn"))
            .cast("bigint").alias("jac_den"),
        )
    )


def degree_assortativity_moments(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree-assortativity moments of the undirected graph — the five
    exact BIGINT sums Newman's r is a closed-form function of: over
    every edge endpoint-pair (j, k) = (deg(u), deg(v)) counted in both
    directions, m = pair count, s_j = Σj, s_jk = Σj·k, s_j2 = Σj²
    (symmetric, so Σk mirrors Σj). r = (m·s_jk − s_j²) /
    (m·s_j2 − s_j²) at presentation time; keeping the moments integer
    makes the result bit-replayable and MERGEABLE across shards.

    Shape: one degree table (|V|-sized, broadcastable) joined onto each
    edge endpoint, then ONE full aggregate — no quadratic step.
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"),
                                  F.col(src_col).alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"))
    pairs = (
        und.join(deg.select(F.col("node").alias("a"),
                            F.col("deg").alias("j")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("k")), "b")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("j").cast("bigint").alias("s_j"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("s_jk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("s_j2"))


def random_walks(edges: DataFrame, *, steps: int = 3,
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """DeepWalk-style walk corpus with DETERMINISTIC pseudo-random
    steps: from every node, walk ``steps`` hops where the next node is
    the out-neighbor minimizing an md5-derived rank of (step, current,
    neighbor) — the graph-embedding training-data generator (walks →
    skip-grams → embeddings), made replayable: no RNG state, so a rerun
    or a resumed job emits bit-identical walks and a SQL oracle can
    replay every step (cf. sample_neighbors' hash-rank discipline).

    Ties broken by (rank, neighbor), so determinism never rests on an
    md5-prefix non-collision. Dead-end walks simply stop (no
    self-loop padding).

    Scale shape: one walk per start node, each step ONE equi-join of
    the (start, cur) frontier — |nodes| rows, never degree-driven —
    against the distinct edge table plus one per-start row_number.
    Returns (start, step, node), step 1..steps.
    """
    e = (edges.select(F.col(src_col).alias("s"),
                      F.col(dst_col).alias("d"))
         .distinct().localCheckpoint(eager=False))
    walk = (e.select(F.col("s").alias("start")).distinct()
            .withColumn("cur", F.col("start")))
    outs = []
    for step in range(1, steps + 1):
        j = walk.join(e, walk.cur == e.s).withColumn(
            "rnk",
            F.expr(
                f"pmod(cast(conv(substr(md5(concat('{step}', chr(31), "
                "cur, chr(31), d)), 1, 15), 16, 10) as bigint), "
                "2147483647)"))
        w = Window.partitionBy("start").orderBy("rnk", "d")
        chosen = (j.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1)
                  .select("start", F.lit(step).cast("long").alias("step"),
                          F.col("d").alias("node")))
        outs.append(chosen)
        walk = chosen.select("start", F.col("node").alias("cur"))
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


def neighborhood_sum(nodes: DataFrame, edges: DataFrame, *,
                     rounds: int = 2, feat_col: str = "feat",
                     node_col: str = "node", src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """GNN message-passing forward pass with integer features: each
    round h(v) ← h(v) + Σ h(u) over in-edges (u→v) — the aggregation
    layer of a GCN/GraphSAGE step, kept in exact BIGINT so a
    distributed run, a resume, and a SQL replay all agree bitwise
    (sum-aggregation is the order-independent choice; mean needs a
    division that would leave the integers).

    Scale shape per round: ONE equi-join of the feature table against
    the edge list (shuffles two BIGINTs per edge) + one groupBy on dst
    with map-side partial sums — the PageRank shuffle budget with
    feature semantics. Returns (node, feat) after ``rounds`` rounds.
    """
    h = nodes.select(F.col(node_col).alias("node"),
                     F.col(feat_col).cast("long").alias("feat"))
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    for _ in range(rounds):
        msgs = (h.join(e, h.node == e.s)
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum("feat").alias("msg")))
        h = (h.join(msgs, "node", "left")
             .select("node",
                     (F.col("feat") + F.coalesce("msg", F.lit(0)))
                     .cast("long").alias("feat")))
    return h
