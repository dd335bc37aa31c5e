"""A3 — aggregate stream segments (fct:aggregatestreamsegments,
create_connected_reference_hydro.py:241-249 and
create_5m_width_hydro_network.py:365-373): merge consecutive reaches between
junctions (nodes of degree ≠ 2) into single segments.

Physical plan: successor pointers through pass-through nodes → pointer
jumping (log₂(chain length) self-join rounds, checkpointed) to label every
edge with its chain root → groupBy(chain) + applyInPandas to stitch
geometry in order. No driver-side traversal; chains of any count collapse
in O(log L) rounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import udfs as U
from . import _local
from .graph import TraversalMetrics, loop_profile


def _chain_roots(e: DataFrame, key: str, max_rounds: int = 64,
                 exclude_nodes: DataFrame | None = None,
                 metrics: TraversalMetrics | None = None) -> DataFrame:
    """Label each edge with the key of the last edge of its chain.

    successor(e) = unique edge f with f.NODEA == e.NODEB, valid only when
    e.NODEB is a pass-through node (in-degree 1 and out-degree 1).
    exclude_nodes('node') forces those nodes to be treated as junctions —
    chains break there (distance contraction excludes outlet nodes so an
    outlet never disappears inside a chain)."""
    indeg = e.groupBy("NODEB").agg(F.count("*").alias("_in"))
    outdeg = e.groupBy("NODEA").agg(F.count("*").alias("_out"))
    passthrough = (
        indeg.join(outdeg, indeg.NODEB == outdeg.NODEA)
        .filter((F.col("_in") == 1) & (F.col("_out") == 1))
        .select(F.col("NODEB").alias("node"))
    )
    if exclude_nodes is not None:
        passthrough = passthrough.join(exclude_nodes.select("node"), "node",
                                       "left_anti")
    nxt = (
        e.select(F.col(key).alias("k"), F.col("NODEB").alias("node"))
        .join(passthrough, "node", "left_semi")
        .join(e.select(F.col(key).alias("nk"), F.col("NODEA").alias("node")),
              "node")
        .select("k", "nk")
    )
    ptr = (
        e.select(F.col(key).alias("k"))
        .join(nxt, "k", "left")
        .withColumn("p", F.coalesce("nk", "k"))
        .select("k", "p")
    )
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in ptr.schema.fields)
    rows, ptr = _local.collect_small(ptr)
    if rows is not None:
        # small-graph arm: pointer chase on the driver (equality with the
        # jumping loop asserted in tests)
        if metrics is not None:
            metrics.add(op="chain_roots", mode="local", edges=len(rows))
        out = e.sparkSession.createDataFrame(_local.chain_roots(rows), schema)
        return out.select(F.col("k").alias(key), F.col("p").alias("chain_id"))
    from ._ckpt import CheckpointSlots

    # the pinned gate input is the first jump state: the first jump frees it
    slots = CheckpointSlots()
    ptr = slots.hold(ptr, "ptr")
    n_ptr = ptr.count()
    if metrics is not None:
        metrics.add(op="chain_roots", mode="jump", edges=n_ptr)

    def _sig(df: DataFrame):
        # order-independent state fingerprint — one aggregate beats a
        # join-against-previous-state convergence check per round
        return df.select(F.expr("bit_xor(xxhash64(k, p))").alias("h")).first()["h"]

    sig = _sig(ptr)
    with loop_profile(ptr, n_ptr):
        for _ in range(max_rounds):
            # slot checkpoint frees the superseded jump round (_ckpt.py)
            jumped = slots.checkpoint(
                ptr.alias("a")
                .join(ptr.select(F.col("k").alias("p"),
                                 F.col("p").alias("pp")).alias("b"), "p")
                .select("k", F.col("pp").alias("p")),
                "ptr",
            )
            new_sig = _sig(jumped)
            ptr = jumped
            if new_sig == sig:
                break
            sig = new_sig
    return ptr.select(F.col("k").alias(key), F.col("p").alias("chain_id"))


_AGG_SCHEMA = T.StructType(
    [
        T.StructField("GID", T.StringType()),
        T.StructField("geom_wkb", T.BinaryType()),
        T.StructField("NODEA", T.LongType()),
        T.StructField("NODEB", T.LongType()),
        T.StructField("LENGTH", T.DoubleType()),
        T.StructField("n_reaches", T.IntegerType()),
        T.StructField("first_url", T.StringType()),
    ]
)


def _merge_chain_fn(key: str):
    def _merge_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        # worker-side import keeps the UDF payload picklable
        from ..geom.wkb import linestring_wkb, parse_wkb

        rows = list(pdf.to_dict("records"))
        by_a = {r["NODEA"]: r for r in rows}
        dsts = set(pdf["NODEB"])
        heads = [r for r in rows if r["NODEA"] not in dsts]
        # cyclic chain (ring): fall back to deterministic smallest-key head
        cur = heads[0] if heads else min(rows, key=lambda r: r[key])
        coords, total, n, first_key = [], 0.0, 0, cur[key]
        node_a = cur["NODEA"]
        node_b = cur["NODEB"]
        while cur is not None and n < len(rows):
            _, arr = parse_wkb(cur["geom_wkb"])
            seg = np.asarray(arr)
            d = np.sqrt(((seg[1:] - seg[:-1]) ** 2).sum(axis=1))
            # reduceat is the repo's canonical length reduction (see
            # geom/kernels.py:geom_length) — keeps stitched chains and the
            # JVM single-edge fast path (st_length) bit-identical
            total += float(np.add.reduceat(d, np.array([0]))[0])
            coords.append(seg if not coords else seg[1:])
            node_b = cur["NODEB"]
            n += 1
            cur = by_a.get(node_b)
            if cur is not None and cur["NODEA"] == node_a:
                break
        merged = np.vstack(coords)
        return pd.DataFrame(
            [
                {
                    "GID": str(pdf["chain_id"].iloc[0]),
                    "geom_wkb": linestring_wkb(merged),
                    "NODEA": int(node_a),
                    "NODEB": int(node_b),
                    "LENGTH": total,
                    "n_reaches": n,
                    "first_url": first_key,
                }
            ]
        )

    return _merge_chain


N_CHAIN_BUCKETS = 64


def aggregate_segments(edges_nodes: DataFrame, key: str = "url",
                       geom_col: str = "geom_wkb") -> DataFrame:
    """Collapse degree-2 chains into single segments. Returns one row per
    chain: GID (chain id), stitched geom_wkb, chain NODEA/NODEB, LENGTH,
    n_reaches, first_url (upstream-most reach key, for J8 attribute
    re-join).

    Physical split by chain size: after principal-stem pruning most
    "chains" are a single edge (93% on the sf fixtures; junction-dense
    river networks generally), and for those the stitch is an identity —
    so single-edge chains with canonical engine WKB (little-endian
    LineString, the only encoding this module emits — geom/wkb.py header
    contract) are projected entirely JVM-side: geometry passthrough
    (parse→re-encode is byte-identity for canonical WKB), vectorized
    st_length (reduceat — the same fold the stitch uses), literal
    n_reaches=1. Only true multi-edge chains shuffle their geometry
    payload into N_CHAIN_BUCKETS hash buckets for one applyInPandas call
    per bucket (a pandas groupby loops the chains inside; grouping
    directly on chain_id costs a per-group Arrow round trip for every
    tiny chain — measured 8.2s → ~1s for 1.6k chains, and the
    single-edge split removes the remaining per-chain pandas overhead:
    3.5s → ~0.4s for 1.8k chains at sf0.1). Chain sizes are counted on
    the narrow (key, chain_id) roots table, so no geometry bytes shuffle
    for the single-edge majority at all."""
    merge_one = _merge_chain_fn(key)

    def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [merge_one(g) for _, g in pdf.groupby("chain_id", sort=True)],
            ignore_index=True,
        )

    e = edges_nodes.select(key, geom_col, "NODEA", "NODEB")
    # pin roots (consumed by the sizes agg AND the chained join) and
    # chained (consumed by both the single- and multi-edge branches) —
    # without this each consumer replays the whole chain-roots plan
    roots = _chain_roots(e, key).localCheckpoint(eager=False)
    sizes = roots.groupBy("chain_id").agg(F.count("*").alias("_n"))
    chained = e.join(roots.join(sizes, "chain_id"), key) \
        .localCheckpoint(eager=False)
    # canonical little-endian LineString header: 01 02 00 00 00
    canonical = (
        F.col(geom_col).isNotNull()
        & (F.substring(geom_col, 1, 5) == F.lit(b"\x01\x02\x00\x00\x00"))
    )
    single = (F.col("_n") == 1) & canonical
    single_out = (
        chained.filter(single)
        .select(
            F.col("chain_id").cast("string").alias("GID"),
            F.col(geom_col).alias("geom_wkb"),
            "NODEA",
            "NODEB",
            U.st_length(geom_col).alias("LENGTH"),
            F.lit(1).cast("int").alias("n_reaches"),
            F.col(key).cast("string").alias("first_url"),
        )
    )
    multi_out = (
        chained.filter(~single)
        .withColumn("_bk", F.pmod(F.xxhash64("chain_id"), F.lit(N_CHAIN_BUCKETS)))
        .groupBy("_bk")
        .applyInPandas(_merge_bucket, _AGG_SCHEMA)
    )
    return single_out.unionByName(multi_out)


def kth_smallest_bisect(df, col: str, ks: list[int],
                        max_rounds: int = 70) -> dict[int, int]:
    """Exact k-th smallest elements (1-indexed ranks, duplicates
    counted) of an integer column WITHOUT a global sort: value-domain
    bisection. Invariant per rank k: answer ∈ [lo, hi]; each round
    probes mid = (lo+hi)//2 with a conditional count and keeps the
    half where count(v <= mid) first reaches k. All still-active
    ranks share ONE aggregation per round (one sum per distinct
    midpoint), and a count aggregation is map-side only — zero
    shuffle, so the whole selection is O(log range) cheap scans of a
    cached input instead of one full-sort exchange. The classic
    distributed selection trade: scans are embarrassingly parallel at
    any scale, sorts are not.

    Returns {k: value}. Ranks must satisfy 1 <= k <= count(df)."""
    src = df.select(F.col(col).alias("v")).cache()
    try:
        b = src.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
        state = {k: [int(b["lo"]), int(b["hi"])] for k in ks}
        for _ in range(max_rounds):
            active = {k: (lo + hi) // 2
                      for k, (lo, hi) in state.items() if lo < hi}
            if not active:
                break
            mids = sorted(set(active.values()))
            row = src.agg(*[
                F.sum(F.when(F.col("v") <= F.lit(m), 1).otherwise(0))
                .alias(f"c{i}") for i, m in enumerate(mids)]).first()
            cnt = {m: int(row[f"c{i}"]) for i, m in enumerate(mids)}
            for k, m in active.items():
                if cnt[m] >= k:
                    state[k][1] = m
                else:
                    state[k][0] = m + 1
        return {k: lo for k, (lo, hi) in state.items()}
    finally:
        src.unpersist()


def dense_index(df, order_col: str, *, out: str = "idx",
                num_partitions: int | None = None):
    """0-based dense row index in `order_col` order (values must be
    unique) WITHOUT a single-partition global window: range-repartition
    on the order column, per-partition row_number, then add each
    partition's cumulative predecessor count (one ≤#partitions-row
    collect, broadcast back). The distributed zipWithIndex, DataFrame-
    shaped — same two-level discipline as graph.prefix_scan_xor."""
    spark = df.sparkSession
    k = num_partitions or spark.sparkContext.defaultParallelism
    d = (df.repartitionByRange(k, F.col(order_col))
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    w = Window.partitionBy("_pid").orderBy(order_col)
    counts = {r["_pid"]: r["c"] for r in
              d.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    acc, offs = 0, []
    for pid in sorted(counts):
        offs.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offs or [(0, 0)],
                                   "_pid int, _off long")
    return (d.withColumn("_rn", F.row_number().over(w) - 1)
            .join(F.broadcast(off_df), "_pid", "left")
            .withColumn(out, (F.col("_rn")
                              + F.coalesce("_off", F.lit(0)))
                        .cast("long"))
            .drop("_pid", "_rn", "_off"))


def irv_rounds(prefs: DataFrame, *, ballot: str = "ballot",
               cand: str = "cand", rnk: str = "rnk") -> DataFrame:
    """Instant-runoff (ranked-choice) voting, round by round: each
    round counts every ballot's top choice among the surviving
    candidates (one groupBy-min + one count — rnk is unique per
    ballot so the top choice is deterministic), then eliminates the
    lowest-voted survivor (ties to the smaller candidate id, a ≤8-row
    driver decision). Candidates with zero first-choice votes still
    appear with votes = 0. Runs until one candidate survives;
    returns (round, cand, votes) for every round — the full
    elimination audit trail, not just the winner."""
    p = prefs.select(F.col(ballot).alias("b"), F.col(cand).alias("c"),
                     F.col(rnk).alias("r")).localCheckpoint(eager=False)
    cands = sorted(r["c"] for r in p.select("c").distinct().collect())
    spark = p.sparkSession
    if len(cands) <= 1:
        # degenerate ballots: a single (or no) candidate wins round 1
        # outright — emit the one-row audit trail instead of None
        rows = [(1, c,
                 p.where(F.col("c") == c).select("b").distinct().count())
                for c in cands]
        return spark.createDataFrame(rows,
                                     "round long, cand long, votes long")
    elim: list = []
    out = None
    rnd = 0
    while len(cands) - len(elim) > 1:
        rnd += 1
        alive = [c for c in cands if c not in elim]
        surv = p.where(F.col("c").isin(alive))
        fc = (surv.groupBy("b")
              .agg(F.min(F.struct("r", "c")).alias("m"))
              .select(F.col("m.c").alias("c")))
        counts = {r["c"]: r["n"] for r in
                  fc.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        spark = p.sparkSession
        round_rows = [(rnd, c, counts.get(c, 0)) for c in alive]
        rdf = spark.createDataFrame(round_rows,
                                    "round long, cand long, votes long")
        out = rdf if out is None else out.unionByName(rdf)
        loser = min(alive, key=lambda c: (counts.get(c, 0), c))
        elim.append(loser)
    return out


def prefix_scan_sum(df, *, t: str = "t", val: str = "m",
                    out: str = "p", num_partitions: int | None = None):
    """Distributed inclusive prefix-SUM over rows ordered by `t` —
    the additive sibling of graph.prefix_scan_xor, same two-level
    shape: range-repartition, per-partition running window, one
    ≤#partitions-row offset collect broadcast back. `t` values must
    be unique."""
    spark = df.sparkSession
    k = num_partitions or spark.sparkContext.defaultParallelism
    d = (df.repartitionByRange(k, F.col(t))
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    w = Window.partitionBy("_pid").orderBy(t) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tots = {r["_pid"]: r["_t"] for r in
            d.groupBy("_pid").agg(F.sum(val).alias("_t")).collect()}
    acc, offs = 0, []
    for pid in sorted(tots):
        offs.append((pid, acc))
        acc += tots[pid] if tots[pid] is not None else 0
    off_df = spark.createDataFrame(offs or [(0, 0)],
                                   "_pid int, _off long")
    return (d.withColumn("_run", F.sum(val).over(w))
            .join(F.broadcast(off_df), "_pid", "left")
            .withColumn(out, (F.col("_run")
                              + F.coalesce("_off", F.lit(0)))
                        .cast("long"))
            .drop("_pid", "_run", "_off"))
