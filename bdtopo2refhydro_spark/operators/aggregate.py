"""A3 — aggregate stream segments (fct:aggregatestreamsegments,
create_connected_reference_hydro.py:241-249 and
create_5m_width_hydro_network.py:365-373): merge consecutive reaches between
junctions (nodes of degree ≠ 2) into single segments.

Physical plan, picked by the small-graph gate (operators/_local.py):
- driver arm (at most SMALL_GRAPH_ROWS edges): one bounded collect of
  (key, NODEA, NODEB, WKB bytes); degrees, successors and chain roots on
  the driver (_local.chain_roots). When the summed WKB bytes fit
  _local.payload_budget, a second collect brings the geometry and the
  driver stitches every chain (the same _merge_chain and st_length
  functions Spark runs, so bytes and lengths are identical); over the
  budget the (key, chain_id, size) labels go back as a literal and Spark
  stitches as below.
- distributed arm: successor pointers through pass-through nodes →
  pointer jumping (log₂(chain length) self-join rounds, checkpointed) to
  label every edge with its chain root → single-edge chains projected
  JVM-side, multi-edge chains stitched by groupBy(bucket) +
  applyInPandas. Chains of any count collapse in O(log L) rounds.
"""

from __future__ import annotations

from collections import Counter

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
    outlet never disappears inside a chain).

    One gate over (key, NODEA, NODEB) + the excluded nodes: the small arm
    derives successors and roots on the driver (_local.chain_roots —
    equality with the jumping loop asserted in tests); above it the
    pointer jumping reads the pinned gate input."""
    rows, tagged = _local.collect_small(
        _local.chain_input(e, key, exclude_nodes))
    if rows is not None:
        excl = rows["is_excl"].astype("bool")
        edges = rows.loc[~excl].reset_index(drop=True)
        if metrics is not None:
            metrics.add(op="chain_roots", mode="local", edges=len(edges))
        roots = _local.chain_roots(
            edges[key], edges["NODEA"], edges["NODEB"],
            {int(n) for n in rows.loc[excl, "NODEA"]})
        return e.sparkSession.createDataFrame(
            pd.DataFrame({key: edges[key],
                          "chain_id": pd.Series(roots, dtype=edges[key].dtype)}),
            _roots_schema(e, key))
    if exclude_nodes is not None:
        exclude_nodes = tagged.filter(F.col("is_excl")) \
                              .select(F.col("NODEA").alias("node"))
    return _jump_roots(tagged.filter(~F.col("is_excl")), key, tagged,
                       max_rounds, exclude_nodes, metrics)


def _roots_schema(e: DataFrame, key: str) -> T.StructType:
    kt = e.schema[key].dataType
    return T.StructType([T.StructField(key, kt),
                         T.StructField("chain_id", kt)])


def _jump_roots(e: DataFrame, key: str, pinned: DataFrame,
                max_rounds: int = 64,
                exclude_nodes: DataFrame | None = None,
                metrics: TraversalMetrics | None = None) -> DataFrame:
    """The distributed arm of _chain_roots: successor pointers from the
    degree joins, then pointer jumping to the fixpoint. ``e`` and
    ``exclude_nodes`` read ``pinned``, the gate's pinned input, which is
    freed once the first pointer state is materialized. Returns
    (key, chain_id)."""
    from ._ckpt import CheckpointSlots

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
    slots = CheckpointSlots()
    slots.hold(pinned, "ptr")
    ptr = slots.checkpoint(
        e.select(F.col(key).alias("k"))
        .join(nxt, "k", "left")
        .withColumn("p", F.coalesce("nk", "k"))
        .select("k", "p"),
        "ptr",
    )
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
_CANONICAL_LINE = b"\x01\x02\x00\x00\x00"   # little-endian LineString header


def aggregate_segments(edges_nodes: DataFrame, key: str = "url",
                       geom_col: str = "geom_wkb",
                       metrics: TraversalMetrics | None = None) -> DataFrame:
    """Collapse degree-2 chains into single segments. Returns one row per
    chain: GID (chain id), stitched geom_wkb, chain NODEA/NODEB, LENGTH,
    n_reaches, first_url (upstream-most reach key, for J8 attribute
    re-join).

    The chain labels come from one small-graph gate (module docstring):
    on the driver for at most SMALL_GRAPH_ROWS edges, where the stitch
    runs too when the geometry fits _local.payload_budget.

    Physical split by chain size: after principal-stem pruning most
    "chains" are a single edge (93% on the sf fixtures; junction-dense
    river networks generally), and for those the stitch is an identity —
    so single-edge chains with canonical engine WKB (little-endian
    LineString, the only encoding this module emits — geom/wkb.py header
    contract) pass their geometry through (parse→re-encode is
    byte-identity for canonical WKB) with st_length's length (reduceat —
    the same fold the stitch uses) and a literal n_reaches=1. Only true
    multi-edge chains, and non-canonical single edges, go through
    _merge_chain. On the Spark side the single-edge projection is
    JVM-side and multi-edge chains shuffle their geometry payload into
    N_CHAIN_BUCKETS hash buckets for one applyInPandas call per bucket (a
    pandas groupby loops the chains inside; grouping directly on chain_id
    costs a per-group Arrow round trip for every tiny chain — measured
    8.2s → ~1s for 1.6k chains, and the single-edge split removes the
    remaining per-chain pandas overhead: 3.5s → ~0.4s for 1.8k chains at
    sf0.1). Chain sizes are counted on the narrow (key, chain_id) roots
    table, so no geometry bytes shuffle for the single-edge majority at
    all.

    ``metrics`` records the arm: chain_roots 'jump' (distributed), or
    aggregate_segments 'local' with ``stitch`` 'driver' or 'spark'."""
    e = edges_nodes.select(key, geom_col, "NODEA", "NODEB")
    spark = e.sparkSession
    rows, gate = _local.collect_small(
        e.select(key, "NODEA", "NODEB",
                 F.octet_length(geom_col).alias("_bytes")))
    if rows is None:
        roots = _jump_roots(gate, key, gate, metrics=metrics)
        sizes = roots.groupBy("chain_id").agg(F.count("*").alias("_n"))
        return _stitch(e, roots.join(sizes, "chain_id"), key, geom_col)
    roots = dict(zip(rows[key], _local.chain_roots(
        rows[key], rows["NODEA"], rows["NODEB"])))
    payload = int(rows["_bytes"].fillna(0).sum())
    on_driver = payload <= _local.payload_budget(spark)
    if metrics is not None:
        metrics.add(op="aggregate_segments", mode="local", edges=len(rows),
                    payload_bytes=payload,
                    stitch="driver" if on_driver else "spark")
    if not on_driver:
        # the labels go back as a literal into the Spark stitch
        n = Counter(roots.values())
        sized = spark.createDataFrame(
            pd.DataFrame({key: list(roots),
                          "chain_id": pd.Series(list(roots.values()),
                                                dtype=rows[key].dtype),
                          "_n": [n[c] for c in roots.values()]}),
            _roots_schema(e, key).add("_n", T.LongType()))
        return _stitch(e, sized, key, geom_col)
    pdf = e.toPandas()
    pdf["chain_id"] = pdf[key].map(roots)
    return spark.createDataFrame(_stitch_local(pdf, key, geom_col),
                                 _AGG_SCHEMA)


def _stitch_local(pdf: pd.DataFrame, key: str, geom_col: str
                  ) -> pd.DataFrame:
    """The driver stitch over (key, geom, NODEA, NODEB, chain_id) rows:
    the same split and functions as _stitch, so its output is identical."""
    n = pdf.groupby("chain_id")["chain_id"].transform("size")
    geom = pdf[geom_col]
    single = (n == 1) & geom.map(
        lambda g: g is not None and bytes(g[:5]) == _CANONICAL_LINE)
    one = pdf[single]
    out = pd.DataFrame({
        "GID": one["chain_id"].map(str),
        "geom_wkb": one[geom_col],
        "NODEA": one["NODEA"],
        "NODEB": one["NODEB"],
        "LENGTH": U.st_length.func(one[geom_col].reset_index(drop=True))
                   .to_numpy(dtype="float64"),
        "n_reaches": 1,
        "first_url": one[key].map(lambda k: None if k is None else str(k)),
    })
    merge_one = _merge_chain_fn(key)
    multi = pdf[~single].rename(columns={geom_col: "geom_wkb"})
    merged = [merge_one(g) for _, g in multi.groupby("chain_id", sort=True)]
    return pd.concat([out] + merged, ignore_index=True)


def _stitch(e: DataFrame, sized: DataFrame, key: str,
            geom_col: str) -> DataFrame:
    """The Spark stitch: ``e`` joined to its (key, chain_id, _n) labels;
    single-edge canonical chains projected JVM-side, the rest merged per
    bucket."""
    merge_one = _merge_chain_fn(key)

    def _merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [merge_one(g) for _, g in pdf.groupby("chain_id", sort=True)],
            ignore_index=True,
        )

    # pin chained: consumed by both the single- and multi-edge branches —
    # without it each branch replays the chain-label plan
    chained = e.join(sized, key).localCheckpoint(eager=False)
    canonical = (
        F.col(geom_col).isNotNull()
        & (F.substring(geom_col, 1, 5) == F.lit(_CANONICAL_LINE))
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
