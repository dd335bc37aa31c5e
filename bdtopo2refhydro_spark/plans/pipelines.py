"""End-to-end pipelines re-expressing the reference's three entry points
(SURVEY.md §3) as lazy DataFrame compositions.

  apply_corrections      ~ the five fix_* scripts in workflow order
                           (create_reference_hydro_workflow.py:119-135)
  build_exutoire         ~ create_exutoire.py:146-197
  run_reference_network  ~ create_connected_reference_hydro.py:40-278
  run_width_network      ~ create_5m_width_hydro_network.py:29-451
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import udfs as U
from ..operators import (
    aggregate_segments,
    dedup_geometries,
    edges_touching,
    extract_by_location,
    filter_canals,
    fix_connection,
    fix_connection_and_direction,
    fix_direction,
    fix_modified_geom,
    fix_network_connectivity,
    fix_suppr_canal_multichenal,
    hack_order,
    identify_network_nodes,
    measure_from_outlet,
    merge_layers,
    principal_stem,
    prune_slivers,
    select_by_location,
    select_connected,
    strahler_order,
    take_first_join,
    zonal_pct_in_surface,
)
from ..operators.graph import TraversalMetrics


def apply_corrections(edges: DataFrame, corrections: DataFrame,
                      key: str = "url") -> DataFrame:
    """The five correction passes in the reference's fixed order
    (create_reference_hydro_workflow.py:119-135). Each fix_* script begins
    with a duplicate-geometry dedupe of its correction layer
    (e.g. fix_connection.py:68-72); corrections here are one keyed table
    with an `action` column (FIXTURES.md §B6)."""
    # each fix_* script dedups its correction layer's geometries first
    # (fix_connection.py:68-72) — only rows that carry a geometry; keyed
    # actions (direction / delete) have no geometry to dedupe on
    if "new_geom_wkb" in corrections.columns:
        with_geom = dedup_geometries(
            corrections.filter(F.col("new_geom_wkb").isNotNull()), "new_geom_wkb"
        )
        corr = with_geom.unionByName(
            corrections.filter(F.col("new_geom_wkb").isNull()).distinct()
        )
    else:
        corr = corrections
    conn_dir = corr.filter(F.col("action") == "connection_and_direction") \
                   .select(key, F.col("new_geom_wkb").alias("geom_wkb"))
    conn = corr.filter(F.col("action") == "connection") \
               .select(key, F.col("new_geom_wkb").alias("geom_wkb"))
    direction = corr.filter(F.col("action") == "direction").select(key)
    geom = corr.filter(F.col("action") == "geom").select(key, "new_geom_wkb")
    suppr = corr.filter(F.col("action") == "suppr_canal_multichenal").select(key)

    out = fix_connection_and_direction(edges, conn_dir, key)
    out = fix_connection(out, conn, key)
    out = fix_direction(out, direction, key)
    out = fix_modified_geom(out, geom, key)
    out = fix_suppr_canal_multichenal(out, suppr, key)
    return out


def build_exutoire(layers: list[tuple[str, DataFrame]],
                   buffer_dist: float = 50.0,
                   geom_col: str = "geom_wkb") -> DataFrame:
    """~ create_exutoire.py:146-197: fix geometries, polygons → boundary
    lines, merge with provenance, re-fix, buffer by 50 m. Input layers carry
    an `is_polygon` column when boundary extraction applies."""
    fixed = []
    for name, df in layers:
        g = df.withColumn(geom_col, U.st_make_valid(geom_col))
        if "is_polygon" in df.columns:
            g = g.withColumn(
                geom_col,
                F.when(F.col("is_polygon"), U.st_boundary(geom_col))
                .otherwise(F.col(geom_col)),
            ).drop("is_polygon")
        fixed.append((name, g))
    merged = merge_layers(fixed)
    merged = merged.withColumn(geom_col, U.st_make_valid(geom_col))
    return merged.withColumn(geom_col, U.st_buffer(F.col(geom_col), buffer_dist)) \
                 .withColumn(geom_col, U.st_make_valid(geom_col))


def run_reference_network(edges: DataFrame, outlet_polygons: DataFrame,
                          key: str = "url", tolerance: float = 1.0,
                          cell_size: float = 2000.0,
                          apply_principal_stem: bool = True,
                          with_segments: bool = True,
                          metrics: TraversalMetrics | None = None,
                          ) -> tuple[DataFrame, DataFrame]:
    """The flagship query ~ create_connected_reference_hydro.py:40-278:
    dedupe → node ids → outlet spatial join → connectivity traversal →
    principal stem → (troncon) → segment aggregation → (segment).
    Returns (troncon_df, segment_df). with_segments=False skips A3 and
    returns (troncon WITH node/len working columns, None) so a
    checkpointing driver can materialize the traversal once and derive
    segments from the checkpoint (scripts/submit_reference_network.py)."""
    metrics = metrics if metrics is not None else TraversalMetrics()
    # A2 (:150-156)
    e = dedup_geometries(edges, "geom_wkb")
    # G1 (:160-166)
    e = identify_network_nodes(e, key, tolerance=tolerance)
    e = e.withColumn("len", U.st_length("geom_wkb")).localCheckpoint()
    # J1 outlet spatial join (:181-187) — seed_edges feeds three consumers
    # (both seed_nodes legs + outlet_nodes); checkpoint lazily so the
    # spatial join runs once, not once per consumer
    seeded = select_by_location(e, outlet_polygons, key, cell_size=cell_size)
    seed_edges = seeded.filter(F.col("selected")).localCheckpoint(eager=False)
    seed_nodes = (
        seed_edges.select(F.col("NODEA").alias("node"))
        .union(seed_edges.select(F.col("NODEB")))
        .distinct()
    )
    # G2 traversal (:191-197) — visited is consumed twice by
    # edges_touching (NODEA + NODEB semi-joins); troncon three times by
    # principal_stem (distance input, route scoring, final semi-join) plus
    # the returned output. Without the lazy checkpoints every consumer
    # re-runs the whole upstream traversal sub-plan (measured: 3 of the
    # 10 SQL executions of a warm sf0.1 run were recomputes, 80 jobs
    # total — the traversal executed 4x).
    visited = select_connected(e, seed_nodes, "both", metrics=metrics) \
        .localCheckpoint(eager=False)
    connected_keys = edges_touching(e, visited, key)
    troncon = e.join(connected_keys, key, "left_semi") \
        .localCheckpoint(eager=False)
    # G4 principal stem (:202-209)
    if apply_principal_stem:
        outlet_nodes = seed_edges.select(F.col("NODEB").alias("node")).distinct()
        # three consumers (A3 segments, the returned troncon, and the
        # width network downstream): pin so the stem's join sub-plan runs
        # once, not once per consumer
        troncon = principal_stem(troncon, outlet_nodes, key) \
            .localCheckpoint(eager=False)
    if not with_segments:
        return troncon, None
    # A3 aggregate segments (:241-249) — node cols already present (second
    # G1 pass in the reference is only needed because QGIS drops them)
    segment = aggregate_segments(troncon, key)
    troncon_out = troncon.drop("NODEA", "NODEB", "len")
    return troncon_out, segment


def run_width_network(edges: DataFrame, surfaces: DataFrame,
                      outlet_polygons: DataFrame, zones: DataFrame | None = None,
                      key: str = "url", tolerance: float = 1.0,
                      cell_size: float = 2000.0,
                      surface_pct_min: float = 30.0,
                      small_segment_filter: float = 500.0,
                      exutoire_stream_min_length: float = 10_000.0,
                      with_segments: bool = True,
                      metrics: TraversalMetrics | None = None) -> DataFrame:
    """The analytic/zonal query ~ create_5m_width_hydro_network.py:29-451:
    clip → zonal %-in-surface filter → re-add outlet reaches → fix
    connectivity → measure → Hack → Strahler → sliver pruning → A3
    re-aggregate (:365-373) → J8 take-first attribute re-join with
    ``join_`` prefix (:375-386) → rename/drop working fields (:391-415) →
    final geometric length (:418-428).

    Returns the aggregated SEGMENT table: one row per between-junction
    chain with the stitched geometry, the first reach's attributes
    (nature/HACK/STRAHLER, keyed by `key` = upstream-most reach), chain
    reach count, and a fresh `length`. ``with_segments=False`` stops after
    sliver pruning and returns the ordered reach table (the pre-:365
    state), which keeps NODEA/NODEB/len/MEASURE for callers that resume
    from a checkpoint."""
    metrics = metrics if metrics is not None else TraversalMetrics()
    e = edges
    # J2 clip to zone (:155-171)
    if zones is not None:
        e = extract_by_location(e, zones, key, cell_size=cell_size)
    # G1 node ids (:183-189)
    e = identify_network_nodes(e, key, tolerance=tolerance)
    e = e.withColumn("len", U.st_length("geom_wkb")).localCheckpoint()
    # J2 outlet reaches (:201-207) — consumed twice (kept-union +
    # outlet_edges semi-join); lazy checkpoint so the outlet spatial join
    # runs once (same reuse rule as run_reference_network)
    outlet_keys = extract_by_location(e, outlet_polygons, key,
                                      cell_size=cell_size).select(key) \
        .localCheckpoint(eager=False)
    # J9 zonal overlay + threshold (:209-245), J10 re-add outlets (:248-253)
    zonal = zonal_pct_in_surface(e, surfaces, key, cell_size=cell_size)
    kept = zonal.filter(
        (F.col("pct_in_surface") >= surface_pct_min)
    ).select(key).union(outlet_keys).distinct()
    # G3 fix connectivity (:256-263)
    outlet_edges = e.join(outlet_keys, key, "left_semi")
    # three consumers (G3 repair, G5 measure, G6 Hack) — tiny table
    outlet_nodes = outlet_edges.select(F.col("NODEB").alias("node")) \
        .distinct().localCheckpoint(eager=False)
    repaired_keys = fix_network_connectivity(e, kept, outlet_nodes, key,
                                             metrics=metrics)
    net = e.join(repaired_keys, key, "left_semi").localCheckpoint()
    # G5 measure (:267-273), G6 Hack (:277-285), G7 Strahler (:289-296)
    net = measure_from_outlet(net, outlet_nodes, key, metrics=metrics)
    net = hack_order(net, outlet_nodes, key, metrics=metrics)
    net = strahler_order(net, key, metrics=metrics).localCheckpoint()
    # G8 sliver pruning (:298-359)
    # the tail consumes net twice (A3 chain collapse + J8 attribute side)
    net = prune_slivers(net, key,
                        small_segment_filter=small_segment_filter,
                        exutoire_stream_min_length=exutoire_stream_min_length) \
        .localCheckpoint(eager=False)
    if not with_segments:
        return net
    return width_segments_tail(net, key)


def width_segments_tail(net: DataFrame, key: str = "url") -> DataFrame:
    """The :365-428 tail on an ordered reach table (must carry NODEA/NODEB/
    geom_wkb and the order columns): A3 chain collapse, J8 take-first
    attribute re-join (prefix ``join_``), join_-prefix strip, working-field
    drop (fid/NODEA/NODEB/MEASURE/LENGTH/GID analogs), final length."""
    seg = aggregate_segments(net, key)
    # COPY_FIELDS:'fid' analog — the chain carries its first reach's key,
    # which J8 uses to re-attach that reach's attributes (take-first is a
    # no-op here since `key` is unique in net, matching METHOD:1 exactly)
    seg_keyed = seg.select(
        F.col("first_url").alias(key), "geom_wkb", "n_reaches"
    )
    attrs = net.drop("NODEA", "NODEB", "len", "MEASURE", "geom_wkb")
    joined = take_first_join(seg_keyed, attrs, key, order_col=key,
                             prefix="join_")
    # rename join_X -> X (:391-403); seg side kept only geom/n_reaches so
    # the strip never collides
    for c in joined.columns:
        if c.startswith("join_"):
            joined = joined.withColumnRenamed(c, c[5:])
    # fresh geometric length on the stitched geometry (:418-428)
    return joined.withColumn("length", U.st_length("geom_wkb"))
