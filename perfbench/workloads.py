"""The benchmark workloads: hydro_network, and pages_batch, which runs the
text calls and the spatial calls over one batch of pages.

Each workload reads the parquet inputs the generator wrote and offers:

  fused(d, group)  the run: the public ``plans`` / ``operators`` calls
                   exactly as a user chains them, yielding each output to
                   be forced and checked (``group(name)`` tags the Spark
                   jobs of the next call). The traced run replays this
                   same code stage by stage (tracing.traced_stages);
  calls            the (owner, name) of each public call in ``fused``,
                   which the traced run wraps in spans, together with
                   every operator the plans among them call;
  expected(...)    the expected outputs, computed by oracle.py;
  fingerprint_options(...)  per output, what its fingerprint also covers
                   (a sample of rows, a key column's hash);
  counts(...)      per-layer counts read after the traced run.

Sizes are chosen so every ``auto`` gate stays on one arm for every seed:
polygon rows stay far below ``spatial.BROADCAST_POLY_ROWS`` (200k), the
corpus far below ``text.SMALL_CORPUS_BYTES`` (2 MiB), and every traversal
below ``_local.SMALL_GRAPH_ROWS`` (2M adjacency rows), so no workload
measures the distributed graph arm.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdtopo2refhydro_spark import plans as P
from bdtopo2refhydro_spark.functions import udfs as U
from bdtopo2refhydro_spark.operators import spatial as S
from bdtopo2refhydro_spark.plans import refresh as PR

import oracle
from check import fingerprint
from tracing import sum_metric

KEY = "url"
CELL = 2000.0          # spatial-join cell size (operators.spatial default)
GEO_CELL = 1000.0      # pages join cell: ~1 polygon per cell
TILE = 1000.0          # tiling raster cell
KNN_CELL = 8000       # one round certifies every query: a fixed job count
EXTENT = 100_000


def _rows(stages: dict, name: str) -> int:
    return sum(df.count() for df in stages.get(name, []))


class HydroNetwork:
    """apply_corrections → run_reference_network (troncon and segments
    forced) → run_width_network on the reference troncon. Bound by Spark
    job count, not by data size."""

    name = "hydro_network"
    size = 400             # generated edges (before duplicates)
    rows_table = ("edges",)
    warmup_runs = 1        # a second would cost ~18 s in every process
    calls = [(P, "apply_corrections"), (P, "run_reference_network"),
             (P, "run_width_network")]

    def load(self, spark, info) -> dict[str, DataFrame]:
        return {k: spark.read.parquet(v["path"]) for k, v in info.items()}

    def expected(self, spark, tables, seed):
        """The troncon's row count and URL set, from oracle.py; the rest
        of every output's fingerprint is defined by the first run."""
        urls = oracle.hydro_troncon_urls(tables)
        key_hash = fingerprint(spark.createDataFrame(
            [(u,) for u in urls], "url string"))["hash"]
        return {"troncon": {"rows": len(urls), "key_hash": key_hash}}

    def fingerprint_options(self, tables, seed) -> dict:
        return {"troncon": {"key": KEY}}

    def geom_microbench(self, tables) -> dict:
        e = tables["edges"]
        return geom_microbench(list(e[e["is_tree"]]["geom_wkb"]),
                               list(tables["surfaces"]["geom_wkb"]))

    def fused(self, d, group):
        group("plans.apply_corrections")
        corrected = P.apply_corrections(d["edges"], d["corrections"], KEY)
        group("plans.run_reference_network")
        troncon, segment = P.run_reference_network(
            corrected, d["outlets"], KEY, cell_size=CELL)
        yield "segment", segment
        yield "troncon", troncon
        group("plans.run_width_network")
        yield "width", P.run_width_network(troncon, d["surfaces"],
                                           d["outlets"], key=KEY,
                                           cell_size=CELL)

    def counts(self, stages, nodes_by_span, metrics) -> dict:
        return {"relational.rows_out": _rows(stages, "plans.apply_corrections"),
                "orders.segment_rows": _rows(
                    stages, "operators.aggregate.aggregate_segments"),
                **_spatial_counts(nodes_by_span),
                **_graph_counts(metrics)}


class PagesBatch:
    """One batch of web pages. Text: an incremental refresh of the delta
    between two snapshots beside a full-batch curation of the new snapshot
    against held-out benchmark docs. Spatial, over the pages' geoparsed
    points: point-in-polygon join, cell tiling and raster counts, zonal
    %-in-polygon over the pages that carry a line, and an exact kNN join
    for ~1% of the points. One workload, so the text layer and the spatial
    layer share one session and one run budget; the per-layer metrics keep
    them apart."""

    name = "pages_batch"
    size = 4_000           # geoparsed pages; the text snapshot has size // 4
    rows_table = ("pages",)
    warmup_runs = 2        # the second warm run is still 5-15% slower
    calls = [(PR, "run_refresh_pipeline"), (P, "run_curation_pipeline"),
             (S, "spatial_join_hits"), (S, "rasterize_counts"),
             (S, "zonal_pct_in_surface"), (S, "knn_join")]

    SCHEMAS = {
        "manifest": "source string, n_candidates bigint, n_exact bigint, "
                    "n_near bigint, n_gate_failed bigint, n_admitted bigint, "
                    "tok_admitted bigint",
        "curated": "doc_id bigint, source string, n_tokens bigint, "
                   "shard bigint, tok_offset bigint",
        "pip": "doc_id bigint",
        "tiles": "doc_id bigint, cell bigint",
        "raster": "cy bigint, cx bigint, v bigint",
        "zonal": "doc_id bigint, geom_wkb binary, pct_in_surface double",
        "knn": "qid bigint, did bigint, d2 bigint, rn int",
    }

    def load(self, spark, info) -> dict[str, DataFrame]:
        d = {k: spark.read.parquet(info[k]["path"])
             for k in ("old", "new", "bench", "pages")}
        for k in ("old", "new"):
            d[k + "_snap"] = d[k].select("doc_id", "text", "lang", "source")
        pages = d["pages"]
        d.update(
            points=pages.select("doc_id", "geom_wkb"),
            lines=pages.filter(F.col("line_wkb").isNotNull())
                       .select("doc_id", F.col("line_wkb").alias("geom_wkb")),
            polys=spark.read.parquet(info["polygons"]["path"])
                       .select("geom_wkb"),
            queries=pages.filter("knn_query")
                         .select(F.col("doc_id").alias("qid"), "x", "y"),
            data=pages.select(F.col("doc_id").alias("did"), "x", "y"))
        return d

    def expected(self, spark, tables, seed):
        ex = {**oracle.corpus_expected(tables),
              **oracle.geo_expected(tables, TILE, k=3, sample_ids=
                                    self._knn_sample(tables, seed))}
        knn = ex.pop("knn")
        out = {k: fingerprint(spark.createDataFrame(v, self.SCHEMAS[k]))
               for k, v in ex.items()}
        out["knn"] = {"rows": knn["rows"],
                      "sample_rows": len(knn["sample"]),
                      "sample_hash": fingerprint(spark.createDataFrame(
                          knn["sample"], self.SCHEMAS["knn"]))["hash"]}
        return out

    def _knn_sample(self, tables, seed) -> list[int]:
        return oracle.knn_sample_ids(tables["pages"], 200, seed)

    def fingerprint_options(self, tables, seed) -> dict:
        return {"knn": {"sample": F.col("qid").isin(
            self._knn_sample(tables, seed))}}

    def geom_microbench(self, tables) -> dict:
        p = tables["pages"]
        return geom_microbench(list(p[p["line_wkb"].notna()]["line_wkb"]),
                               list(tables["polygons"]["geom_wkb"]))

    def fused(self, d, group):
        group("plans.run_refresh_pipeline")
        yield "manifest", PR.run_refresh_pipeline(
            d["old_snap"], d["new_snap"], threshold=0.5, min_tokens=4)
        group("plans.run_curation_pipeline")
        yield "curated", P.run_curation_pipeline(d["new"], d["bench"])
        group("operators.spatial.spatial_join_hits")
        yield "pip", S.spatial_join_hits(d["points"], d["polys"], "doc_id",
                                         cell_size=GEO_CELL)
        group("functions.cell_of")
        yield "tiles", d["pages"].select("doc_id", U.cell_of(
            F.col("x"), F.col("y"), TILE).alias("cell"))
        group("operators.spatial.rasterize_counts")
        yield "raster", S.rasterize_counts(d["pages"], "x", "y", TILE)
        group("operators.spatial.zonal_pct_in_surface")
        yield "zonal", S.zonal_pct_in_surface(d["lines"], d["polys"],
                                              "doc_id", cell_size=GEO_CELL)
        group("operators.spatial.knn_join")
        yield "knn", S.knn_join(d["queries"], d["data"], k=3,
                                cell_size=KNN_CELL, extent=EXTENT,
                                self_contained=True)

    def counts(self, stages, nodes_by_span, metrics) -> dict:
        out = _spatial_counts(nodes_by_span)
        knn = nodes_by_span.get("operators.spatial.knn_join", [])
        cand = sum(sum_metric(knn, "number of output rows", name=j,
                              desc_has="cx")
                   for j in ("BroadcastHashJoin", "SortMergeJoin",
                             "ShuffledHashJoin"))
        n_q = stages["operators.spatial.knn_join"][0] \
            .select("qid").distinct().count()
        out["spatial.knn_candidates_per_query"] = cand / max(n_q, 1)
        flags = stages["operators.text.incremental_dedup"][0].agg(
            F.sum(F.col("dropped_exact").cast("long")).alias("e"),
            F.sum(F.col("dropped_near").cast("long")).alias("n")).first()
        out.update({"cdc.delta_rows": _rows(stages,
                                            "operators.cdc.snapshot_diff"),
                    "text.exact_flagged": flags["e"] or 0,
                    "text.near_flagged": flags["n"] or 0})
        return out


def geom_microbench(lines: list, polys: list, n_pairs: int = 300) -> dict:
    """Direct geom-kernel calls on a fixed sample of the workload's own
    (line, polygon) candidate pairs (bounding boxes overlap): microseconds
    per WKB parse, per vectorized convex clip (the Cyrus-Beck path of
    udfs.st_intersects) and per general refine (its concave path)."""
    from bdtopo2refhydro_spark.geom import kernels as K
    from bdtopo2refhydro_spark.geom.wkb import parse_wkb

    t = time.perf_counter()
    parsed = [parse_wkb(bytes(b)) for b in lines[:2000]]
    parse_us = (time.perf_counter() - t) / len(parsed) * 1e6
    rings = [parse_wkb(bytes(b))[1] for b in polys]
    convex, general = [], []
    for gtype, coords in parsed:
        lo, hi = coords.min(axis=0), coords.max(axis=0)
        for poly in rings:
            r = poly[0]
            if (hi >= r.min(axis=0)).all() and (lo <= r.max(axis=0)).all():
                (convex if K.is_convex_ccw(r) else general).append(
                    (coords, poly))
        if len(convex) >= n_pairs and len(general) >= n_pairs:
            break
    out = {"geom.wkb_parse_us": parse_us,
           "geom.convex_pairs": len(convex[:n_pairs]),
           "geom.general_pairs": len(general[:n_pairs])}
    if convex:
        t = time.perf_counter()
        for coords, poly in convex[:n_pairs]:
            K.clip_intervals_convex(coords[:-1], coords[1:], poly[0])
        out["geom.convex_clip_us"] = (time.perf_counter() - t) \
            / len(convex[:n_pairs]) * 1e6
    if general:
        t = time.perf_counter()
        for coords, poly in general[:n_pairs]:
            K.line_intersects_polygon(coords, [poly])
        out["geom.general_refine_us"] = (time.perf_counter() - t) \
            / len(general[:n_pairs]) * 1e6
    return out


def _spatial_counts(nodes_by_span: dict) -> dict:
    """Refined candidates and hits of the spatial joins (the rows the
    st_intersects UDF evaluated and the rows its filter kept)."""
    cand = hits = 0.0
    for name, nodes in nodes_by_span.items():
        if not (name or "").startswith("operators.spatial."):
            continue
        # plan nodes are listed parent first: the hit filter is the node
        # right above the st_intersects evaluation
        for above, n in zip([None] + nodes, nodes):
            if n["name"] == "ArrowEvalPython" and "st_intersects" in n["desc"]:
                cand += n["metrics"].get("number of output rows", 0.0)
                if above and above["name"] == "Filter":
                    hits += above["metrics"].get("number of output rows", 0.0)
    return {"spatial.candidates": cand, "spatial.hits": hits,
            "spatial.hit_ratio": hits / cand if cand else 0.0}


def _graph_counts(metrics: list) -> dict:
    """Traversal rounds of the TraversalMetrics the plans passed to their
    graph and order operators."""
    rounds = [r for m in metrics for r in m.rounds]
    return {"graph.rounds": len(rounds),
            "graph.local_calls": sum(r.get("mode") == "local" for r in rounds),
            "graph.adj_rows": sum(r.get("adj_rows", 0) or 0 for r in rounds)}


WORKLOADS = {w.name: w for w in (HydroNetwork(), PagesBatch())}
