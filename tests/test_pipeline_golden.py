"""End-to-end golden test (SURVEY.md §5.3): full corrections + flagship
reference-network pipeline on the deterministic synthetic fixtures, compared
against an independent pure-Python oracle (BFS over endpoint equality).
Also asserts the north-rule invariant: byte-identical extracted text per url.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.geom import kernels as K
from bdtopo2refhydro_spark.geom.wkb import parse_wkb
from bdtopo2refhydro_spark.plans import apply_corrections, run_reference_network
from bdtopo2refhydro_spark.sources import (
    corrections_df,
    edges_df,
    make_corrections_pdf,
    make_edges_pdf,
    make_pages_pdf,
    outlet_polygons_df,
    make_outlet_polygons_pdf,
    pages_df,
)

N = 200


def _python_oracle_connected(n: int) -> set[str]:
    """Independent re-implementation: apply corrections in pandas, then BFS
    over exact endpoint equality from outlet-band-intersecting edges."""
    edges = make_edges_pdf(n)
    corr = make_corrections_pdf(n)
    by_url = {r.url: r for r in edges.itertuples()}
    # corrections: insert (skip-if-present), reverse, replace geom, delete
    for r in corr.itertuples():
        if r.action == "connection" and r.url not in by_url:
            by_url[r.url] = r._replace(geom_wkb=r.new_geom_wkb) if hasattr(r, "geom_wkb") else None
    geom = {u: r.geom_wkb for u, r in by_url.items() if r is not None}
    for r in corr.itertuples():
        if r.action == "connection" and r.url not in geom:
            geom[r.url] = r.new_geom_wkb
        elif r.action == "geom":
            if r.url in geom:
                geom[r.url] = r.new_geom_wkb
        elif r.action == "suppr_canal_multichenal":
            geom.pop(r.url, None)
    # dedup exact geometries (keep any one — component membership identical)
    seen, kept = {}, {}
    for u in sorted(geom):
        g = geom[u]
        if g not in seen:
            seen[g] = u
            kept[u] = g
    # seed = edges intersecting any outlet polygon
    outl = make_outlet_polygons_pdf()
    polys = [K._poly_parts(parse_wkb(p)) for p in outl["geom_wkb"]]
    flat_polys = [rings for pp in polys for rings in pp]
    def _ends(g):
        x0, y0, x1, y1 = K.endpoints(g)
        return (round(x0, 6), round(y0, 6)), (round(x1, 6), round(y1, 6))
    adj: dict = {}
    for u, g in kept.items():
        a, b = _ends(g)
        adj.setdefault(a, set()).add(u)
        adj.setdefault(b, set()).add(u)
    seeds = [
        u for u, g in kept.items()
        if any(K.line_intersects_polygon(part, [rings])
               for rings in flat_polys
               for part in K._line_parts(parse_wkb(g)))
    ]
    visited_edges: set[str] = set()
    frontier_nodes: set = set()
    for u in seeds:
        visited_edges.add(u)
        a, b = _ends(kept[u])
        frontier_nodes |= {a, b}
    visited_nodes = set(frontier_nodes)
    while frontier_nodes:
        nxt = set()
        for node in frontier_nodes:
            for u in adj.get(node, ()):
                if u not in visited_edges:
                    visited_edges.add(u)
                    a, b = _ends(kept[u])
                    for m in (a, b):
                        if m not in visited_nodes:
                            visited_nodes.add(m)
                            nxt.add(m)
        frontier_nodes = nxt
    return visited_edges


@pytest.fixture(scope="module")
def fixed_edges(spark):
    edges = edges_df(spark, N).drop("is_tree", "flow_reversed")
    corr = corrections_df(spark, N)
    return apply_corrections(edges, corr).cache()


@pytest.fixture(scope="module")
def pipeline_result(spark, fixed_edges):
    troncon, segment = run_reference_network(
        fixed_edges, outlet_polygons_df(spark), tolerance=0.5
    )
    return troncon.cache(), segment.cache()


def test_connected_network_matches_python_oracle(spark, fixed_edges):
    """G2 golden: BFS-connected set (stem off) matches the independent
    Python oracle url-for-url."""
    troncon, _ = run_reference_network(
        fixed_edges, outlet_polygons_df(spark), tolerance=0.5,
        apply_principal_stem=False,
    )
    got = {r.url for r in troncon.select("url").collect()}
    expected = _python_oracle_connected(N)
    assert got == expected


def test_principal_stem_prunes_only_divergences(spark, fixed_edges, pipeline_result):
    """G4 golden property: the stem output is the BFS set minus, per
    multi-out-edge node, all but one channel (the reversed-duplicate
    artifacts in the fixtures)."""
    full, _ = run_reference_network(
        fixed_edges, outlet_polygons_df(spark), tolerance=0.5,
        apply_principal_stem=False,
    )
    stem, _ = pipeline_result
    full_keys = {r.url for r in full.select("url").collect()}
    stem_keys = {r.url for r in stem.select("url").collect()}
    assert stem_keys <= full_keys
    dropped = full_keys - stem_keys
    # every dropped edge shared its upstream node with a kept edge
    from bdtopo2refhydro_spark.operators import identify_network_nodes

    e = identify_network_nodes(fixed_edges, tolerance=0.5)
    nodea = {r.url: r.NODEA for r in e.collect()}
    kept_as = {nodea[u] for u in stem_keys}
    assert all(nodea[u] in kept_as for u in dropped)


def test_segments_preserve_total_length(pipeline_result):
    troncon, segment = pipeline_result
    from bdtopo2refhydro_spark.functions import udfs as U

    t_len = troncon.select(F.sum(U.st_length("geom_wkb"))).first()[0]
    s_len = segment.select(F.sum("LENGTH")).first()[0]
    assert s_len == pytest.approx(t_len, rel=1e-9)
    assert segment.count() <= troncon.count()


def test_width_pipeline_segment_tail(spark, fixed_edges):
    """§3.3 end-to-end on PARTIAL synth surfaces (the zonal filter really
    deletes reaches; VERDICT r1 #4): the pipeline must return the
    aggregated SEGMENT table (A3+J8 tail, create_5m_width_hydro_network.py
    :365-428) whose total stitched length equals the kept reaches' total
    length, with join_-stripped attribute columns and a fresh `length`."""
    from bdtopo2refhydro_spark.functions import udfs as U
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.plans import run_width_network
    from bdtopo2refhydro_spark.sources import surfaces_df

    m = TraversalMetrics()
    reaches = run_width_network(
        fixed_edges, surfaces_df(spark), outlet_polygons_df(spark),
        tolerance=0.5, surface_pct_min=30.0, with_segments=False, metrics=m,
    ).cache()
    seg = run_width_network(
        fixed_edges, surfaces_df(spark), outlet_polygons_df(spark),
        tolerance=0.5, surface_pct_min=30.0, metrics=TraversalMetrics(),
    ).cache()
    # the zonal filter deleted something: kept reaches < deduped input
    assert reaches.count() < fixed_edges.count()
    # tail columns: attributes re-joined without the join_ prefix, plus a
    # fresh geometric length; working fields gone
    for col in ("nature", "HACK", "STRAHLER", "length", "n_reaches"):
        assert col in seg.columns
    for col in ("NODEA", "NODEB", "MEASURE", "join_nature"):
        assert col not in seg.columns
    # stitched segments preserve total length and never outnumber reaches
    r_len = reaches.select(F.sum(U.st_length("geom_wkb"))).first()[0]
    s_len = seg.select(F.sum("length")).first()[0]
    assert s_len == pytest.approx(r_len, rel=1e-9)
    assert seg.count() <= reaches.count()
    assert seg.select(F.sum("n_reaches")).first()[0] == reaches.count()


# Spark jobs of one reference + width network run on the golden fixture
# (test_hydro_pipeline_job_budget): 100 measured with the driver-side
# small-graph arm, 159-160 before it (eager checkpoint + count + a
# one-task pandas job per traversal gate). Counts vary by about ±2
# between runs, so the budget leaves a 10% margin.
HYDRO_JOB_BUDGET = 110


def test_hydro_pipeline_job_budget(spark, fixed_edges):
    """CI guard on the flagship's Spark job count: the reference network,
    then the width network on its troncon, each output forced once under
    one job group, stay within HYDRO_JOB_BUDGET jobs. A change that brings
    back per-gate sizing actions or per-consumer kernel replays fails
    here, not only in the benchmark."""
    from bdtopo2refhydro_spark.plans import run_width_network
    from bdtopo2refhydro_spark.sources import surfaces_df

    fixed_edges.count()  # the cached fixture is not part of the budget
    sc = spark.sparkContext
    group = "test_hydro_pipeline_job_budget"
    sc.setJobGroup(group, group)
    try:
        troncon, segment = run_reference_network(
            fixed_edges, outlet_polygons_df(spark), tolerance=0.5)
        segment.collect()
        troncon.collect()
        run_width_network(troncon, surfaces_df(spark),
                          outlet_polygons_df(spark),
                          tolerance=0.5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(f"hydro pipeline jobs: {jobs}")
    assert 0 < jobs <= HYDRO_JOB_BUDGET


def test_text_byte_identity(spark):
    """North-rule invariant: extracted text per url is byte-identical after a
    pipeline pass over the pages table."""
    pages = pages_df(spark, N)
    expected = {
        r["url"]: hashlib.sha256(r["text"].encode()).hexdigest()
        for _, r in make_pages_pdf(N).iterrows()
    }
    # a representative relational pass over pages (filter + join + project)
    out = (
        pages.filter(F.col("lang").isin("fr", "en", "de", "es"))
        .join(pages.select("url"), "url", "left_semi")
        .select("url", F.sha2(F.col("text").cast("binary"), 256).alias("h"))
    )
    got = {r.url: r.h for r in out.collect()}
    assert got == expected


def test_checkpoint_resume_skips_completed_stages(spark, tmp_path):
    """North rule: resume-from-checkpoint. A stage whose output exists is
    not recomputed on rerun; lineage records the skip."""
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.plans.checkpoint import CheckpointedPipeline
    from bdtopo2refhydro_spark.plans.lineage import Lineage

    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))

    lin1 = Lineage()
    p1 = CheckpointedPipeline(spark, str(tmp_path), lin1)
    out1 = p1.stage("double", make)
    assert out1.count() == 10 and calls["n"] == 1
    assert any(r["metric"] == "rows_out" and r["value"] == 10.0
               for r in lin1.records)

    lin2 = Lineage()
    p2 = CheckpointedPipeline(spark, str(tmp_path), lin2)
    out2 = p2.stage("double", make)
    assert out2.count() == 10
    assert calls["n"] == 1  # not recomputed
    assert any(r["metric"] == "resumed" for r in lin2.records)

    # no_resume forces recompute
    p3 = CheckpointedPipeline(spark, str(tmp_path), Lineage(), resume=False)
    p3.stage("double", make)
    assert calls["n"] == 2


def test_lineage_partition_counts(spark):
    from bdtopo2refhydro_spark.plans.lineage import Lineage

    lin = Lineage()
    df = spark.range(100).repartition(4)
    counts = lin.partition_counts("stage_x", df)
    assert sum(c for _, c in counts) == 100
    assert len(counts) == 4


def test_bucketed_join_has_no_exchange(spark):
    """write_bucketed: joining two tables bucketed on the same key plans
    with NO shuffle (the co-located join the graph passes rely on when
    node tables are materialized)."""
    from pyspark.sql import functions as F

    import shutil

    from bdtopo2refhydro_spark.sources.io import write_bucketed

    # clear stale warehouse dirs from interrupted runs — a leftover
    # directory without a catalog entry makes saveAsTable refuse
    for t in ("bkt_a", "bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    a = spark.range(1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_a", "k", n_buckets=8)
    write_bucketed(b, "bkt_b", "k", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        # sort-merge join straight off the buckets: no shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_entry_contract_schema(spark):
    """The driver smoke-checks entry() for a stable schema — pin it."""
    import __spark_entry__ as E

    df = E.entry(spark)
    assert [f.name for f in df.schema.fields] == ["url", "nature"]
    assert df.count() > 0
    qs, osql = E.queries(), E.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 59 and len(osql) >= 56


def test_read_jsonl_permissive_and_csv(spark, tmp_path):
    """Alternate S1 formats: explicit-schema JSONL with malformed-line
    quarantine, and explicit-schema CSV — no inference scan in either."""
    from bdtopo2refhydro_spark.sources.io import read_csv, read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        'this line is not json\n'
        '{"doc_id": 2, "text": "ok"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id bigint, text string")
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].text == "hello world" and rows[2].text == "ok"
    bad = [r for r in rows.values() if r.doc_id is None]
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record

    c = tmp_path / "docs.csv"
    c.write_text("doc_id,text\n1,hello\n2,world\n")
    out = {r.doc_id: r.text
           for r in read_csv(spark, str(c), "doc_id bigint, text string")
           .collect()}
    assert out == {1: "hello", 2: "world"}


def test_write_partitioned_prunes(spark, tmp_path):
    """Hive-partitioned sink: directory-per-key layout, read-back equality,
    and a partition filter that scans only the matching directory."""
    import os

    from bdtopo2refhydro_spark.sources.io import write_partitioned

    df = spark.createDataFrame(
        [(i, f"t{i}", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "part")
    write_partitioned(df, out, ["source"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("source=")
    ) == ["source=s0", "source=s1", "source=s2"]
    back = spark.read.parquet(out)
    assert back.count() == 30
    pruned = back.filter("source = 's1'")
    assert pruned.count() == 10
    # the partition filter must reach the scan (plan-time pruning)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan


def test_write_zordered_disjoint_sorted_files(spark, tmp_path):
    """Z-order sink: every output file owns a disjoint zkey range and is
    sorted within — the property parquet min/max pruning relies on. Also
    pins the Morton key itself against a python bit-interleave."""
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.sources.io import write_zordered

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 100 * 10.0).alias("x"),
        ((F.col("id") * 53) % 100 * 10.0).alias("y"),
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, "x", "y", cell_size=10.0, n_files=8)

    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    rows = back.select("doc_id", "x", "y", "zkey", "f").collect()

    def interleave(ix, iy):
        z = 0
        for b in range(26):
            z |= ((ix >> b) & 1) << (2 * b)
            z |= ((iy >> b) & 1) << (2 * b + 1)
        return z

    per_file = {}
    for r in rows:
        assert r.zkey == interleave(int(r.x // 10), int(r.y // 10))
        per_file.setdefault(r.f, []).append(r.zkey)
    assert len(per_file) > 1
    ranges = sorted((min(v), max(v)) for v in per_file.values())
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file zkey ranges overlap"


def test_compact_files_preserves_content(spark, tmp_path):
    from bdtopo2refhydro_spark.sources.io import compact_files

    p = str(tmp_path / "small_files")
    df = spark.range(0, 10_000).selectExpr("id", "id * 3 as v")
    df.repartition(64).write.parquet(p)  # 64 tiny files
    import os
    before = sorted(r.id for r in spark.read.parquet(p).collect())
    n = compact_files(spark, p, target_bytes=1 << 30)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert n == len(files) == 1  # tiny table → one file
    after = spark.read.parquet(p)
    assert sorted(r.id for r in after.collect()) == before
    assert after.selectExpr("sum(v)").first()[0] == 3 * sum(range(10_000))
