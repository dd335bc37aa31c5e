"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import gen  # noqa: E402
import run  # noqa: E402

TINY = {"hydro_network": 150, "pages_batch": 800}
SEEDED = {"hydro_network": ["edges", "corrections", "surfaces"],
          "pages_batch": ["pages", "polygons", "old", "new", "bench"]}


def _digests(out_dir, workload: str, seed: int) -> dict[str, str]:
    _, info = gen.write_inputs(workload, seed, TINY[workload], str(out_dir))
    return {name: hashlib.sha256(open(v["path"], "rb").read()).hexdigest()
            for name, v in info.items()}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    assert _digests(tmp_path / "a", workload, 5) \
        == _digests(tmp_path / "b", workload, 5)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_other_seed_gives_other_inputs(tmp_path, workload):
    a = _digests(tmp_path / "a", workload, 5)
    b = _digests(tmp_path / "b", workload, 6)
    assert all(a[t] != b[t] for t in SEEDED[workload])


def test_generators_plant_every_case():
    h = gen.hydro_tables(3, 600)
    e, c = h["edges"], h["corrections"]
    assert 0 < e["flow_reversed"].sum() and 0 < (~e["is_tree"]).sum()
    assert e["url"].str.contains("/dup/").any()
    assert set(c["action"]) == {"connection", "direction", "geom",
                                "suppr_canal_multichenal"}
    g = gen.geo_tables(3, 2000)
    assert 0.1 < g["polygons"]["concave"].mean() < 0.4
    assert 0.1 < g["pages"]["line_wkb"].notna().mean() < 0.3
    assert g["pages"]["knn_query"].sum() > 0
    t = gen.corpus_tables(3, 1000)
    old, new = t["old"], t["new"]
    assert old["text"].duplicated().any()                       # exact dups
    assert not set(old["doc_id"]) <= set(new["doc_id"])         # deletes
    assert not set(new["doc_id"]) <= set(old["doc_id"])         # adds
    both = old.merge(new, on="doc_id")
    assert (both["text_x"] != both["text_y"]).any()             # edits
    bench_words = {w for s in t["bench"]["text"] for w in s.split()}
    assert any(bench_words & set(s.split()) for s in old["text"])  # leaks


def test_metric_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(TINY)
    for name in [*e2e, *per_layer]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name


def _bench(expected: dict) -> run.Bench:
    b = run.Bench(SimpleNamespace(trace=0), work="", settings={})
    b.expected = expected
    return b


def test_checksum_mismatch_counts_as_failed():
    fp = {"rows": 3, "hash": 42, "sum:x": 1.5, "schema": "struct<x:double>"}
    b = _bench({"out": dict(fp)})
    b.check({"out": dict(fp)})
    assert (b.attempted, b.failed) == (1, 0)
    b.expected["out"]["hash"] ^= 1
    b.check({"out": dict(fp)})
    assert (b.attempted, b.failed) == (2, 1)


def test_float_sums_compare_within_tolerance():
    b = _bench({"out": {"rows": 1, "sum:x": 1.0}})
    b.check({"out": {"rows": 1, "sum:x": 1.0 + 1e-12}})
    assert b.failed == 0
    b.check({"out": {"rows": 1, "sum:x": 1.0 + 1e-6}})
    assert b.failed == 1


def test_first_run_defines_what_the_oracle_leaves_open():
    b = _bench({"out": {"rows": 3}})
    b.check({"out": {"rows": 3, "hash": 7}})
    b.check({"out": {"rows": 3, "hash": 7}})
    assert (b.attempted, b.failed) == (2, 0)
    b.check({"out": {"rows": 3, "hash": 8}})
    assert b.failed == 1


def test_hydro_oracle_keeps_the_connected_tree():
    import oracle

    t = gen.hydro_tables(3, 300)
    urls = oracle.hydro_troncon_urls(t)
    e = t["edges"]
    tree = set(e[e["is_tree"]]["url"])
    assert 0 < len(urls) <= len(tree)
    assert set(urls) <= tree  # noise and inserted edges stay unconnected
    assert not set(urls) & set(t["corrections"].query(
        "action == 'suppr_canal_multichenal'")["url"])


def test_traced_stages_wraps_plan_callees_and_restores_them():
    from bdtopo2refhydro_spark import plans as P
    from bdtopo2refhydro_spark.operators import text as TX
    from bdtopo2refhydro_spark.plans import pipelines
    from tracing import Tracer, traced_stages

    sc = SimpleNamespace(setJobGroup=lambda *a: None,
                         setLocalProperty=lambda *a: None)
    tr = Tracer(SimpleNamespace(sparkContext=sc), "t")
    before = (P.apply_corrections, pipelines.fix_direction,
              pipelines.width_segments_tail, TX.decontaminate)
    calls = [(P, "apply_corrections"), (P, "run_width_network"),
             (P, "run_curation_pipeline")]
    with traced_stages(tr, calls, {}, []):
        during = (P.apply_corrections, pipelines.fix_direction,
                  pipelines.width_segments_tail, TX.decontaminate)
        assert all(x is not y for x, y in zip(before, during))
        assert pipelines.fix_direction.__wrapped__ is before[1]
    assert (P.apply_corrections, pipelines.fix_direction,
            pipelines.width_segments_tail, TX.decontaminate) == before


def test_corrupted_expected_checksum_raises_failed_frac(tmp_path, monkeypatch):
    """End to end at a tiny size: the oracle agrees with the engine, and
    a corrupted expected checksum is counted without aborting the run."""
    import workloads

    for k in ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH"):
        monkeypatch.setenv(k, os.environ.get(k, ""))
    monkeypatch.setattr(workloads.WORKLOADS["pages_batch"], "size", 800)
    args = SimpleNamespace(workload="pages_batch", seed=4, seconds=0.1,
                           trace=0)
    b = run.Bench(args, str(tmp_path), run.launch_settings(str(tmp_path)))
    try:
        b.setup()
        b.warm_up()
        assert b.attempted >= 2 and b.failed == 0, b.errors
        b.expected["manifest"]["hash"] ^= 1
        b.timed()
    finally:
        b.stop()
    assert b.walls and b.failed == 1
    assert b.failed / b.attempted > 0
    assert b.errors[0].startswith("manifest: hash")
