"""Natural-scale distributed-path oracle run (VERDICT r2 'Next round' #5).

Every sf* fixture sits below SMALL_GRAPH_ROWS = 2M gate rows, so the
traversal operators take their driver-side small-graph arm under the normal
oracle run and the distributed paths are value-verified only when FORCED
(oracle_check --distributed). This script closes that gap by size instead
of by forcing:

 1. synthesizes a documents table big enough that the derived forest has
    >2M edges (default 2.2M docs -> ~2.07M edges after the h%17 drop) into
    $NATURAL_SCALE_DIR (default /tmp/sfbig), symlinking the other tables
    from sf0.01 so oracle_check's view registration finds them;
 2. prints the traversal mode each operator NATURALLY selects at that size
    (TraversalMetrics: expects mode=cc / mode=contract, not local);
 3. runs scripts/oracle_check.py on the graph entries against DuckDB —
    exact value verification with the distributed paths chosen by size.

Usage: python scripts/natural_scale_check.py [n_docs]
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]

# graph entries whose Spark side picks a physical strategy by size; all
# carry exact DuckDB oracles (strahler_binary covers the G7 machinery).
# agg_segments exercises A3's size-split at scale: the tree fixture is
# single-edge-majority (JVM fast path), the chain fixture is long-chain
# (distributed pointer jumping + bucketed pandas stitch).
QUERIES = ["bfs_reach", "dist_from_root", "measure_outlet", "upstream_len",
           "hack_order", "strahler_binary", "agg_segments"]


# chain fixture: doc_id = r * 2^k (r odd, k = 0..CHAIN_LEN-1). Under the
# forest rule doc_id -> doc_id div 2, each id's only present child is
# usually 2*id (2*id+1 is odd, present only for the few small roots), so
# the derived graph is dominated by degree-2 chains -> algorithm='auto'
# NATURALLY selects contraction, the opposite regime from the dense
# range(n) binary tree (junction-dense -> rounds_chainpoor). CHAIN_LEN=14
# keeps max id * 1103515245 (the _H hash multiplier) inside int64 under
# ANSI mode: max id = (2*n_roots+1) * 2^13 ~ 2.6e9 << 8.3e9.
CHAIN_LEN = 14


def build_fixture(n_docs: int, out_dir: str, src_dir: str,
                  shape: str = "tree") -> None:
    os.makedirs(out_dir, exist_ok=True)
    dest = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(dest):
        if shape == "tree":
            ids = f"SELECT i AS doc_id FROM range({n_docs}) t(i)"
        else:
            n_roots = (n_docs + CHAIN_LEN - 1) // CHAIN_LEN
            ids = f"""SELECT (2*j + 1)::BIGINT * (1::BIGINT << k) AS doc_id
                      FROM range({n_roots}) t(j), range({CHAIN_LEN}) s(k)"""
        duckdb.sql(
            f"""COPY (
              SELECT doc_id, 't' || doc_id AS text, 'en' AS lang,
                     's' || (doc_id % 7) AS source,
                     CAST(length('t' || doc_id) AS BIGINT) AS n_chars
              FROM ({ids})
            ) TO '{dest}' (FORMAT PARQUET)"""
        )
    for t in TABLES:
        link = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(src_dir, f"{t}.parquet"), link)


def print_natural_modes(sf_dir: str, want_mode: str | None = None) -> bool:
    """Run the traversal operators once with metrics attached and report
    the mode the size-based auto selection picked. want_mode (e.g.
    'contract'): additionally require at least one of the chain-sensitive
    traversals (upstream/hack/strahler) to have picked that mode."""
    import __spark_entry__ as E
    from bdtopo2refhydro_spark.operators import (
        hack_order,
        select_connected,
        strahler_order,
        upstream_length,
    )
    from bdtopo2refhydro_spark.operators.graph import TraversalMetrics
    from bdtopo2refhydro_spark.session import get_spark

    spark = get_spark("natural_modes", cores=8, shuffle_partitions=16)
    e = E._forest_edges(spark, sf_dir).localCheckpoint()
    n = e.count()
    print(f"forest edges: {n} (threshold 2,000,000)")
    ok = n > 2_000_000
    outlets = spark.createDataFrame([(0,)], "node long")

    runs = []
    m = TraversalMetrics()
    select_connected(e, outlets, metrics=m).count()
    runs.append(("select_connected", m))
    m = TraversalMetrics()
    upstream_length(e, metrics=m).count()
    runs.append(("upstream_length", m))
    m = TraversalMetrics()
    hack_order(e, outlets, metrics=m).count()
    runs.append(("hack_order", m))
    m = TraversalMetrics()
    strahler_order(e, metrics=m).count()
    runs.append(("strahler_order", m))
    seen = set()
    for name, m in runs:
        modes = sorted({r["mode"] for r in m.rounds if "mode" in r})
        print(f"{name:20s} natural mode(s): {modes}")
        # 'local' alongside a distributed mode is the contraction path
        # recursing on the (small) junction graph — correct; only a
        # top-level local selection (modes == {'local'}) is a failure
        if set(modes) <= {"local"}:
            ok = False
        if name != "select_connected":
            seen.update(modes)
    if want_mode is not None and want_mode not in seen:
        print(f"FAIL: no chain-sensitive traversal picked '{want_mode}'")
        ok = False
    spark.stop()
    return ok


def run_one(n_docs: int, out_dir: str, shape: str, want_mode: str | None,
            queries: list[str]) -> int:
    build_fixture(n_docs, out_dir, "/root/testdata/sf0.01", shape=shape)
    print(f"== fixture {out_dir} (shape={shape}) ==")
    if not print_natural_modes(out_dir, want_mode):
        print("FAIL: a traversal selected the wrong path by size/shape")
        return 1
    return subprocess.call(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "oracle_check.py"), out_dir] + queries
    )


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_200_000
    shapes = sys.argv[2].split(",") if len(sys.argv) > 2 else ["tree",
                                                              "chain"]
    rc = 0
    if "tree" in shapes:
        # dense range(n) ids -> binary tree: junction-dense, auto picks
        # cc (select_connected) + rounds_chainpoor (chain probe bails)
        rc |= run_one(n_docs, os.environ.get("NATURAL_SCALE_DIR",
                                             "/tmp/sfbig"),
                      "tree", None, QUERIES)
    if "chain" in shapes:
        # sparse r*2^k ids -> chain-dominated forest: auto picks contract;
        # strahler_binary excluded (its closed form needs contiguous ids)
        rc |= run_one(n_docs, os.environ.get("NATURAL_SCALE_CHAIN_DIR",
                                             "/tmp/sfbig_chain"),
                      "chain", "contract",
                      [q for q in QUERIES if q != "strahler_binary"])
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
