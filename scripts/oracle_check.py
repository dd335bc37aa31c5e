"""Run every __spark_entry__ query against its DuckDB oracle (sf0.01 by
default) and report row-count + value equality — a local stand-in for the
driver's CORRECTNESS gate.

Usage: python scripts/oracle_check.py [--distributed] [sf_dir] [query ...]

--distributed forces SMALL_GRAPH_ROWS to -1 for the whole run, so every
traversal takes the distributed code path (checkpointed self-joins, CC,
chain contraction) instead of the driver-side small-graph kernels — the
distributed implementations themselves get value-verified against DuckDB,
not just equality-to-local (VERDICT r1 'Next round' #6).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from bdtopo2refhydro_spark.session import get_spark, spark_conf  # noqa: E402


def force_distributed_paths() -> None:
    import bdtopo2refhydro_spark.operators._local as L
    import bdtopo2refhydro_spark.operators.orders as O

    L.SMALL_GRAPH_ROWS = -1  # the one threshold every gate reads
    # pin auto -> contract: the sf fixtures are junction-dense binary
    # forests, so the chain-fraction probe would divert auto to the round
    # loop and contraction would never be value-verified under forcing.
    # (The round path gets NATURAL-scale verification from the tree
    # fixture of scripts/natural_scale_check.py, contraction from its
    # chain fixture — this forced mode exists to gate contract cheaply.)
    O.MIN_CHAIN_FRACTION = -1.0


def result_cap(driver_memory: str) -> str:
    """``spark.driver.maxResultSize`` for a driver heap of
    ``driver_memory`` (a JVM size string, MiB when it has no unit): half
    the heap, so an oversized collect fails at Spark's result-size guard
    instead of as a driver OutOfMemoryError."""
    kib = {"k": 1, "m": 1 << 10, "g": 1 << 20, "t": 1 << 30}
    s = driver_memory.strip().lower().removesuffix("b")
    n, unit = (s[:-1], s[-1]) if s[-1] in kib else (s, "m")
    return f"{int(n) * kib[unit] // 2}k"


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: bytes(v).hex() if isinstance(v, (bytes, bytearray))
                else str(v)
            )
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sp: pd.DataFrame, du: pd.DataFrame) -> str:
    if len(sp) != len(du):
        return f"ROWS {len(sp)} vs {len(du)}"
    if sorted(sp.columns) != sorted(du.columns):
        return f"SCHEMA {sorted(sp.columns)} vs {sorted(du.columns)}"
    a, b = normalize(sp), normalize(du)
    for c in a.columns:
        if str(a[c].dtype) == "float64":
            if not np.array_equal(a[c].to_numpy(), b[c].to_numpy(), equal_nan=True):
                mism = np.abs(a[c].to_numpy() - b[c].to_numpy())
                return f"VALUES col {c} max|diff|={np.nanmax(mism):.3e}"
        else:
            if not a[c].equals(b[c]):
                idx = (a[c] != b[c]).idxmax()
                return f"VALUES col {c} first diff @{idx}: {a[c][idx]!r} vs {b[c][idx]!r}"
    return "OK"


def main() -> int:
    args = sys.argv[1:]
    distributed = "--distributed" in args
    if distributed:
        args = [a for a in args if a != "--distributed"]
        force_distributed_paths()
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    con = duckdb.connect()
    # big fixtures (sf1): cap DuckDB's memory and let it spill to disk
    # instead of climbing to the box limit (the closure oracles' verify
    # stage materializes shingle lists per candidate pair)
    con.execute("SET memory_limit='40GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        # driver fixtures are single files; scripts/make_sf.py fixtures
        # are Spark-written directories -> glob the part files for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    # big fixtures: quadratic-OUTPUT contracts (containment/lsh_pairs at
    # sf1) collect tens of millions of rows for the pandas compare —
    # lift the 1g driver collect cap for this harness only, to half the
    # driver heap (A3's payload budget, _local.payload_budget, follows)
    heap = spark_conf(cores=8)["spark.driver.memory"]
    spark = get_spark("oracle_check", cores=8, shuffle_partitions=16,
                      extra_conf={"spark.driver.maxResultSize":
                                  result_cap(heap)})
    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} SPARK ERROR: {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        finally:
            # deterministic block hygiene between queries (see _ckpt.py):
            # each query's final checkpoints are consumed by toPandas
            from bdtopo2refhydro_spark.operators._ckpt import (
                release_all_persistent,
            )

            release_all_persistent(spark)
            spark.catalog.clearCache()
        try:
            du = con.execute(os_[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} DUCKDB ERROR: {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        verdict = compare(name, sp, du)
        print(f"{name:24s} {verdict}  ({len(sp)} rows)")
        if verdict != "OK":
            failures += 1
    spark.stop()
    print(f"\n{'PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
