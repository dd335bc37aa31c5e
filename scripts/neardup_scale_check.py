"""Closed-form scale check for the flagship near-dedup pipeline
(`operators/text.py:near_dup_clusters`) at ~1M documents — the scale
where the shingle-set collapse, banded LSH self-join, and O(log n)
component closure all run their real paths (the sf fixtures top out at
50k docs; the DuckDB oracle tops out around the sf1 pair counts).

Fixture (pure integer arithmetic, no RNG — reproducible bit-for-bit):

- N_FAM template families of M docs each. Family f's members are the
  CYCLIC ROTATIONS of a 63-token family-private sequence, doubled —
  every member has the identical cyclic 3-gram shingle SET, so the
  whole family must collapse to one representative and cluster at
  jaccard 1 (the Common-Crawl boilerplate case).
- Families come in linked pairs (2g, 2g+1): the odd family reuses the
  even family's token sequence with ONE position substituted, so the
  rep pair's jaccard is exactly (63-3)/(63+3) = 0.909 — above the 0.5
  threshold, detected iff the two reps share >=1 of the 4 LSH bands.
- N_SINGLE singleton docs over per-doc-private alphabets (pairwise
  jaccard 0 with everything).

Truth oracle: an INDEPENDENT hashlib/python reimplementation of the
engine's minhash math (one md5 per shingle -> 60-bit int mod P ->
affine (a*h+b) mod P, band b = minhash pair (2b, 2b+1)) decides, for
each linked pair, whether the band join can see it. Expected clusters
follow in closed form: family members -> min doc id of the family
(or of the merged pair when the link is visible); singletons -> self.
The engine's full pipeline output must match EXACTLY, row for row.

Also reports LSH link recall (expected ~99.9% at jaccard 0.909 with
4 bands of 2: miss prob per link = (1-0.909^2)^4 ~ 9e-4).

Usage: python scripts/neardup_scale_check.py
env: NEARDUP_N_FAM (default 20000), NEARDUP_M (40),
     NEARDUP_N_SINGLE (200000), NEARDUP_CORES (16)
Exit 0 iff every row matches the closed form.
"""
from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FAM = int(os.environ.get("NEARDUP_N_FAM", 20_000))     # must be even
M = int(os.environ.get("NEARDUP_M", 40))
N_SINGLE = int(os.environ.get("NEARDUP_N_SINGLE", 200_000))
CORES = int(os.environ.get("NEARDUP_CORES", 16))
N_TOK = 63                                               # family seq length
CORPUS = "/tmp/neardup_corpus.parquet"


def family_shingles(f: int) -> list[str]:
    """The 63 cyclic 3-gram shingles of family f's token sequence —
    exactly what shingles_expr produces for any member (doubled
    rotation covers every cyclic window)."""
    def tok(p: int) -> str:
        if f % 2 == 0:
            return f"t{f}_{p}"
        return f"x{f}" if p == 0 else f"t{f - 1}_{p}"
    return [
        f"{tok(p)} {tok((p + 1) % N_TOK)} {tok((p + 2) % N_TOK)}"
        for p in range(N_TOK)
    ]


def band_tuples(shingles: list[str], A: list[int], B: list[int],
                P: int, n_hashes: int, band: int) -> list[tuple]:
    """Engine-formula minhash signature -> band tuples, reimplemented
    independently with hashlib (the engine side is SQL md5/conv/pmod)."""
    hvs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P
           for s in shingles]
    mh = [min((A[i] * h + B[i]) % P for h in hvs) for i in range(n_hashes)]
    return [tuple(mh[b * band:(b + 1) * band])
            for b in range(n_hashes // band)]


def family_token_expr(pos: str) -> str:
    """SQL for the token at position ``pos`` of family f's sequence —
    the engine-side twin of family_shingles' tok()."""
    return (f"CASE WHEN f % 2 = 0 THEN concat('t', f, '_', {pos}) "
            f"WHEN {pos} = 0 THEN concat('x', f) "
            f"ELSE concat('t', f - 1, '_', {pos}) END")


def write_corpus(spark, n_fam: int, m: int, n_single: int,
                 path: str, parts: int) -> int:
    """Land the planted corpus as parquet: n_fam cyclic-rotation
    template families of m docs + n_single private-alphabet singletons
    (see module docstring). Pure integer SQL — bit-reproducible.
    Returns the doc count. Shared with bench_scaling_neardup.py."""
    from pyspark.sql import functions as F  # noqa: F401

    n_docs = n_fam * m + n_single
    docs = spark.range(0, n_docs, 1, parts).selectExpr(
        "id as doc_id",
        f"id div {m} as f",
        f"id % {m} as j",
    ).selectExpr(
        "doc_id",
        f"""CASE WHEN doc_id >= {n_fam * m} THEN
              concat('s', doc_id, 'a s', doc_id, 'b s', doc_id,
                     'c s', doc_id, 'd s', doc_id, 'e')
            ELSE array_join(transform(sequence(0, {2 * N_TOK - 1}),
              i -> {family_token_expr(f'pmod(j + i, {N_TOK})')}), ' ')
            END as text""",
    )
    docs.write.mode("overwrite").parquet(path)
    return n_docs


def main() -> int:
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.operators.text import (
        LSH_BAND_SIZE, MINHASH_A, MINHASH_B, MINHASH_HASHES, MINHASH_P,
        near_dup_clusters)
    from bdtopo2refhydro_spark.session import get_spark

    assert N_FAM % 2 == 0
    n_docs = N_FAM * M + N_SINGLE

    # -- truth: which linked pairs does the band join see? -------------
    t0 = time.monotonic()
    merged = []
    for g in range(N_FAM // 2):
        be = band_tuples(family_shingles(2 * g), MINHASH_A, MINHASH_B,
                         MINHASH_P, MINHASH_HASHES, LSH_BAND_SIZE)
        bo = band_tuples(family_shingles(2 * g + 1), MINHASH_A, MINHASH_B,
                         MINHASH_P, MINHASH_HASHES, LSH_BAND_SIZE)
        merged.append(any(x == y for x, y in zip(be, bo)))
    n_found = sum(merged)
    print(f"oracle: {n_found}/{N_FAM // 2} links band-visible "
          f"(recall {n_found / (N_FAM // 2):.4f}) "
          f"in {time.monotonic() - t0:.1f}s")

    spark = get_spark("neardup_scale", cores=CORES,
                      shuffle_partitions=2 * CORES)

    # -- corpus: 1M docs, all-integer projection ----------------------
    t0 = time.monotonic()
    write_corpus(spark, N_FAM, M, N_SINGLE, CORPUS, 4 * CORES)
    print(f"corpus written: {n_docs:,} docs in "
          f"{time.monotonic() - t0:.1f}s")

    # -- engine: the full near-dedup pipeline -------------------------
    t0 = time.monotonic()
    corpus = spark.read.parquet(CORPUS)
    out = near_dup_clusters(corpus, threshold=0.5)

    link = spark.createDataFrame(
        [(g, bool(m)) for g, m in enumerate(merged)], "g long, m boolean")
    expect = (
        F.when(F.col("doc_id") >= N_FAM * M, F.col("doc_id"))
        .when(F.col("m"), (F.col("f") - F.col("f") % 2) * M)
        .otherwise(F.col("f") * M)
    )
    chk = (
        out.withColumn("f", F.expr(f"doc_id div {M}"))
        .join(F.broadcast(link),
              F.expr(f"f div 2") == F.col("g"), "left")
        .select(
            F.count("*").alias("n"),
            F.sum((F.col("cluster_id") != expect).cast("long"))
            .alias("bad_cluster"),
            F.sum((F.col("keep") != (F.col("cluster_id") == F.col("doc_id")))
                  .cast("long")).alias("bad_keep"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        ).first()
    )
    wall = time.monotonic() - t0
    exp_keep = N_SINGLE + N_FAM - n_found
    print(f"engine: {chk['n']:,} rows in {wall:.1f}s on {CORES} cores "
          f"({chk['n'] / wall:,.0f} docs/s); keep={chk['n_keep']:,} "
          f"(expected {exp_keep:,})")
    ok = (chk["n"] == n_docs and chk["bad_cluster"] == 0
          and chk["bad_keep"] == 0 and chk["n_keep"] == exp_keep)
    print("PASS" if ok else
          f"FAIL: bad_cluster={chk['bad_cluster']} "
          f"bad_keep={chk['bad_keep']}")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
