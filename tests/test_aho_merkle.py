"""Merkle levels + dense_index (batch 87)."""
import hashlib

from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators.aggregate import dense_index
from bdtopo2refhydro_spark.operators.dq import merkle_levels


def test_dense_index_non_contiguous_keys(spark):
    keys = [5, 999, 17, 300, 42, 7, 100000, 0]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["k"]: r["idx"]
           for r in dense_index(df, "k", num_partitions=3).collect()}
    assert got == {k: i for i, k in enumerate(sorted(keys))}


def _merkle_ref(leaves):
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    out = [(0, i, d) for i, d in enumerate(leaves)]
    lvl, cur = 0, leaves
    while len(cur) > 1:
        nxt = []
        for i in range(0, len(cur), 2):
            l = cur[i]
            r = cur[i + 1] if i + 1 < len(cur) else ""
            nxt.append(md5(l + r))
        lvl += 1
        cur = nxt
        out += [(lvl, i, d) for i, d in enumerate(cur)]
    return set(out)


def test_merkle_levels_vs_hashlib_and_sensitivity(spark):
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    vals = [(i, (i * 7) % 13) for i in range(5)]
    df = spark.createDataFrame(vals, "k long, v long")
    leaf = F.md5(F.concat(F.col("k").cast("string"), F.lit(":"),
                          F.col("v").cast("string")))
    got = {(r["level"], r["idx"], r["digest"])
           for r in merkle_levels(df, leaf, "k").collect()}
    want = _merkle_ref([md5(f"{k}:{v}") for k, v in vals])
    assert got == want

    # perturb one row -> root digest changes
    vals2 = [(k, v + (1 if k == 3 else 0)) for k, v in vals]
    df2 = spark.createDataFrame(vals2, "k long, v long")
    root = lambda rows: next(d for (l, i, d) in rows
                             if l == max(x[0] for x in rows))
    got2 = {(r["level"], r["idx"], r["digest"])
            for r in merkle_levels(df2, leaf, "k").collect()}
    assert root(got) != root(got2)
