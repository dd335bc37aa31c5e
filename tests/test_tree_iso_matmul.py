"""Blocked integer matmul vs numpy."""
import random

import numpy as np
import pytest

from bdtopo2refhydro_spark.operators.ml import blocked_matmul


@pytest.mark.parametrize("seed,block", [(3, 4), (11, 3)])
def test_blocked_matmul_vs_numpy(spark, seed, block):
    rng = random.Random(seed)
    n, m, p = 13, 9, 11
    A = np.zeros((n, m), dtype=np.int64)
    B = np.zeros((m, p), dtype=np.int64)
    for _ in range(40):
        A[rng.randrange(n), rng.randrange(m)] = rng.randrange(1, 10)
    for _ in range(40):
        B[rng.randrange(m), rng.randrange(p)] = rng.randrange(1, 10)
    a = spark.createDataFrame(
        [(int(i), int(k), int(A[i, k]))
         for i in range(n) for k in range(m) if A[i, k]],
        "i long, k long, v long")
    b = spark.createDataFrame(
        [(int(k), int(j), int(B[k, j]))
         for k in range(m) for j in range(p) if B[k, j]],
        "k long, j long, v long")
    got = {(r["i"], r["j"]): r["v"]
           for r in blocked_matmul(a, b, block=block).collect()}
    C = A @ B
    # join-aggregate support: (i,j) appears iff some k pairs up
    want = {}
    for i in range(n):
        for j in range(p):
            if any(A[i, k] and B[k, j] for k in range(m)):
                want[(i, j)] = int(C[i, j])
    assert got == want
