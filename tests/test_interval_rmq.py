"""Sparse-table RMQ (batch 86) vs python references."""
import random

import pytest

from bdtopo2refhydro_spark.operators.temporal import rmq_sparse_table


@pytest.mark.parametrize("seed", [7, 23])
def test_rmq_sparse_table_vs_direct(spark, seed):
    rng = random.Random(seed)
    n = 120
    vals = [rng.randrange(-1000, 1000) for _ in range(n)]
    seq = spark.createDataFrame(list(enumerate(vals)), "i long, v long")
    qs = []
    for qid in range(50):
        l = rng.randrange(n)
        r = rng.randrange(l, n)
        qs.append((qid, l, r))
    qdf = spark.createDataFrame(qs, "qid long, l long, r long")
    got = {r["qid"]: r["mn"]
           for r in rmq_sparse_table(seq, qdf).collect()}
    assert got == {qid: min(vals[l:r + 1]) for qid, l, r in qs}


@pytest.mark.parametrize("seed", [5, 37])
def test_rect_union_area_vs_cell_counting(spark, seed):
    from bdtopo2refhydro_spark.operators.geometry import rect_union_area

    rng = random.Random(seed)
    rows = []
    want = {}
    for g in range(4):
        covered = set()
        for _ in range(rng.randrange(1, 15)):
            x1 = rng.randrange(0, 30)
            x2 = x1 + rng.randrange(1, 12)
            y1 = rng.randrange(0, 30)
            y2 = y1 + rng.randrange(1, 12)
            rows.append((g, x1, x2, y1, y2))
            covered |= {(x, y) for x in range(x1, x2)
                        for y in range(y1, y2)}
        want[g] = len(covered)
    df = spark.createDataFrame(
        rows, "g long, x1 long, x2 long, y1 long, y2 long")
    got = {r["g"]: r["area"] for r in rect_union_area(df).collect()}
    assert got == want


def test_token_bucket_clamp_and_refill(spark):
    from bdtopo2refhydro_spark.operators.temporal import token_bucket

    S = 5_000_000  # one token per 5s
    rows = [
        # host 1: burst of 4 -> 3 accepted, 1 rejected; then a long
        # wait refills to cap (clamped), burst of 4 again
        (1, 0 * S, 1), (1, 0 * S + 1, 2), (1, 0 * S + 2, 3),
        (1, 0 * S + 3, 4),
        (1, 100 * S, 5), (1, 100 * S + 1, 6), (1, 100 * S + 2, 7),
        (1, 100 * S + 3, 8),
        # host 2: exactly one refill interval between events
        (2, 0, 10), (2, S, 11), (2, 2 * S - 1, 12), (2, 2 * S, 13),
    ]
    df = spark.createDataFrame(rows, "host long, t long, event_id long")
    got = {(r["host"], r["event_id"]): r["accepted"]
           for r in token_bucket(df).collect()}
    assert [got[(1, i)] for i in range(1, 9)] == \
        [True, True, True, False, True, True, True, False]
    # host 2: start 3 -> 2; +1 refill -> 3? clamp: 2+1=3 -> accept -> 2;
    # 0 refills (dt=S-1) -> accept -> 1; +0? dt=1 -> accept -> 0
    assert [got[(2, i)] for i in (10, 11, 12, 13)] == \
        [True, True, True, True]
