"""linreg_groups / batch_perceptron / nb_train_predict vs exact
python references (integer arithmetic, Fraction argmax)."""

import random
from fractions import Fraction

from bdtopo2refhydro_spark.operators.ml import (
    batch_perceptron, linreg_groups, nb_train_predict)


def test_linreg_groups_exact(spark):
    rng = random.Random(2)
    rows = []
    for g in range(5):
        for _ in range(120):
            x = rng.randrange(0, 100)
            rows.append((g, x, 3 * x + rng.randrange(-7, 8) + g))
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r["g"]: (r["n"], r["slope"], r["intercept"])
           for r in linreg_groups(df).collect()}
    for g in range(5):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        N = n * sxy - sx * sy
        D = n * sxx - sx * sx
        assert got[g] == (n, N / D, (sy * D - sx * N) / (n * D))


def _perceptron_ref(pts, rounds):
    w = [0, 0, 0]
    for _ in range(rounds):
        d = [0, 0, 0]
        for x1, x2, y in pts:
            if y * (w[0] + w[1] * x1 + w[2] * x2) <= 0:
                d[0] += y
                d[1] += y * x1
                d[2] += y * x2
        w = [a + b for a, b in zip(w, d)]
    n_mis = sum(1 for x1, x2, y in pts
                if y * (w[0] + w[1] * x1 + w[2] * x2) <= 0)
    return w, n_mis


def test_batch_perceptron_matches_reference(spark):
    rng = random.Random(6)
    pts = []
    for _ in range(300):
        x1, x2 = rng.randrange(-10, 11), rng.randrange(-10, 11)
        y = 1 if 2 * x1 - x2 + 1 > 0 else -1
        pts.append((x1, x2, y))
    df = spark.createDataFrame(pts, "x1 long, x2 long, y long")
    row = batch_perceptron(df, ["x1", "x2"], rounds=4).collect()[0]
    w, n_mis = _perceptron_ref(pts, 4)
    assert [row["w0"], row["w1"], row["w2"]] == w
    assert row["n_mis"] == n_mis
    assert n_mis < 300  # training actually reduced error


def test_nb_train_predict_matches_fraction_argmax(spark):
    rng = random.Random(4)
    V = 10
    train = [(rng.randrange(0, 2), rng.randrange(0, V))
             for _ in range(400)]
    probes = [(p, [rng.randrange(0, V) for _ in range(4)])
              for p in range(30)]
    tdf = spark.createDataFrame(train, "label long, token long")
    pdf = spark.createDataFrame(probes, "pid long, toks array<long>")
    got = {r["pid"]: (r["p1"], r["p0"], r["pred"])
           for r in nb_train_predict(tdf, pdf, V).collect()}
    from collections import Counter
    cnt = Counter(train)
    n1 = sum(1 for lab, _ in train if lab == 1)
    n0 = len(train) - n1
    for pid, toks in probes:
        p1 = p0 = 1
        for t in toks:
            p1 *= cnt[(1, t)] + 1
            p0 *= cnt[(0, t)] + 1
        s1 = Fraction(n1, n1 + len(train)) * Fraction(p1, (n1 + V) ** 4)
        s0 = Fraction(n0, n0 + len(train)) * Fraction(p0, (n0 + V) ** 4)
        # same argmax as the cross-multiplied integer comparison
        pred = 1 if n1 * p1 * (n0 + V) ** 4 > n0 * p0 * (n1 + V) ** 4 else 0
        assert s1 > s0 if pred == 1 else s1 <= s0
        assert got[pid] == (p1, p0, pred)
