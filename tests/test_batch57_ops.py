"""pareto_skyline vs brute dominance."""

import random

from bdtopo2refhydro_spark.operators.corpus import pareto_skyline


def test_skyline_vs_brute(spark):
    rng = random.Random(3)
    rows = [(g, rng.randrange(0, 100), rng.randrange(0, 100))
            for g in range(3) for _ in range(150)]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {(r["g"], r["x"], r["y"])
           for r in pareto_skyline(df, "x", "y").collect()}
    pts = {}
    for g, x, y in rows:
        pts.setdefault(g, set()).add((x, y))
    expected = set()
    for g, s in pts.items():
        for p in s:
            if not any(q[0] <= p[0] and q[1] <= p[1] and q != p
                       and (q[0] < p[0] or q[1] < p[1]) for q in s):
                expected.add((g, *p))
    # engine pre-collapses x ties to min y; brute must too
    collapsed = set()
    for g, x, y in expected:
        ymin = min(yy for gg, xx, yy in expected
                   if gg == g and xx == x)
        if y == ymin:
            collapsed.add((g, x, y))
    assert got == collapsed
