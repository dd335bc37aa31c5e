"""Distributed model TRAINING primitives (inference lives in
text.py:linear_classifier_score, clustering in ann.py:kmeans_centroids).

A crawl-curation pipeline trains small models constantly — quality
gates, spam stumps, routing rules. The training loop that matters at
100 TB is the one that is a handful of scans + aggregations, not a
parameter server; a depth-1 decision tree (stump) over integer
features is the canonical example and the weak learner of boosting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decision_stump(df: DataFrame, feature_cols: list[str],
                   label_col: str = "y") -> DataFrame:
    """Exact decision-stump candidate scoring: for every (feature,
    threshold) split, the Gini purity gain as an EXACT integer
    rational — no float accumulates, so training replays bitwise.

    For split v <= t with left/right class counts (pos_l, n_l) /
    (pos_r, n_r), minimizing weighted Gini impurity is maximizing

        score = num / den,
        num = (pos_l² + neg_l²)·n_r + (pos_r² + neg_r²)·n_l
        den = n_l · n_r

    (clear the 1/n_l, 1/n_r denominators; drop the constant n).
    num, den are BIGINT-exact for n up to ~10⁶ rows per feature; the
    one double division used for ranking is a single IEEE op on exact
    integers — deterministic everywhere.

    Plan: one groupBy (feature, value) over the stacked features
    (partial-aggregated map-side: the shuffle carries |distinct
    values| rows, not |rows|), then per-feature cumulative windows —
    the window key is the FEATURE (a handful of partitions, each
    holding only the distinct thresholds). Returns every candidate
    with (n_l, n_r, num, den, score, is_best).
    """
    k = len(feature_cols)
    pairs = ", ".join(f"'{c}', {c}" for c in feature_cols)
    stacked = df.select(
        F.expr(f"stack({k}, {pairs}) AS (feature, v)"),
        F.col(label_col).cast("long").alias("_y"))
    per_v = (stacked.groupBy("feature", "v")
             .agg(F.count("*").alias("_n"), F.sum("_y").alias("_pos")))
    w_cum = (Window.partitionBy("feature").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.partitionBy("feature")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    cand = per_v.select(
        "feature", F.col("v").alias("threshold"),
        F.sum("_n").over(w_cum).alias("n_l"),
        F.sum("_pos").over(w_cum).alias("pos_l"),
        F.sum("_n").over(w_all).alias("n_t"),
        F.sum("_pos").over(w_all).alias("pos_t"))
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r = F.col("n_t") - n_l
    pos_r = F.col("pos_t") - pos_l
    neg_l = n_l - pos_l
    neg_r = n_r - pos_r
    num = ((pos_l * pos_l + neg_l * neg_l) * n_r
           + (pos_r * pos_r + neg_r * neg_r) * n_l)
    den = n_l * n_r
    scored = (cand.where(n_r > 0)
              .select("feature", "threshold",
                      n_l.cast("long").alias("n_l"),
                      n_r.cast("long").alias("n_r"),
                      num.cast("long").alias("num"),
                      den.cast("long").alias("den"),
                      (num.cast("double") / den.cast("double"))
                      .alias("score")))
    w_rank = Window.orderBy(F.desc("score"), "feature", "threshold")
    return scored.withColumn(
        "is_best", F.row_number().over(w_rank) == 1)


def linreg_groups(df: DataFrame, group_col: str = "g",
                  x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-group ordinary least squares over integer samples, exact to
    the bit: one aggregation collects (n, Σx, Σy, Σxy, Σx²) as BIGINTs,
    then

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)          = N / D
        intercept = (Σy·D − Σx·N) / (n·D)

    each a SINGLE IEEE division of exact integers — no float
    accumulation anywhere, so results replay bit-identically on any
    engine/partitioning. One map-side-combined shuffle of 5 longs per
    group; nothing else moves."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count("*").alias("n"), F.sum(x).alias("sx"),
        F.sum(y).alias("sy"), F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"))
    N = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    D = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "g", F.col("n").cast("long").alias("n"),
        (N.cast("double") / D.cast("double")).alias("slope"),
        ((F.col("sy") * D - F.col("sx") * N).cast("double")
         / (F.col("n") * D).cast("double")).alias("intercept"))


def batch_perceptron(df: DataFrame, feature_cols: list[str],
                     label_col: str = "y", rounds: int = 3) -> DataFrame:
    """Batch (gradient-style) perceptron over integer features: per
    round, w += Σ_misclassified y·(1, x…) — the whole update is ONE
    map-side-combined aggregation, so every round is a scan + a
    k+1-long shuffle row, never a parameter server. y ∈ {−1, +1};
    margin ≤ 0 counts as misclassified (so round 1 from w = 0 updates
    on every row). Weights stay a broadcast 1-row DataFrame end to
    end — integer-exact, order-independent, bit-replayable.

    Returns one row: (w0, w1…wk, n_mis) with n_mis evaluated at the
    final weights."""
    k = len(feature_cols)
    ws = ["w0"] + [f"w{i + 1}" for i in range(k)]
    w = df.sparkSession.createDataFrame(
        [tuple([0] * (k + 1))], ", ".join(f"{c} long" for c in ws))
    y = F.col(label_col).cast("long")
    feats = [F.lit(1).cast("long")] + [
        F.col(c).cast("long") for c in feature_cols]

    def margin():
        return y * sum(
            (F.col(ws[i]) * feats[i] for i in range(k + 1)),
            start=F.lit(0).cast("long"))

    for _ in range(rounds):
        joined = df.crossJoin(F.broadcast(w))
        mis = joined.filter(margin() <= 0)
        delta = mis.agg(*[
            F.coalesce(F.sum(y * feats[i]), F.lit(0)).cast("long")
            .alias(f"d{i}") for i in range(k + 1)])
        w = (w.crossJoin(F.broadcast(delta))
             .select(*[(F.col(ws[i]) + F.col(f"d{i}")).alias(ws[i])
                       for i in range(k + 1)]))
        w = w.localCheckpoint(eager=False)
    n_mis = (df.crossJoin(F.broadcast(w)).filter(margin() <= 0)
             .agg(F.count("*").cast("long").alias("n_mis")))
    return w.crossJoin(F.broadcast(n_mis))


def nb_train_predict(train_tokens: DataFrame, probes: DataFrame,
                     vocab_size: int, label_col: str = "label",
                     token_col: str = "token", pid_col: str = "pid",
                     tokens_col: str = "toks") -> DataFrame:
    """Binary multinomial naive Bayes, trained and served in one plan,
    argmax EXACT: with Laplace smoothing the class scores are
    rationals, so instead of comparing float log-likelihoods the
    cross-multiplied integer comparison

        N1·Πⱼ(cnt(tⱼ,1)+1)·(N0+V)^k  >  N0·Πⱼ(cnt(tⱼ,0)+1)·(N1+V)^k

    decides the class with NO rounding anywhere (ties → class 0).
    Products of the small per-token counts are exact in double
    (< 2^53) and the final comparison runs in decimal(38,0), so ANSI
    never overflows. Training is one groupBy over the token stream;
    the count table broadcasts to the probe side (model ≪ corpus — the
    usual 100 TB shape). Probe token arrays must have fixed length k
    per row (k = size(toks), used as the smoothing exponent).

    Returns (pid, p1, p0, pred): the smoothed-count products per class
    and the predicted label."""
    lab = F.col(label_col).cast("long")
    counts = train_tokens.groupBy(F.col(token_col).alias("t")).agg(
        F.sum(F.when(lab == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).alias("c0"))
    totals = train_tokens.agg(
        F.sum(F.when(lab == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).cast("long").alias("n0"))
    ex = probes.select(F.col(pid_col).alias("pid"),
                       F.explode(tokens_col).alias("t"))
    joined = ex.join(F.broadcast(counts), "t", "left")
    per = joined.groupBy("pid").agg(
        F.product(F.coalesce("c1", F.lit(0)) + 1).alias("p1"),
        F.product(F.coalesce("c0", F.lit(0)) + 1).alias("p0"),
        F.count("*").alias("k"))
    dec = "decimal(38,0)"
    v = F.lit(int(vocab_size))
    s1 = (F.col("n1").cast(dec) * F.col("p1").cast(dec)
          * F.pow(F.col("n0") + v, F.col("k")).cast(dec))
    s0 = (F.col("n0").cast(dec) * F.col("p0").cast(dec)
          * F.pow(F.col("n1") + v, F.col("k")).cast(dec))
    return (per.crossJoin(F.broadcast(totals))
            .select("pid", F.col("p1").cast("long").alias("p1"),
                    F.col("p0").cast("long").alias("p0"),
                    F.when(s1 > s0, 1).otherwise(0)
                    .cast("long").alias("pred")))


def blocked_matmul(a: DataFrame, b: DataFrame, *, block: int = 4
                   ) -> DataFrame:
    """Sparse integer matrix multiply C = A·B in BLOCK form — the
    communication-optimal distributed matmul, not the naive cell
    join: cells are grouped into block×block tiles, tile pairs
    (A[bi,bk], B[bk,bj]) meet in ONE equi-join on the inner block
    index, each pair is multiplied densely in numpy inside
    mapInPandas (Arrow-batched, no per-cell Python), and partial
    tiles sum cell-wise in a final groupBy. Shuffled bytes scale with
    tiles, not with cell-pair matches — at 100 TB the tile size is
    the knob that trades replication against partial-sum traffic.

    `a` has columns (i, k, v); `b` has (k, j, v); values must be
    non-negative integers (zero partial products are dropped, which
    is lossless because nothing can cancel). Returns (i, j, v) with
    v = Σ_k a[i,k]·b[k,j] over the joined support, exactly the SQL
    join-aggregate."""
    import pandas as pd

    ab = (a.withColumn("bi", (F.col("i") / block).cast("long"))
          .withColumn("bk", (F.col("k") / block).cast("long"))
          .groupBy("bi", "bk")
          .agg(F.collect_list(F.struct("i", "k", "v")).alias("ac")))
    bb = (b.withColumn("bk", (F.col("k") / block).cast("long"))
          .withColumn("bj", (F.col("j") / block).cast("long"))
          .groupBy("bk", "bj")
          .agg(F.collect_list(F.struct("k", "j", "v")).alias("bc")))
    pairs = ab.join(bb, "bk").select("bi", "bj", "ac", "bc")

    def mult(batches):
        import numpy as np

        for pdf in batches:
            out_i, out_j, out_v = [], [], []
            for _, row in pdf.iterrows():
                acells = row["ac"]
                bcells = row["bc"]
                ai = np.array([c["i"] for c in acells])
                ak = np.array([c["k"] for c in acells])
                av = np.array([c["v"] for c in acells])
                bk_ = np.array([c["k"] for c in bcells])
                bj_ = np.array([c["j"] for c in bcells])
                bv = np.array([c["v"] for c in bcells])
                i0, i1 = ai.min(), ai.max()
                k0 = min(ak.min(), bk_.min())
                k1 = max(ak.max(), bk_.max())
                j0, j1 = bj_.min(), bj_.max()
                A = np.zeros((i1 - i0 + 1, k1 - k0 + 1), dtype=np.int64)
                B = np.zeros((k1 - k0 + 1, j1 - j0 + 1), dtype=np.int64)
                A[ai - i0, ak - k0] = av
                B[bk_ - k0, bj_ - j0] = bv
                C = A @ B
                nz = np.nonzero(C)
                out_i.append(nz[0] + i0)
                out_j.append(nz[1] + j0)
                out_v.append(C[nz])
            if out_i:
                yield pd.DataFrame({
                    "i": np.concatenate(out_i),
                    "j": np.concatenate(out_j),
                    "pv": np.concatenate(out_v)})

    partial = pairs.mapInPandas(mult, "i long, j long, pv long")
    return partial.groupBy("i", "j").agg(F.sum("pv").alias("v"))
