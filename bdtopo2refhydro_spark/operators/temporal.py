"""Temporal join operators over the events stream.

Spark has no built-in AS-OF or interval/range join; the naive spellings
(`l.ts >= r.ts` inequality joins) plan as BroadcastNestedLoopJoin — an
O(N·M) scan that dies long before 100 TB. These operators re-express both
as shuffle-friendly compositions:

- ``asof_join``: union the two sides, one window pass per key ordered by
  time, ``last(value, ignorenulls=True)`` carries the most recent right
  value forward onto left rows. Exactly ONE shuffle (hash on the key),
  no join at all — the classic "merge as-of" lowered onto Spark's
  sort-based window operator, so it scales to any number of keys and
  AQE handles hot keys.
- ``range_join_buckets``: decompose intervals into fixed-width time
  buckets (explode ×(interval_width/bucket+1)), bucket each point once,
  then a plain equi-join on the bucket key + an exact residual filter.
  Each point carries ONE bucket, so no post-join dedup is needed. This
  is the standard bucketed interval join (cf. the same trick for
  spatial cells in operators/spatial.py).
- ``time_rollup``: hypertable-style continuous-aggregate shape —
  date_trunc bucketing + groupBy, fully codegen'd, partial aggregation
  map-side.

Reference parity note: the reference has no temporal joins (PyQGIS,
bdtopo2refhydro); these extend the engine for the web-scale event/crawl
tables per the graft brief (as-of join / range join / hypertable rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_col: str,
    *,
    default: int = -1,
    out_col: str | None = None,
) -> DataFrame:
    """For every left row, attach the right ``value_col`` with the largest
    right ``ts`` <= left ``ts`` for the same ``key`` (an AS-OF backward
    join, right-inclusive at ties).

    right must be unique per (key, ts) — callers dedupe first (see
    ``dedup_right_per_ts``); with duplicates the result would depend on
    shuffle order. Left rows with no prior right row get ``default``
    (kept non-null so the column stays integral end-to-end — a NULL long
    lands as float64 in pandas/Arrow, CLAUDE.md).

    Plan shape: union(left, right) → window(partition key, order ts,
    right-before-left at equal ts) → last(ignorenulls) → filter left.
    One hash shuffle on ``key``; no nested-loop join.
    """
    out_col = out_col or value_col
    lhs = left.select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.lit(1).alias("is_left"),
        F.lit(None).cast("bigint").alias("v"),
        F.struct(*left.columns).alias("row"),
    )
    rhs = right.select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.lit(0).alias("is_left"),
        F.col(value_col).cast("bigint").alias("v"),
        F.lit(None).cast(lhs.schema["row"].dataType).alias("row"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lhs.unionByName(rhs).withColumn(
        "asof_v", F.last("v", ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("is_left") == 1)
        .select("row.*", F.coalesce("asof_v", F.lit(default)).alias(out_col))
    )


def dedup_right_per_ts(right: DataFrame, key: str, ts: str,
                       value_col: str) -> DataFrame:
    """Collapse an as-of right side to one row per (key, ts) by keeping
    the max value — a deterministic tie-break so asof_join is
    shuffle-order independent."""
    return right.groupBy(key, ts).agg(F.max(value_col).alias(value_col))


def range_join_buckets(
    points: DataFrame,
    intervals: DataFrame,
    ts: str,
    start: str,
    end: str,
    bucket_width: int,
) -> DataFrame:
    """Join each point row to every interval with start <= ts < end
    (half-open), via fixed-width bucket decomposition.

    ``ts``/``start``/``end`` are integer epoch microseconds (exactness:
    no float time arithmetic anywhere). Intervals explode into the
    buckets they overlap — sequence(start div w, (end-1) div w) — while
    each point maps to exactly one bucket, so the bucket equi-join
    produces each qualifying pair exactly once and no dedup shuffle is
    needed. Pick ``bucket_width`` ≈ the typical interval width so the
    explode factor stays ~2.
    """
    w = int(bucket_width)
    # `div` = exact BIGINT division (a double-divide-then-cast could round
    # across a bucket boundary for epoch-µs magnitudes)
    iv = intervals.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"({start}) div {w}"),
                F.expr(f"(({end}) - 1) div {w}"),
            )
        ),
    )
    pt = points.withColumn("bucket", F.expr(f"({ts}) div {w}"))
    cond = (
        (pt["bucket"] == iv["bucket"])
        & (pt[ts] >= iv[start])
        & (pt[ts] < iv[end])
    )
    return pt.join(iv, cond).drop(iv["bucket"]).drop("bucket")


def time_rollup(events: DataFrame, ts: str, *group_cols: str,
                bucket: str = "hour", aggs: list | None = None) -> DataFrame:
    """Hypertable-style rollup: truncate ``ts`` to ``bucket`` and
    aggregate per (bucket, *group_cols). The bucket column is emitted as
    a formatted string so Arrow/pandas datetime64 unit mismatches (ns vs
    us between Spark and DuckDB) can't poison value comparison."""
    aggs = aggs or [F.count("*").alias("n")]
    b = F.date_trunc(bucket, F.col(ts).cast("timestamp"))
    return (
        events.withColumn("bucket_ts",
                          F.date_format(b, "yyyy-MM-dd HH:mm:ss"))
        .groupBy("bucket_ts", *group_cols)
        .agg(*aggs)
    )


def forward_fill(df: DataFrame, value_col: str, *,
                 key_col: str, order_col: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward): replace NULLs in
    ``value_col`` with the most recent non-NULL value within the key's
    ordered history — the classic sparse-timeline gap-fill (sensor
    readings, last-seen prices, session attributes).

    One window, zero joins: ``last(value, ignorenulls=True)`` over
    ROWS UNBOUNDED PRECEDING..CURRENT — a single sort-within-partition
    per key, so the plan is one Exchange + one Window and the big table
    never self-joins (the naive as-of spelling would). Adds
    ``<value_col>_filled``; rows before the first observation stay NULL.
    """
    w = (Window.partitionBy(key_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(
        f"{value_col}_filled",
        F.last(F.col(value_col), ignorenulls=True).over(w))


def arrow_group_rollup(events: DataFrame, *, buckets: int = 64) -> DataFrame:
    """Grouped applyInArrow (Spark 4): per-user integer rollup computed
    INSIDE Arrow — the fourth grouped API next to applyInPandas /
    cogroup / applyInPandasWithState, with zero pandas materialization
    (columnar end-to-end).

    Groups are ``user mod buckets`` so the Arrow boundary sees
    ``buckets`` big batches, and the per-user group_by runs inside
    pyarrow. All integers. Returns (user_id, n_events, sum_id).
    """
    import pyarrow as pa

    ev = events.select(
        (F.col("user_id") % buckets).alias("bucket"),
        "user_id",
        (F.col("event_id") % 1000).cast("long").alias("idm"))

    def rollup(t: pa.Table) -> pa.Table:
        g = t.group_by("user_id").aggregate(
            [("idm", "count"), ("idm", "sum")])
        return pa.table({
            "user_id": g.column("user_id"),
            "n_events": g.column("idm_count").cast(pa.int64()),
            "sum_id": g.column("idm_sum").cast(pa.int64()),
        })

    return (ev.groupBy("bucket")
            .applyInArrow(rollup,
                          "user_id bigint, n_events bigint, "
                          "sum_id bigint"))


def merge_intervals(df: DataFrame, *, key_col: str, start_col: str,
                    end_col: str) -> DataFrame:
    """Merge overlapping/touching intervals per key (the classic sweep
    line): coalesce [s,e] intervals that overlap a previously seen one
    into maximal segments — session stitching, IP-range coalescing,
    covered-airtime computation.

    Distributed shape: sort within key by (start, end), flag a NEW
    segment when start exceeds the running max of all previous ends
    (``max(end) OVER ... 1 PRECEDING``), number segments with a running
    sum of the flags, then groupBy (key, seg_id). ONE Exchange total:
    the two windows and the final groupBy all hash on ``key_col`` (a
    HashPartitioning on key satisfies the (key, seg_id) clustering —
    subset rule), so the big table shuffles once and never self-joins
    (the naive spelling is an O(N^2) interval self-join).

    Tie-safety: rows tied on (start, end) are byte-identical for the
    sweep, so the result is order-deterministic. Returns
    (key, seg_start, seg_end), one row per merged segment.
    """
    w_prev = (Window.partitionBy(key_col).orderBy(start_col, end_col)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy(key_col).orderBy(start_col, end_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = df.withColumn(
        "_new_seg",
        F.when(F.col(start_col)
               > F.max(end_col).over(w_prev), 1)
        .when(F.max(end_col).over(w_prev).isNull(), 1)
        .otherwise(0))
    numbered = flagged.withColumn("_seg_id",
                                  F.sum("_new_seg").over(w_run))
    return (numbered.groupBy(key_col, "_seg_id")
            .agg(F.min(start_col).alias("seg_start"),
                 F.max(end_col).alias("seg_end"))
            .drop("_seg_id"))


def cohort_retention(df: DataFrame, *, user_col: str,
                     period_col: str) -> DataFrame:
    """Cohort-retention matrix: assign each user to the cohort of their
    FIRST active period, then count distinct users per (cohort, period)
    — the standard retention triangle over any integer period column.

    Distributed shape: pre-repartition on the user, so the
    (user, period) distinct, the per-user min() window, and nothing
    else shuffle the big table — the only further Exchange is the final
    tiny (cohort, period) rollup (HashPartitioning(user) satisfies the
    (user, period) clustering — subset rule). Returns
    (cohort, period, n_users), all BIGINT.
    """
    per = (df.select(user_col, period_col)
           .repartition(F.col(user_col))
           .groupBy(user_col, period_col).agg(F.lit(1).alias("_one")))
    w = Window.partitionBy(user_col)
    cohorted = per.withColumn("cohort",
                              F.min(period_col).over(w))
    return (cohorted.groupBy("cohort", F.col(period_col).alias("period"))
            .agg(F.count("*").cast("long").alias("n_users"))
            .select(F.col("cohort").cast("long"),
                    F.col("period").cast("long"), "n_users"))


def gap_fill_counts(df: DataFrame, *, key_col: str,
                    period_col: str) -> DataFrame:
    """Gap-filled per-key activity series: densify each key's period
    axis from its first to its last active period (the "time spine")
    and left-join the observed counts, zero-filling gaps — the step
    every calendar rollup / retention curve needs before charting or
    windowing, since missing periods silently skew moving averages.

    Scale shape: counts and bounds are two aggregates on the same key
    hash; the spine is sequence()+explode over [min, max] per key (row
    growth bounded by the span, not the data), and the final join is on
    (key, period). No global calendar table, no cross join. Returns
    (key, period, n) with n = 0 on gaps.
    """
    act = (df.groupBy(key_col, period_col)
           .agg(F.count("*").cast("long").alias("n")))
    bounds = act.groupBy(key_col).agg(
        F.min(period_col).alias("_pmin"), F.max(period_col).alias("_pmax"))
    spine = bounds.select(
        key_col,
        F.explode(F.sequence("_pmin", "_pmax")).alias(period_col))
    return (spine.join(act, [key_col, period_col], "left")
            .select(key_col,
                    F.col(period_col).cast("long").alias(period_col),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))


def asof_join_forward(left: DataFrame, right: DataFrame, key: str,
                      ts: str, value_col: str, *,
                      tolerance: int | None = None, default: int = -1,
                      out_col: str | None = None) -> DataFrame:
    """FORWARD as-of join: for every left row, the right ``value_col``
    with the SMALLEST right ts >= left ts for the same key (inclusive
    at ties), optionally only when the gap <= ``tolerance`` — the
    pandas merge_asof(direction='forward') semantics, built with the
    same zero-join union+window trick as the backward asof_join: one
    hash shuffle on the key, a DESCENDING-ts running last(ignorenulls)
    (right sorts before left at equal ts so ties match), never a range
    join. right must be unique per (key, ts). Left rows with no
    (in-tolerance) successor get ``default``."""
    out_col = out_col or value_col
    lhs = left.select(
        F.col(key).alias("k"), F.col(ts).cast("long").alias("t"),
        F.lit(1).alias("is_left"),
        F.lit(None).cast("bigint").alias("v"),
        F.lit(None).cast("bigint").alias("vt"),
        F.struct(*left.columns).alias("row"))
    rhs = right.select(
        F.col(key).alias("k"), F.col(ts).cast("long").alias("t"),
        F.lit(0).alias("is_left"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(ts).cast("long").alias("vt"),
        F.lit(None).cast(
            lhs.schema["row"].dataType.simpleString()).alias("row"))
    w = (Window.partitionBy("k")
         .orderBy(F.desc("t"), F.asc("is_left"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    picked = (lhs.unionByName(rhs)
              .withColumn("_pv", F.last("v", ignorenulls=True).over(w))
              .withColumn("_pt", F.last("vt", ignorenulls=True).over(w))
              .where(F.col("is_left") == 1))
    ok = F.col("_pv").isNotNull()
    if tolerance is not None:
        ok = ok & ((F.col("_pt") - F.col("t")) <= tolerance)
    return picked.select(
        "row.*",
        F.when(ok, F.col("_pv")).otherwise(F.lit(default))
        .cast("long").alias(out_col))


def rmq_sparse_table(seq: DataFrame, queries: DataFrame, *,
                     idx: str = "i", val: str = "v", qid: str = "qid",
                     lo: str = "l", hi: str = "r") -> DataFrame:
    """Batch range-minimum queries via a SPARSE TABLE built in
    O(log n) distributed rounds: level k holds min over [i, i+2^k),
    built from level k-1 by ONE shifted equi-join per round; a query
    [l, r] is answered by the two overlapping power-of-two windows
    min(M[k][l], M[k][r-2^k+1]) with k = floor(log2(r-l+1)) computed
    integer-exactly as length(bin(len))-1 — no libm. Two broadcast-
    friendly equi-joins answer the whole query batch.

    seq: (i, v) with i = 0..n-1 dense; queries: (qid, l, r) with
    0 <= l <= r < n. Returns (qid, mn)."""
    n = seq.count()
    kmax = max(0, n.bit_length() - 1)
    level = seq.select(F.col(idx).cast("long").alias("i"),
                       F.col(val).cast("long").alias("v")) \
        .localCheckpoint(eager=False)
    levels = {0: level}
    for k in range(1, kmax + 1):
        half = 1 << (k - 1)
        prev = levels[k - 1]
        nxt = (prev.alias("a")
               .join(prev.select((F.col("i") - half).alias("i"),
                                 F.col("v").alias("v2")).alias("b"),
                     "i")
               .select("i", F.least("v", "v2").alias("v"))
               .localCheckpoint(eager=False))
        levels[k] = nxt
    qs = queries.select(
        F.col(qid).alias("qid"), F.col(lo).cast("long").alias("l"),
        F.col(hi).cast("long").alias("r")) \
        .withColumn("k", F.expr("length(bin(r - l + 1)) - 1")
                    .cast("int"))
    out = None
    for k in range(0, kmax + 1):
        sub = qs.where(F.col("k") == k)
        lv = levels[k]
        res = (sub.join(lv.select(F.col("i").alias("l"),
                                  F.col("v").alias("v1")), "l")
               .join(lv.select(
                   (F.col("i") + (1 << k) - 1).alias("r"),
                   F.col("v").alias("v2")), "r")
               .select("qid", F.least("v1", "v2").alias("mn")))
        out = res if out is None else out.unionByName(res)
    return out


def token_bucket(events: DataFrame, *, key: str = "host",
                 ts_us: str = "t", eid: str = "event_id",
                 cap: int = 3, refill_us: int = 5_000_000,
                 n_buckets: int = 64) -> DataFrame:
    """Per-key token-bucket rate limiting — crawl politeness /
    API-throttling semantics: each key starts FULL (cap tokens); an
    event first refills floor(Δt / refill_us) tokens (clamped at
    cap), then is ACCEPTED iff a token is available (consuming one).
    The min(cap, ·) clamp makes the recurrence genuinely
    NON-ASSOCIATIVE — no window algebra expresses it — so this is
    the (b)-tier custom stateful operator: an Arrow-batched
    applyInPandas scan per key, with keys hashed into n_buckets so
    thousands of tiny groups cost ~64 UDF calls, not thousands
    (CLAUDE.md per-group-overhead rule). All-integer microsecond
    arithmetic ⟹ bit-deterministic. Returns
    (key, event_id, accepted)."""
    import pandas as pd

    k, t, e = key, ts_us, eid

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for kv, g in pdf.groupby(k, sort=False):
            g = g.sort_values([t, e])
            tok = cap
            prev = None
            for tt, ee in zip(g[t], g[e]):
                if prev is not None:
                    tok = min(cap, tok + (tt - prev) // refill_us)
                prev = tt
                acc = tok >= 1
                if acc:
                    tok -= 1
                out.append((kv, ee, acc))
        return pd.DataFrame(out, columns=[k, e, "accepted"])

    src = events.select(F.col(k), F.col(t), F.col(e)) \
        .withColumn("_bk", F.pmod(F.xxhash64(F.col(k)),
                                  F.lit(n_buckets)))
    return (src.groupBy("_bk")
            .applyInPandas(lambda pdf: run(pdf),
                           f"{k} long, {e} long, accepted boolean"))
