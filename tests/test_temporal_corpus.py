"""Temporal-join and corpus-curation operator tests on hand-checked rows.

Covers operators/temporal.py (as-of join, bucketed range join, time
rollup) and operators/corpus.py (paragraph dedup, stratified sampling,
top-k tokens, KMV sketch) against small fixtures where the expected
output is computable by hand.
"""

import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators import corpus as C
from bdtopo2refhydro_spark.operators import temporal as T


# ---------------------------------------------------------------------------
# temporal
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def trades(spark):
    # (id, key, ts)
    rows = [(1, 10, 100), (2, 10, 205), (3, 10, 300),
            (4, 20, 150), (5, 20, 151), (6, 30, 50)]
    return spark.createDataFrame(rows, "id long, key long, ts long")


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, ts, px)
    rows = [(10, 100, 7), (10, 200, 8), (10, 301, 9),
            (20, 150, 5), (40, 1, 99)]
    return spark.createDataFrame(rows, "key long, ts long, px long")


def test_asof_backward_semantics(trades, quotes):
    out = {r.id: r.px
           for r in T.asof_join(trades, quotes, "key", "ts", "px").collect()}
    assert out[1] == 7      # tie at equal ts is inclusive
    assert out[2] == 8      # most recent prior, not the later 301
    assert out[3] == 8      # quote at 301 is in the future
    assert out[4] == 5
    assert out[5] == 5      # carried forward past the quote ts
    assert out[6] == -1     # key with no quotes at all -> default
    assert len(out) == 6    # every left row survives exactly once


def test_asof_dedup_right(spark):
    dup = spark.createDataFrame([(1, 10, 3), (1, 10, 9), (1, 20, 4)],
                                "key long, ts long, px long")
    ded = T.dedup_right_per_ts(dup, "key", "ts", "px").collect()
    assert {(r.key, r.ts, r.px) for r in ded} == {(1, 10, 9), (1, 20, 4)}


def test_range_join_buckets_half_open_and_exact_once(spark):
    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 99, 100, 150, 199, 200, 500])],
        "pid long, ts long")
    iv = spark.createDataFrame(
        [(0, 100, 200), (1, 150, 400)], "iid long, s long, e long")
    out = T.range_join_buckets(pts, iv, "ts", "s", "e", bucket_width=100)
    pairs = sorted((r.pid, r.iid) for r in out.collect())
    # half-open [s, e): ts=100 in iv0, ts=199 in iv0, ts=200 NOT in iv0;
    # ts in {150,199,200} in iv1; each qualifying pair appears exactly once
    assert pairs == [(2, 0), (3, 0), (3, 1), (4, 0), (4, 1), (5, 1)]


def test_range_join_interval_wider_than_bucket(spark):
    # interval spans many buckets; the point in the middle still joins once
    pts = spark.createDataFrame([(0, 555)], "pid long, ts long")
    iv = spark.createDataFrame([(7, 100, 1000)], "iid long, s long, e long")
    out = T.range_join_buckets(pts, iv, "ts", "s", "e", bucket_width=10)
    assert [(r.pid, r.iid) for r in out.collect()] == [(0, 7)]


def test_time_rollup_hour_buckets(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 10:15:00", "a"), ("2024-01-01 10:45:00", "a"),
         ("2024-01-01 11:05:00", "a"), ("2024-01-01 10:20:00", "b")],
        "ts string, event_type string")
    out = {(r.bucket_ts, r.event_type): r.n
           for r in T.time_rollup(ev, "ts", "event_type").collect()}
    assert out[("2024-01-01 10:00:00", "a")] == 2
    assert out[("2024-01-01 11:00:00", "a")] == 1
    assert out[("2024-01-01 10:00:00", "b")] == 1


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

def test_dedup_paragraphs_removes_frequent_chunk(spark):
    boiler = "b " * 2 + "b"          # 3-word boilerplate chunk "b b b"
    docs = spark.createDataFrame(
        [(0, f"{boiler} u0 u1 u2"), (1, f"{boiler} v0 v1 v2"),
         (2, f"{boiler} w0 w1 w2"), (3, boiler)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           C.dedup_paragraphs(docs, chunk_words=3, max_df=2).collect()}
    assert len(out) == 4             # every doc survives, even if emptied
    assert out[0].clean_text == "u0 u1 u2"
    assert out[0].n_chunks == 2 and out[0].n_removed == 1
    assert out[3].clean_text == "" and out[3].n_removed == 1


def test_dedup_paragraphs_keeps_rare_chunks_in_order(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e f")], "doc_id long, text string")
    out = C.dedup_paragraphs(docs, chunk_words=2, max_df=2).collect()[0]
    assert out.clean_text == "a b c d e f"   # order preserved
    assert out.n_chunks == 3 and out.n_removed == 0


def test_sample_stratified_deterministic_and_thresholded(spark):
    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 == 0 else "xx") for i in range(2000)],
        "doc_id long, text string, lang string")
    rates = {"en": 0.5}
    a = sorted(r.doc_id for r in C.sample_stratified(docs, rates).collect())
    b = sorted(r.doc_id for r in C.sample_stratified(docs, rates).collect())
    assert a == b                                   # no RNG: identical reruns
    assert all(i % 2 == 0 for i in a)               # 'xx' stratum dropped
    assert 0.35 * 1000 < len(a) < 0.65 * 1000       # ~rate of the stratum
    # matches the documented formula exactly
    expect = [i for i in range(0, 2000, 2)
              if ((i % 65536) * 40503) % 65536 < 32768]
    assert a == expect


def test_top_tokens_rank_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(0, "x x x y y z"), (1, "y w  z")], "doc_id long, text string")
    out = [(r.token, r.cnt, r.rank)
           for r in C.top_tokens(docs, k=3).orderBy("rank").collect()]
    # empty tokens from the double space are dropped; y=3 ties x=3 ->
    # token asc breaks the tie
    assert out == [("x", 3, 1), ("y", 3, 2), ("z", 2, 3)]


def test_kmv_exact_when_distinct_below_k(spark):
    vals = spark.createDataFrame([(i,) for i in range(10) for _ in range(3)],
                                 "v long")
    row = C.kmv_distinct(vals, "v", k=32).collect()[0]
    assert row.k_used == 10          # fib16 is a bijection mod 65536
    exp_kth = max(((i % 65536) * 40503) % 65536 for i in range(10))
    assert row.kth_min == exp_kth
    assert row.est_distinct == pytest.approx((10 - 1) * 65536.0 / exp_kth)


# ---------------------------------------------------------------------------
# URL canonicalization / domain cap / shard packing
# ---------------------------------------------------------------------------


def test_normalize_urls_cases(spark):
    from bdtopo2refhydro_spark.operators.corpus import normalize_urls

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/a/b#frag", "http://example.com/a/b"),
        ("https://example.com:443/x?utm_source=a&utm_medium=b",
         "https://example.com/x"),
        ("http://example.com/p?utm_source=a&page=2#x",
         "http://example.com/p?page=2"),
        ("http://example.com/p?page=2&fbclid=abc",
         "http://example.com/p?page=2"),
        ("http://example.com/dir/", "http://example.com/dir"),
        # non-tracking params and path case are preserved
        ("http://Example.com/CaseSensitive?q=X",
         "http://example.com/CaseSensitive?q=X"),
        # www elsewhere in the host is kept; only the leading label drops
        ("http://www.www2.com/a", "http://www2.com/a"),
        # no scheme: host steps are no-ops, param/fragment steps still act
        ("nothing-like-a-url#f", "nothing-like-a-url"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)],
                               "doc_id long, url string")
    got = {r.doc_id: r.url_canon for r in normalize_urls(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_dedup_by_url_groups(spark):
    from bdtopo2refhydro_spark.operators.corpus import dedup_by_url

    df = spark.createDataFrame(
        [
            (1, "HTTP://WWW.A.COM/p"),
            (2, "http://a.com:80/p/"),
            (3, "http://a.com/p?utm_source=x"),
            (4, "http://a.com/q"),
        ],
        "doc_id long, url string",
    )
    got = {r.url_canon: (r.keeper_doc_id, r.n_docs)
           for r in dedup_by_url(df).collect()}
    assert got == {"http://a.com/p": (1, 3), "http://a.com/q": (4, 1)}


def test_domain_cap_order_and_ties(spark):
    from bdtopo2refhydro_spark.operators.corpus import domain_cap

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "a", 30), (4, "a", 5),
         (5, "b", 1)],
        "doc_id long, source string, n_chars long",
    )
    got = sorted((r.doc_id, r.rank_in_domain)
                 for r in domain_cap(df, 2).collect())
    # longest first; n_chars tie between 2 and 3 broken by doc_id asc
    assert got == [(2, 1), (3, 2), (5, 1)]


def test_pack_shards_boundaries(spark):
    from bdtopo2refhydro_spark.operators.corpus import pack_shards

    df = spark.createDataFrame(
        [(1, "s", 60), (2, "s", 60), (3, "s", 60), (4, "s", 1),
         (5, "t", 250)],
        "doc_id long, source string, n_tokens long",
    )
    got = {r.doc_id: (r.shard, r.tok_offset)
           for r in pack_shards(df, 100, group_col="source").collect()}
    # starts: 0, 60, 120, 180 in s; 0 in t
    assert got == {1: (0, 0), 2: (0, 60), 3: (1, 20), 4: (1, 80),
                   5: (0, 0)}


def test_inverted_index(spark):
    from bdtopo2refhydro_spark.operators.corpus import inverted_index

    df = spark.createDataFrame(
        [(3, "a b a"), (1, "b c"), (2, "  A  b ")],
        "doc_id long, text string",
    )
    got = {r.token: (r.df, r.postings)
           for r in inverted_index(df, min_df=1).collect()}
    # per-doc distinct, lowercased, postings sorted regardless of input order
    assert got == {"a": (2, [2, 3]), "b": (3, [1, 2, 3]), "c": (1, [1])}
    got2 = {r.token for r in inverted_index(df, min_df=3).collect()}
    assert got2 == {"b"}


def test_curation_pipeline_stages(spark):
    """Each gate demonstrably removes its target: duplicate, short doc,
    repetitive doc, contaminated doc; survivors pack deterministically."""
    from bdtopo2refhydro_spark.plans import run_curation_pipeline

    long_a = " ".join(f"w{i}" for i in range(20))          # healthy
    long_b = " ".join(f"v{i}" for i in range(30))          # healthy
    rows = [
        (1, "s", long_a, len(long_a)),
        (2, "s", long_a, len(long_a)),                      # exact dup of 1
        (3, "s", "too short", 9),                           # < min_tokens
        (4, "s", " ".join(["spam"] * 20), 99),              # repetition gate
        (5, "s", long_b, len(long_b)),
        (6, "t", "the benchmark text lives here now ok yes ten tok",
         49),                                               # = benchmark
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long")
    bench = docs.filter("doc_id = 6")
    got = {r.doc_id: (r.source, r.n_tokens, r.shard, r.tok_offset)
           for r in run_curation_pipeline(docs, bench,
                                          shard_budget=25).collect()}
    # survivors: 1 (dup keeper) and 5; 2 dup, 3 short, 4 repetitive,
    # 6 contaminated (shares shingles with itself)
    assert set(got) == {1, 5}
    assert got[1] == ("s", 20, 0, 0)
    assert got[5] == ("s", 30, 0, 20)  # starts at 20, straddles into shard 1


def test_normalize_urls_idempotent(spark):
    """Canonicalization must be a projection: normalize(normalize(u)) ==
    normalize(u). Hypothesis-style sweep over composed URL parts
    (exhaustive product, deterministic) including the '//'-tail and
    repeated-separator edge cases that break single-pass rules."""
    from itertools import product

    from bdtopo2refhydro_spark.operators.corpus import normalize_urls

    schemes = ["http://", "HTTPS://", ""]
    hosts = ["WWW.Ex.COM", "ex.com:80", "www.www.ex.com:443", "a.b"]
    paths = ["", "/", "//", "/p/1", "/p/1//", "/P"]
    qs = ["", "?utm_source=a", "?q=1&utm_medium=b", "?utm_a=1&utm_b=2",
          "?q=1&fbclid=2&r=3"]
    frags = ["", "#f", "#a/b?c"]
    urls = ["".join(p) for p in product(schemes, hosts, paths, qs, frags)]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string")
    once = normalize_urls(df).select("doc_id", "url_canon")
    twice = normalize_urls(
        once.withColumnRenamed("url_canon", "url")
    ).select("doc_id", "url_canon")
    a = {r.doc_id: r.url_canon for r in once.collect()}
    b = {r.doc_id: r.url_canon for r in twice.collect()}
    diffs = {i: (a[i], b[i]) for i in a if a[i] != b[i]}
    assert not diffs, f"{len(diffs)} non-idempotent cases, e.g. {list(diffs.items())[:3]}"


def test_compact_cover_preserves_coverage(spark):
    """Compaction must never change WHAT is covered: expanding every
    output cell back to level-0 children reproduces the input set
    exactly. Swept over derived pseudo-random rectangular covers."""
    from bdtopo2refhydro_spark.functions.cells import CELL_SHIFT
    from bdtopo2refhydro_spark.operators.spatial import compact_cover

    dim = 1 << CELL_SHIFT
    rows = []
    for g in range(40):
        h = (g * 2654435761) % (1 << 31)
        a, b = h % 16, (h // 16) % 16
        wx, wy = 1 + h % 9, 1 + (h // 7) % 9
        rows += [(g, (a + x) * dim + (b + y))
                 for x in range(wx) for y in range(wy)]
    cov = spark.createDataFrame(rows, "gid long, cell long")
    out = compact_cover(cov, levels=3).collect()

    expanded = set()
    for r in out:
        side = 1 << r.level
        ix, iy = (r.cell // dim) << r.level, (r.cell % dim) << r.level
        for x in range(side):
            for y in range(side):
                expanded.add((r.gid, (ix + x) * dim + (iy + y)))
    assert expanded == set(map(tuple, rows))


# ---------------------------------------------------------------------------
# longest-prefix URL rules
# ---------------------------------------------------------------------------

def test_url_rules_longest_prefix_wins(spark):
    rules = spark.createDataFrame(
        [(0, "a.com", "https://a.com/", False),       # host-level deny
         (1, "a.com", "https://a.com/docs/", True),   # path-level allow
         (2, "b.com", "https://b.com/", True)],
        "rule_id long, host string, prefix string, allow boolean")
    pages = spark.createDataFrame(
        [(10, "https://a.com/docs/intro"),   # path rule (longer) -> allow
         (11, "https://a.com/blog/x"),       # host rule -> deny
         (12, "https://b.com/anything"),     # allow
         (13, "https://c.com/no/rules")],    # default allow
        "doc_id long, url string")
    from bdtopo2refhydro_spark.operators.corpus import apply_url_rules
    got = {r["doc_id"]: (r["allow"], r["matched_rule"], r["matched_len"])
           for r in apply_url_rules(pages, rules).collect()}
    assert got[10] == (True, 1, len("https://a.com/docs/"))
    assert got[11] == (False, 0, len("https://a.com/"))
    assert got[12] == (True, 2, len("https://b.com/"))
    assert got[13] == (True, -1, 0)


def test_url_rules_duplicate_prefix_tiebreak_and_default_deny(spark):
    rules = spark.createDataFrame(
        [(5, "a.com", "https://a.com/", True),
         (3, "a.com", "https://a.com/", False)],  # same prefix, lower id
        "rule_id long, host string, prefix string, allow boolean")
    pages = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "https://z.com/y")],
        "doc_id long, url string")
    from bdtopo2refhydro_spark.operators.corpus import apply_url_rules
    got = {r["doc_id"]: (r["allow"], r["matched_rule"])
           for r in apply_url_rules(pages, rules,
                                    default_allow=False).collect()}
    assert got[1] == (False, 3)   # rule_id asc breaks the tie
    assert got[2] == (False, -1)  # default_deny honored


# ---------------------------------------------------------------------------
# cogroup_user_profile
# ---------------------------------------------------------------------------


def test_forward_fill_carries_last_observation(spark):
    from bdtopo2refhydro_spark.operators.temporal import forward_fill

    df = spark.createDataFrame(
        [
            ("u1", 1, None), ("u1", 2, 10), ("u1", 3, None),
            ("u1", 4, 20), ("u1", 5, None),
            ("u2", 1, None),  # never observed -> stays NULL
        ],
        "k string, t long, v long")
    got = {(r["k"], r["t"]): r["v_filled"]
           for r in forward_fill(df, "v", key_col="k",
                                 order_col="t").collect()}
    assert got == {("u1", 1): None, ("u1", 2): 10, ("u1", 3): 10,
                   ("u1", 4): 20, ("u1", 5): 20, ("u2", 1): None}


def test_arrow_group_rollup_matches_groupby(spark):
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.operators.temporal import (
        arrow_group_rollup,
    )

    ev = spark.createDataFrame(
        [(u, u * 1000 + i, "click") for u in range(5)
         for i in range(u + 1)],
        "user_id long, event_id long, event_type string")
    got = {r["user_id"]: (r["n_events"], r["sum_id"])
           for r in arrow_group_rollup(ev, buckets=4).collect()}
    exp = {r["user_id"]: (r["n"], r["s"])
           for r in ev.groupBy("user_id").agg(
               F.count(F.lit(1)).cast("bigint").alias("n"),
               F.sum(F.col("event_id") % 1000).cast("bigint")
               .alias("s")).collect()}
    assert got == exp
