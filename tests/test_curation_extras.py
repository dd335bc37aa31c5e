"""Round-3 continuation batch 4 operators, on hand-checked fixtures:

- text.shared_window_stats (ExactSubstr-style windowed span dedup)
- linkgraph.cocitation_pairs (capped co-citation wedge join)
- corpus.cms_build / cms_estimate (count-min sketch, upper-bound law)
- corpus.assign_split (leakage-safe grouped train/valid/test split)
- corpus.fuzzy_join_ed1 (FastSS deletion-neighborhood ed<=1 join)
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators import corpus as C
from bdtopo2refhydro_spark.operators import linkgraph as LG
from bdtopo2refhydro_spark.operators import text as TX


# ---------------------------------------------------------------------------
# shared_window_stats
# ---------------------------------------------------------------------------

def test_shared_window_stats_hand_fixture(spark):
    # k = MINHASH_K = 3. "a b c" occurs in docs 1, 2 and twice in doc 4.
    docs = spark.createDataFrame(
        [(1, "a b c d"),      # windows: abc, bcd
         (2, "x a b c"),      # windows: xab, abc
         (3, "p q r s"),      # windows: pqr, qrs (unique)
         (4, "a b c a b c")], # windows: abc, bca, cab, abc
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in TX.shared_window_stats(docs).collect()}
    assert got[1] == {"doc_id": 1, "n_windows": 2, "n_shared": 1,
                      "dup_pct": 50, "has_dup_span": True}
    assert got[2]["n_shared"] == 1 and got[2]["has_dup_span"]
    assert got[3] == {"doc_id": 3, "n_windows": 2, "n_shared": 0,
                      "dup_pct": 0, "has_dup_span": False}
    # multiplicity: doc 4's two "a b c" occurrences BOTH count
    assert got[4]["n_windows"] == 4 and got[4]["n_shared"] == 2
    assert got[4]["dup_pct"] == 50


def test_shared_window_stats_short_doc_whole_shingle(spark):
    # docs shorter than k collapse to one whole-doc window; two equal
    # short docs are shared, a distinct one is not
    docs = spark.createDataFrame(
        [(1, "hi there"), (2, "hi there"), (3, "bye now")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["has_dup_span"]
           for r in TX.shared_window_stats(docs).collect()}
    assert got == {1: True, 2: True, 3: False}


# ---------------------------------------------------------------------------
# cocitation_pairs
# ---------------------------------------------------------------------------

def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_cocitation_min_common(spark):
    e = _edges(spark, [
        ("a", "t1"), ("b", "t1"), ("c", "t1"),
        ("a", "t2"), ("b", "t2"),
        ("a", "t3"), ("c", "t3"),
        # duplicate edge + self-loop must be ignored
        ("a", "t1"), ("t1", "t1"),
    ])
    got = {(r["a"], r["b"]): r["common"]
           for r in LG.cocitation_pairs(e, min_common=2).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 2}  # (b,c) common=1 filtered


def test_cocitation_cap_truncates_hot_target(spark):
    rows = [(f"s{i}", "hot") for i in range(6)] + [("s0", "t"), ("s5", "t")]
    got = LG.cocitation_pairs(_edges(spark, rows), min_common=1,
                              cap=3).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    # only the 3 rank-lowest sources of 'hot' pair up; s3..s5 are capped
    # out, so (s0,s5) exists only if a low-degree target supplies it —
    # 't' has sources s0,s5 (both within its own cap)
    assert pairs == {("s0", "s1"), ("s0", "s2"), ("s1", "s2"),
                     ("s0", "s5")}


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def _py_cms(keys, width):
    cells = {}
    for k in keys:
        for i, (a, b) in enumerate(C.BLOOM_HASHES):
            pos = ((a * k + b) % C.BLOOM_P) % width
            cells[(i, pos)] = cells.get((i, pos), 0) + 1
    return cells


@pytest.mark.parametrize("width", [8, 1024])
def test_cms_upper_bound_and_replay(spark, width):
    # skewed key stream: key k appears k times; width=8 forces collisions
    keys = [k for k in range(1, 12) for _ in range(k)]
    kdf = spark.createDataFrame([(k,) for k in keys], "key long")
    cms = C.cms_build(kdf, "key", width=width)
    # bit-for-bit python replay of every cell
    got_cells = {(r["row"], r["pos"]): r["cnt"] for r in cms.collect()}
    assert got_cells == _py_cms(keys, width)
    probe = spark.createDataFrame([(k,) for k in set(keys)], "key long")
    est = {r["key"]: r["cms_est"]
           for r in C.cms_estimate(probe, "key", cms, width=width).collect()}
    exact = {k: keys.count(k) for k in set(keys)}
    for k, e in exact.items():
        assert est[k] >= e  # CMS law: never an underestimate
    if width == 1024:  # no collisions at this density → exact
        assert est == exact


def test_cms_absent_key_estimates_zero_or_collision(spark):
    kdf = spark.createDataFrame([(7,)] * 5, "key long")
    cms = C.cms_build(kdf, "key", width=1024)
    probe = spark.createDataFrame([(7,), (999_999,)], "key long")
    est = {r["key"]: r["cms_est"]
           for r in C.cms_estimate(probe, "key", cms, width=1024).collect()}
    assert est[7] == 5 and est[999_999] == 0


# ---------------------------------------------------------------------------
# assign_split
# ---------------------------------------------------------------------------

def _py_bucket(group: str) -> int:
    return int(hashlib.md5(group.encode()).hexdigest()[:15], 16) % 100


def test_assign_split_is_group_constant_and_replayable(spark):
    rows = [(i, f"host{i % 7}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = C.assign_split(df, group_col="source").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    # leakage guard: one split per group
    assert all(len(s) == 1 for s in by_group.values())
    for g, s in by_group.items():
        b = _py_bucket(g)
        want = "train" if b < 80 else ("valid" if b < 90 else "test")
        assert s == {want}


def test_assign_split_rejects_bad_weights(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        C.assign_split(df, weights=(50, 50, 50))


# ---------------------------------------------------------------------------
# fuzzy_join_ed1
# ---------------------------------------------------------------------------

def test_fuzzy_join_ed1_complete_for_one_edit(spark):
    left = spark.createDataFrame(
        [("host",), ("alpha",)], "s string")
    right = spark.createDataFrame(
        [("host",),   # identity
         ("hosf",),   # substitution
         ("hosts",),  # insertion
         ("hot",),    # deletion
         ("alphaxx",),  # distance 2 — must NOT match
         ("beta",)], "s string")
    got = {(r["a"], r["b"]): r["dist"]
           for r in C.fuzzy_join_ed1(left, right).collect()}
    assert got == {("host", "host"): 0, ("host", "hosf"): 1,
                   ("host", "hosts"): 1, ("host", "hot"): 1}


def test_fuzzy_join_ed1_empty_string_guard(spark):
    left = spark.createDataFrame([("",)], "s string")
    right = spark.createDataFrame([("a",), ("",), ("ab",)], "s string")
    got = {(r["a"], r["b"]): r["dist"]
           for r in C.fuzzy_join_ed1(left, right).collect()}
    # "" matches itself (0) and any single char (1); "ab" is distance 2
    assert got == {("", ""): 0, ("", "a"): 1}


# ---------------------------------------------------------------------------
# crawl_frontier
# ---------------------------------------------------------------------------

def test_crawl_frontier_politeness_and_slots(spark):
    pages = spark.createDataFrame(
        [("u1", "h1", 90), ("u2", "h1", 80), ("u3", "h1", 70),
         ("u4", "h2", 95), ("u5", "h2", 60)],
        "url string, host string, score long")
    out = {r["url"]: (r["fetch_round"], r["slot"])
           for r in C.crawl_frontier(pages).collect()}
    # per_round=1: one fetch per host per round, rank by score desc
    assert out["u1"][0] == 0 and out["u4"][0] == 0
    assert out["u2"][0] == 1 and out["u5"][0] == 1
    assert out["u3"][0] == 2
    # slot orders within a round by score desc: round 0 = u4(95), u1(90)
    assert out["u4"][1] == 1 and out["u1"][1] == 2


def test_crawl_frontier_per_round_batches(spark):
    pages = spark.createDataFrame(
        [(f"u{i}", "h", 100 - i) for i in range(5)],
        "url string, host string, score long")
    out = {r["url"]: r["fetch_round"]
           for r in C.crawl_frontier(pages, per_round=2).collect()}
    assert out == {"u0": 0, "u1": 0, "u2": 1, "u3": 1, "u4": 2}


# ---------------------------------------------------------------------------
# bpe_encode / minhash_union / lsh_recall
# ---------------------------------------------------------------------------

def test_bpe_encode_hand_merges(spark):
    # corpus: aaab(wc2) ab(wc1) ba(wc1) → merges: (a,a), (a,b), (aa,ab);
    # encoded symbol counts: aaab→1, ab→1, ba→2 (never merged)
    docs = spark.createDataFrame(
        [(1, "aaab ab"), (2, "aaab"), (3, "ba")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in TX.bpe_encode(docs).collect()}
    assert got == {1: (2, 2), 2: (1, 1), 3: (1, 2)}


def test_bpe_encode_with_frozen_merges(spark):
    # a pre-trained merge table applied to a NEW snapshot the trainer
    # never saw — the frozen-tokenizer path
    train = spark.createDataFrame(
        [(1, "aaab ab"), (2, "aaab"), (3, "ba")],
        "doc_id long, text string")
    merges = TX.bpe_train_merges(train)
    new = spark.createDataFrame(
        [(9, "aaab aaab xy")], "doc_id long, text string")
    got = TX.bpe_encode(new, merges=merges).collect()[0]
    # aaab→1 symbol (twice), xy→2 symbols (no merge covers it)
    assert (got["n_words"], got["n_bpe_tokens"]) == (3, 4)


def test_minhash_union_is_elementwise_min(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "s1"),
         (2, "a totally different sentence here", "s1"),
         (3, "third doc in another source", "s2")],
        "doc_id long, text string, source string")
    sigs = {r["doc_id"]: r for r in TX.minhash_signatures(docs).collect()}
    merged = TX.minhash_signatures(docs).join(
        docs.select("doc_id", "source"), "doc_id").groupBy("source").agg(
        *[F.min(f"mh_{i}").alias(f"mh_{i}")
          for i in range(TX.MINHASH_HASHES)])
    got = {r["source"]: r for r in merged.collect()}
    for i in range(TX.MINHASH_HASHES):
        assert got["s1"][f"mh_{i}"] == min(sigs[1][f"mh_{i}"],
                                           sigs[2][f"mh_{i}"])
        assert got["s2"][f"mh_{i}"] == sigs[3][f"mh_{i}"]


def test_lsh_recall_catches_exact_dups(spark):
    import __spark_entry__ as E

    # identical docs share every band → LSH recall on exact dups is 100
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six"),
         (4, "seven eight nine ten eleven twelve")],
        "doc_id long, text string")
    docs.createOrReplaceTempView("_lsh_recall_fixture")
    sh = docs.select(
        "doc_id", F.array_distinct(F.expr(TX.shingles_expr())).alias("sh"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    truth = (a.crossJoin(b).filter(F.col("a") < F.col("b"))
             .filter(F.size(F.array_intersect("sha", "shb"))
                     / F.size(F.array_union("sha", "shb")) >= 0.5))
    cand = TX.lsh_candidate_pairs(docs)
    t = {(r["a"], r["b"]) for r in truth.collect()}
    c = {(r["a"], r["b"]) for r in cand.collect()}
    assert t == {(1, 2)}
    assert t <= c  # every exact dup is a candidate


# ---------------------------------------------------------------------------
# skipgrams / sample_neighbors / drift_check
# ---------------------------------------------------------------------------

def test_skipgrams_window2_hand_counts(spark):
    docs = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in C.skipgrams(docs, window=2).collect()}
    # positions: a0 b1 c2 a3; pairs within distance 2, both directions
    # (a0,a3 are 3 apart → no (a,a) pair)
    assert got == {("a", "b"): 2, ("b", "a"): 2, ("a", "c"): 2,
                   ("c", "a"): 2, ("b", "c"): 1, ("c", "b"): 1}


def test_skipgrams_no_cross_document_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "y z")], "doc_id long, text string")
    got = {(r["center"], r["context"]) for r in
           C.skipgrams(docs, window=2).collect()}
    assert ("x", "z") not in got and ("z", "x") not in got


def test_sample_neighbors_bounded_fanout_and_determinism(spark):
    rows = ([("hub", f"n{i}") for i in range(10)]
            + [(f"n{i}", f"leaf{i}{j}") for i in range(10) for j in range(2)])
    e = spark.createDataFrame(rows, "src string, dst string")
    out1 = LG.sample_neighbors(e, fanout=3, hops=2).collect()
    out2 = LG.sample_neighbors(e, fanout=3, hops=2).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # no RNG
    by_seed_hop = {}
    for r in out1:
        by_seed_hop.setdefault((r["seed"], r["hop"]), set()).add(r["node"])
    # hub's hop-1 frontier is capped at fanout=3 despite degree 10
    assert len(by_seed_hop[("hub", 1)]) == 3
    # hop 2 from hub: each sampled n_i has 2 leaves, all within 3-cap
    assert len(by_seed_hop[("hub", 2)]) == 6
    # hop-2 nodes are exactly the leaves of the hop-1 sample
    h1 = by_seed_hop[("hub", 1)]
    want = {f"leaf{n[1:]}{j}" for n in h1 for j in range(2)}
    assert by_seed_hop[("hub", 2)] == want


def test_drift_check_flags_and_first_day(spark):
    from bdtopo2refhydro_spark.operators import dq as DQ

    rows = ([("2024-01-01 00:00:00", "click")] * 10
            + [("2024-01-02 00:00:00", "click")] * 16   # +60% → drift
            + [("2024-01-03 00:00:00", "click")] * 12   # -25% → ok
            + [("2024-01-01 00:00:00", "view")] * 4)    # single day
    df = spark.createDataFrame(rows, "ts_s string, event_type string") \
        .select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    got = {(r["grp"], r["day"]): (r["n"], r["prev_n"], r["change_pct"],
                                  r["drifted"])
           for r in DQ.drift_check(df).collect()}
    assert got[("click", "2024-01-01")] == (10, 0, 0, False)
    assert got[("click", "2024-01-02")] == (16, 10, 60, True)
    assert got[("click", "2024-01-03")] == (12, 16, -25, False)
    assert got[("view", "2024-01-01")] == (4, 0, 0, False)


# ---------------------------------------------------------------------------
# cluster-level leakage-safe split
# ---------------------------------------------------------------------------

def test_cluster_split_keeps_near_dups_in_one_split(spark):
    import __spark_entry__  # noqa: F401  (pattern parity with driver entry)
    from bdtopo2refhydro_spark.operators import corpus as C

    # docs 1 and 2 are exact near-dups (identical text) on different
    # "hosts"; doc 3 unrelated. Cluster-level split MUST co-assign 1+2.
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six")],
        "doc_id long, text string")
    clusters = TX.near_dup_clusters(docs, threshold=0.5)
    keyed = clusters.withColumn("ckey", F.col("cluster_id").cast("string"))
    out = {r["doc_id"]: (r["cluster_id"], r["split"])
           for r in C.assign_split(keyed, group_col="ckey")
           .select("doc_id", "cluster_id", "split").collect()}
    assert out[1][0] == out[2][0] == 1       # one cluster, min-id label
    assert out[1][1] == out[2][1]            # same split — no leakage
    assert out[3][0] == 3


# ---------------------------------------------------------------------------
# bitext mining
# ---------------------------------------------------------------------------

def test_bitext_pairs_asymmetric_and_gated(spark):
    import numpy as np

    from bdtopo2refhydro_spark.operators import ann as ANN

    # three "en" docs and two "fr" docs in 64-d; en0/fr0 nearly parallel
    # (cos ~1), en1/fr1 orthogonal, en2 parallel to en0 (same-language
    # near-dup that must NOT pair)
    def vec(seed, base=None, eps=0.0):
        rng = np.random.RandomState(seed)
        v = rng.randn(64) if base is None else base + eps * rng.randn(64)
        return [float(x) for x in v]

    v0 = vec(1)
    rows = [(0, vec(0, np.array(v0), 0.01)),   # en ~ fr0
            (1, vec(2)),                        # en orthogonal
            (2, vec(3, np.array(v0), 0.01)),   # en dup of en0
            (3, v0),                            # fr0
            (4, vec(4))]                        # fr orthogonal
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(
        [(0, "en", 100), (1, "en", 100), (2, "en", 100),
         (3, "fr", 120), (4, "fr", 500)],
        "vec_id long, lang string, n_chars long")
    sig = ANN.hyperplane_signature(emb).join(docs, "vec_id")
    left = sig.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"),
        F.col("n_chars").alias("len_a"), "bucket")
    right = sig.filter(F.col("lang") == "fr").select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"),
        F.col("n_chars").alias("len_b"), "bucket")
    got = (left.join(right, "bucket")
           .filter((F.col("len_a") <= 2 * F.col("len_b"))
                   & (F.col("len_b") <= 2 * F.col("len_a")))
           .withColumn("cos_sim", ANN._dot("emb_a", "emb_b")
                       / (ANN._norm("emb_a") * ANN._norm("emb_b")))
           .filter(F.col("cos_sim") >= 0.9)
           .select("a", "b").collect())
    pairs = {(r["a"], r["b"]) for r in got}
    assert (0, 3) in pairs          # the true translation pair
    assert (2, 3) in pairs          # dup-of-en0 also pairs with fr0
    assert all(a in (0, 1, 2) and b in (3, 4) for a, b in pairs)  # en x fr only
    # the 5x-length fr doc can never pair (ratio gate), whatever the bucket
    assert all(b != 4 for _, b in pairs)


# ---------------------------------------------------------------------------
# kv_parse UDTF
# ---------------------------------------------------------------------------

def test_kv_parse_udtf_edge_cases(spark):
    TX.register_kv_parse(spark)
    spark.createDataFrame(
        [(1, "a=1;b=2"), (2, "x=;=y;flag"), (3, ";;"), (4, None)],
        "id long, kvs string").createOrReplaceTempView("kv_edge")
    rows = spark.sql(
        "SELECT id, p.key, p.value FROM kv_edge, LATERAL kv_parse(kvs) p"
    ).collect()
    got = {(r.id, r.key, r.value) for r in rows}
    # empty value kept; '=y' → empty key; bare token → value ''
    assert got == {(1, "a", "1"), (1, "b", "2"),
                   (2, "x", ""), (2, "", "y"), (2, "flag", "")}
    # ';;' and NULL rows vanish entirely (no rows with id 3 or 4)
    assert all(r.id in (1, 2) for r in rows)


def test_cms_sketches_merge_cellwise(spark):
    """The distributed claim behind CMS: sketches of two shards merged
    cell-wise equal the sketch of the union stream — per-day/per-shard
    sketches fold without re-touching data."""
    a = [1, 1, 2, 3, 5, 8, 8, 8]
    b = [2, 3, 3, 13, 21]
    da = spark.createDataFrame([(k,) for k in a], "key long")
    db = spark.createDataFrame([(k,) for k in b], "key long")
    dall = spark.createDataFrame([(k,) for k in a + b], "key long")
    def cells(df):
        return {(r["row"], r["pos"]): r["cnt"]
                for r in C.cms_build(df, "key", width=64).collect()}
    ca, cb, cu = cells(da), cells(db), cells(dall)
    merged = {}
    for d in (ca, cb):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == cu


# ---------------------------------------------------------------------------
# cooccurrence_pairs
# ---------------------------------------------------------------------------

def test_cooccurrence_pairs_support_and_marginals(spark):
    from bdtopo2refhydro_spark.operators.corpus import cooccurrence_pairs

    df = spark.createDataFrame(
        [
            (1, "x"), (1, "y"), (1, "z"),
            (2, "x"), (2, "y"), (2, "y"),  # duplicate y counts once
            (3, "x"), (3, "y"),
            (4, "z"),
        ],
        "basket long, item string")
    rows = cooccurrence_pairs(df, "basket", "item",
                              min_support=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["support"], r["n_a"], r["n_b"]) == \
        ("x", "y", 3, 3, 3)
