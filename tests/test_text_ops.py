"""Web-text pipeline operator tests on tiny hand-checked documents."""

import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators import text as TX
from bdtopo2refhydro_spark.operators import ann as ANN


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),          # exact dup of 0
        (2, "the cat sat on the red mat"),      # near dup
        (3, "completely different words here entirely"),
        (4, "le chat est sur le tapis et le lit"),
        (5, "   "),                             # whitespace-only
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.text_hash: (r.keep_id, r.n_copies)
           for r in TX.exact_dedup(docs).collect()}
    assert len(out) == 5  # 6 docs, one exact pair
    assert (0, 2) in out.values()


def test_token_stats(docs):
    out = {r.doc_id: r for r in TX.token_stats(docs).collect()}
    assert out[0].n_tokens == 6
    assert out[0].n_distinct_tokens == 5  # 'the' twice
    assert out[3].n_tokens == 5


def test_minhash_identical_docs_share_signature(docs):
    sig = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(TX.MINHASH_HASHES))
           for r in TX.minhash_signatures(docs).collect()}
    assert sig[0] == sig[1]
    assert sig[0] != sig[3]
    # near-dup shares some but not necessarily all minhashes
    shared = sum(a == b for a, b in zip(sig[0], sig[2]))
    assert shared >= 1


def test_lsh_finds_exact_and_near_dups(docs):
    pairs = {(r.a, r.b) for r in TX.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard(docs):
    out = {(r.a, r.b): r.jaccard
           for r in TX.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert out[(0, 1)] == pytest.approx(1.0)
    if (0, 2) in out:
        assert 0.3 <= out[(0, 2)] < 1.0


def test_near_dup_clusters_transitive(spark):
    # a~b and b~c are near-dups but a and c differ more: the component
    # closure must still put all three in one cluster (pair-level dedup
    # would under-merge), and singletons keep themselves
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),
        (11, "alpha beta gamma delta epsilon zeta eta iota"),    # ~10
        (12, "alpha beta gamma delta epsilon zeta kappa iota"),  # ~11
        (13, "unrelated totally different content words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b)
             for r in TX.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in TX.near_dup_clusters(docs, threshold=0.3).collect()}
    assert (10, 11) in pairs and (11, 12) in pairs
    assert out[10] == (10, True)
    assert out[11] == (10, False)
    assert out[12] == (10, False)   # transitive merge even if (10,12) absent
    assert out[13] == (13, True)


def test_shingle_set_collapse_equivalence(spark):
    """The r5 representative collapse (shingle_set_collapse + expansion)
    must be OUTPUT-IDENTICAL to the direct pipeline (_rep_* applied to
    the whole corpus) — candidates, verified pairs WITH jaccard values,
    and clusters — on a fixture that exercises every collapse class:
    exact dups, a template family (same shingle SET, different token
    order/multiplicity — the cyclic-text case), cross-set near-dups,
    singletons, and NULL texts (which must stay singletons)."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        # template family: cyclic rotations share the 3-shingle SET
        (2, "aa bb cc aa bb cc aa bb cc"),
        (3, "bb cc aa bb cc aa bb cc aa"),
        (4, "cc aa bb cc aa bb cc aa bb cc aa bb"),  # diff multiplicity
        (5, "alpha beta gamma delta epsilon zeta eta iota"),  # near 0/1
        (6, "unrelated totally different content words here now"),
        (7, None),
        (8, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # direct (pre-r5) pipeline: bands + verify over ALL docs
    d_cand = TX._rep_candidate_pairs(docs)
    direct_cand = {(r.a, r.b) for r in d_cand.collect()}
    direct_pairs = {(r.a, r.b): r.jaccard for r in
                    TX._rep_jaccard_pairs(d_cand, docs, 0.3, 3).collect()}
    # force the collapse path: the auto gate would pick direct on a
    # fixture this small (see test_collapse_gate), which would make this
    # comparison vacuous
    new_cand = {(r.a, r.b) for r in
                TX.lsh_candidate_pairs(docs, algorithm="collapse")
                .collect()}
    new_pairs = {(r.a, r.b): r.jaccard for r in
                 TX.ngram_jaccard_pairs(docs, threshold=0.3,
                                        algorithm="collapse").collect()}
    assert new_cand == direct_cand
    assert new_pairs == direct_pairs  # exact float equality included
    # the template family verified at jaccard 1 despite distinct texts
    assert new_pairs[(2, 3)] == 1.0 and new_pairs[(2, 4)] == 1.0
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in TX.near_dup_clusters(docs, threshold=0.3,
                                         algorithm="collapse").collect()}
    assert out[0] == (0, True) and out[1] == (0, False)
    assert out[2] == (2, True) and out[3] == (2, False) \
        and out[4] == (2, False)
    assert out[5] == (0, False)  # near-dup of the 0/1 family
    assert out[6] == (6, True)
    assert out[7] == (7, True) and out[8] == (8, True)  # NULLs singleton


def test_collapse_gate(spark):
    """The near-dedup family picks collapse-vs-direct from Catalyst's
    plan-size statistic (like the broadcast threshold), with no extra
    job: tiny corpora skip the collapse fixed cost, forced modes agree
    output-identically, and bad mode strings raise."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta w{i % 3}")
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # in-memory frames carry NO size statistic (Long.MaxValue) -> auto
    # conservatively collapses; a FILE scan reports real bytes -> a tiny
    # parquet corpus picks direct (this is the bench/driver shape)
    assert TX._use_collapse(docs, "auto") is True
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/d.parquet")
        on_disk = spark.read.parquet(f"{td}/d.parquet")
        assert TX._plan_size_bytes(on_disk) < TX.SMALL_CORPUS_BYTES
        assert TX._use_collapse(on_disk, "auto") is False
    assert TX._use_collapse(docs, "collapse") is True
    assert TX._use_collapse(docs, "direct") is False
    with pytest.raises(ValueError):
        TX._use_collapse(docs, "bogus")
    with pytest.raises(ValueError):
        TX.incremental_dedup(docs, docs, algorithm="bogus").collect()
    for fn in (
        lambda a: {(r.a, r.b) for r in
                   TX.lsh_candidate_pairs(docs, algorithm=a).collect()},
        lambda a: {(r.a, r.b, r.jaccard) for r in
                   TX.ngram_jaccard_pairs(docs, threshold=0.3,
                                          algorithm=a).collect()},
        lambda a: {(r.doc_id, r.cluster_id, r.keep) for r in
                   TX.near_dup_clusters(docs, threshold=0.3,
                                        algorithm=a).collect()},
        lambda a: {(r.doc_id, r.dropped_exact, r.dropped_near, r.keep)
                   for r in TX.incremental_dedup(
                       docs.where("doc_id >= 6"), docs.where("doc_id < 6"),
                       threshold=0.3, algorithm=a).collect()},
    ):
        assert fn("collapse") == fn("direct") == fn("auto")


def test_band_cap_hot_bucket_guard(spark):
    """band_cap drops over-cap LSH buckets before the self-join — the
    production guard against quadratic candidate OUTPUT from a hot band
    key (the one blowup neither shingle-set collapse nor AQE skew
    splitting absorbs). Exact by default (band_cap=None); capped runs
    lose only pairs whose EVERY shared band is hot."""
    fam = [(i, "alpha beta gamma delta epsilon zeta eta theta")
           for i in range(12)]  # identical -> share all 4 band keys
    other = [(100, "one two three four five six seven eight"),
             (101, "one two three four five six seven nine")]
    docs = spark.createDataFrame(fam + other, "doc_id long, text string")
    # direct path: the 12 identical docs form 4 hot buckets of size 12
    full = {(r.a, r.b) for r in
            TX.lsh_candidate_pairs(docs, algorithm="direct").collect()}
    assert sum(a < 12 and b < 12 for a, b in full) == 12 * 11 // 2
    assert (100, 101) in full
    capped = {(r.a, r.b) for r in
              TX.lsh_candidate_pairs(docs, algorithm="direct",
                                     band_cap=8).collect()}
    assert not any(a < 12 and b < 12 for a, b in capped)
    assert (100, 101) in capped  # size-2 buckets survive the cap
    # under collapse the equal-set family is ONE rep: its internal pairs
    # come from the expansion (exact dups always dedup), never a bucket
    col = {(r.a, r.b) for r in
           TX.lsh_candidate_pairs(docs, algorithm="collapse",
                                  band_cap=8).collect()}
    assert sum(a < 12 and b < 12 for a, b in col) == 12 * 11 // 2
    # incremental: combined-bucket cap suppresses near flags, never the
    # exact-digest path
    new = docs.where("doc_id < 6")
    old = docs.where("doc_id >= 6 and doc_id < 12")
    out = {r.doc_id: (r.dropped_exact, r.dropped_near)
           for r in TX.incremental_dedup(
               new, old, threshold=0.3, algorithm="direct",
               band_cap=8).collect()}
    assert all(v == (True, False) for v in out.values())
    uncapped = {r.doc_id: r.dropped_near
                for r in TX.incremental_dedup(
                    new, old, threshold=0.3,
                    algorithm="direct").collect()}
    assert all(uncapped.values())


def test_near_dup_clusters_no_pairs(spark):
    docs = spark.createDataFrame(
        [(0, "aa bb cc dd ee ff gg hh"), (1, "qq ww ee rr tt yy uu ii oo")],
        "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in TX.near_dup_clusters(docs).collect()}
    assert out == {0: (0, True), 1: (1, True)}


def test_simhash_dup_pairs(docs):
    s = {r.doc_id: r.simhash for r in TX.simhash(docs).collect()}
    assert s[0] == s[1]
    assert 0 <= s[0] < 2 ** TX.SIMHASH_BITS
    pairs = {(r.a, r.b): r.hamming
             for r in TX.simhash_dup_pairs(docs, max_hamming=2).collect()}
    assert pairs[(0, 1)] == 0


def test_lang_id(docs):
    out = {r.doc_id: r.lang_pred for r in TX.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "fr"
    assert out[5] == "und"


def test_quality_score_bounds(docs):
    for r in TX.quality_score(docs).collect():
        assert 0.0 <= r.quality <= 1.0


def test_fingerprint_stable(docs):
    a = {r.doc_id: r.fingerprint for r in TX.doc_fingerprint(docs).collect()}
    assert a[0] == a[1]
    assert a[0] != a[3]


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rows = []
    base = np.arange(64, dtype=np.float32) / 64.0
    for i in range(6):
        v = base.copy()
        v[i] += 1.0  # distinct but correlated vectors
        rows.append((i, [float(x) for x in v]))
    rows.append((6, [float(-x) for x in base + 0.1]))  # anti-correlated
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(emb):
    out = ANN.cosine_topk(emb, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 2
        assert rows[0].cos_sim >= rows[1].cos_sim - 1e-12
        # the anti-correlated vector is nobody's nearest neighbor
        if q != 6:
            assert all(r.neighbor_id != 6 for r in rows)


def test_lsh_ann_subset_of_bruteforce_space(emb):
    out = ANN.lsh_ann_topk(emb, k=2).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    # correlated vectors share a bucket with at least one neighbor
    assert len(out) > 0


def test_multimodal_plumbing(spark):
    from bdtopo2refhydro_spark.operators.multimodal import (
        extract_image_features,
        media_repartition,
    )

    rows = [(f"u{i}", bytes([i]) * (100 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "url string, html binary")
    feats = extract_image_features(df).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r.features) == 8
        assert 64 <= r.width < 320 and r.n_bytes >= 100
    # determinism: same payload → same features
    again = extract_image_features(df).collect()
    assert {r.url: r.features for r in again} == {r.url: r.features for r in feats}
    rp = media_repartition(df, target_bytes_per_task=500)
    assert rp.rdd.getNumPartitions() >= 2


def test_extract_text_byte_identical_per_url(spark):
    """North-rule invariant (BASELINE.json input_hint): extracted text is
    byte-identical per url — extract_text(html) must reproduce the pages
    table's text column exactly."""
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.operators.text import extract_text
    from bdtopo2refhydro_spark.sources import pages_df

    pages = pages_df(spark, 200)
    out = extract_text(pages, "html", "text_re")
    mismatches = out.filter(
        F.encode("text_re", "UTF-8") != F.encode("text", "UTF-8")
    ).count()
    assert mismatches == 0


def test_cosine_dup_pairs_thresholds(emb):
    """Embedding near-dup: every returned pair meets the threshold, is in
    one LSH bucket, and a<b; lowering the threshold can only add pairs."""
    from bdtopo2refhydro_spark.operators.ann import cosine_dup_pairs

    hi = cosine_dup_pairs(emb, threshold=0.9).collect()
    lo = cosine_dup_pairs(emb, threshold=0.0).collect()
    assert all(r["cos_sim"] >= 0.9 for r in hi)
    assert all(r["a"] < r["b"] for r in lo)
    assert {(r["a"], r["b"]) for r in hi} <= {(r["a"], r["b"]) for r in lo}


def test_multimodal_audio_and_frames(spark):
    """Audio featurization and frame sampling: schema contract, row
    expansion proportional to stub duration, deterministic digests."""
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.operators.multimodal import (
        extract_audio_features,
        sample_video_frames,
    )

    media = spark.createDataFrame(
        [("u1", bytearray(b"payload-one")), ("u2", bytearray(b"payload-two"))],
        "url string, payload binary",
    )
    audio = extract_audio_features(media).collect()
    assert {r["url"] for r in audio} == {"u1", "u2"}
    assert all(1000 <= r["duration_ms"] < 1000 + 65536 for r in audio)
    assert all(r["sample_rate"] in (8000, 16000, 22000, 44000) for r in audio)
    assert all(0.0 <= r["loudness"] < 1.0 for r in audio)

    frames = sample_video_frames(media, every_ms=1000)
    per_url = {r["url"]: r["n"] for r in
               frames.groupBy("url").agg(F.count("*").alias("n")).collect()}
    by_dur = {r["url"]: -(-r["duration_ms"] // 1000) for r in audio}
    assert per_url == by_dur
    # determinism: same payload → same frame digests
    a = sorted(r["frame_sha"] for r in frames.filter("url = 'u1'").collect())
    b = sorted(r["frame_sha"] for r in
               sample_video_frames(media).filter("url = 'u1'").collect())
    assert a == b


def test_ivf_ann_buckets_and_ranks(emb):
    """IVF: every vector gets exactly one bucket from the centroid set;
    top-k ranks are dense per query and neighbors share the query's cell."""
    from pyspark.sql import functions as F

    from bdtopo2refhydro_spark.operators.ann import ivf_ann_topk, ivf_assign

    sig = ivf_assign(emb, n_centroids=4)
    assert sig.count() == emb.count()
    assert sig.select("bucket").distinct().count() <= 4
    out = ivf_ann_topk(emb, k=2, n_centroids=4)
    ranks = out.groupBy("query_id").agg(F.collect_list("rank").alias("r"))
    assert all(sorted(r["r"]) == list(range(1, len(r["r"]) + 1))
               for r in ranks.collect())
    buckets = {r["vec_id"]: r["bucket"] for r in sig.collect()}
    assert all(buckets[r["query_id"]] == buckets[r["neighbor_id"]]
               for r in out.collect())


def test_ivf_kmeans_recall_beats_standin_and_grows_with_probe(spark):
    """VERDICT r2 #3 'done' criterion: recall@5 vs cosine_topk ground truth
    on the sf0.001 embeddings — k-means centroids beat the lowest-vec_id
    stand-in, and probe=2 beats probe=1. Values are deterministic
    (integer-quantized Lloyd updates), so the floors are pinned with
    margin: measured 0.202 (stand-in) / 0.2564 (kmeans p1) / 0.41 (p2)."""
    from bdtopo2refhydro_spark.operators.ann import (
        cosine_topk,
        ivf_ann_topk,
        ivf_kmeans_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, k=5).collect()}

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_standin = recall(ivf_ann_topk(emb, k=5))
    r_p1 = recall(ivf_kmeans_ann_topk(emb, k=5, probe=1))
    r_p2 = recall(ivf_kmeans_ann_topk(emb, k=5, probe=2))
    assert r_p1 > r_standin
    assert r_p2 > r_p1
    assert r_p1 >= 0.22 and r_p2 >= 0.35
    # serving bar on UNCLUSTERED data (VERDICT r3 #4): the sf embeddings
    # are near-uniform — the worst case for any IVF — yet the probe knob
    # alone reaches the >=0.8 bar (measured 0.41 / 0.60 / 0.71 / 0.82 at
    # probe 2/4/6/8; deterministic Lloyd, so the floor is stable)
    r_p8 = recall(ivf_kmeans_ann_topk(emb, k=5, probe=8))
    assert r_p8 >= 0.8, r_p8


def test_ivf_multi_assign_recall_clears_bar(spark):
    """VERDICT r4 #4 'done' criterion: recall@5 >= 0.8 at probe <= 4 on
    the sf embeddings — the near-uniform worst case where single-assign
    IVF saturates at 0.41 (probe=2). Multi-assignment (data vectors
    indexed in their `assign` nearest cells) lifts coverage to
    probe x assign cells: measured 0.891 (sf0.001) / 0.882 (sf0.1) at
    probe=4, assign=3 — pinned at 0.85 (deterministic Lloyd, stable
    floor). Also pins the knob monotonicity the serving guidance is
    built on: assign=2 at probe=2 matches single-assign probe=4."""
    from bdtopo2refhydro_spark.operators.ann import (
        cosine_topk,
        ivf_multi_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, k=5).collect()}

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_p4a3 = recall(ivf_multi_ann_topk(emb, k=5, probe=4, assign=3))
    assert r_p4a3 >= 0.85, r_p4a3
    r_p2a2 = recall(ivf_multi_ann_topk(emb, k=5, probe=2, assign=2))
    assert r_p2a2 >= 0.55, r_p2a2  # measured 0.597 ≈ single-assign p4


def test_ivf_kmeans_recall_planted_neighbors(spark):
    """VERDICT r3 #4 'done' criterion: recall@5 >= 0.8 on a
    PLANTED-neighbor fixture. 40 tight clusters x 12 points (dim 64,
    deterministic integer arithmetic, no RNG): every point's true top-5
    are its cluster mates, the structure IVF's coarse quantization is
    built to exploit. probe=2 with 16 centroids clears the bar with
    margin while scanning ~1/8 of the corpus."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.ann import (
        cosine_topk,
        ivf_kmeans_ann_topk,
    )

    dim, n_clusters, per = 64, 40, 12
    rows = []
    for c in range(n_clusters):
        # the c*d mixing term decorrelates centers: without it every
        # center is the same base sequence under a constant shift (two
        # of the 40 come out IDENTICAL); with it max inter-center cosine
        # is 0.706 vs ~0.999 intra-cluster
        center = np.array(
            [((c * 131071 + d * 524287 + c * d * 999983) % 2000) / 1000.0
             - 1.0 for d in range(dim)])
        for i in range(per):
            jit = np.array(
                [((i * 7919 + d * 104729 + c * 15485863) % 1000) / 10000.0
                 - 0.05 for d in range(dim)])
            rows.append((c * per + i, (center + jit).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, k=5).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in ivf_kmeans_ann_topk(emb, k=5, probe=2).collect()}
    rec = len(got & truth) / len(truth)
    assert rec >= 0.8, rec
    # sanity: the plant worked — true neighbors are intra-cluster
    same = sum(1 for q, n in truth if q // per == n // per)
    assert same / len(truth) >= 0.95


def test_pq_adc_keeps_neighbors_in_cluster(spark):
    """PQ compressed-domain scoring on the planted-cluster fixture
    (same plant as the IVF recall test): after quantizing every vector
    to m=4 3-bit codes (64 floats -> 4 bytes), ADC top-3 neighbors stay
    inside the query's true cluster. Uniform-random embeddings are the
    adversarial case for any product quantizer (measured recall@3 0.057
    on the sf0.001 fixture vs 0.006 random — real but weak); the planted
    structure is what PQ exists to exploit, mirroring how the IVF bar is
    pinned."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.ann import pq_adc_topk

    dim, n_clusters, per = 64, 40, 12
    rows = []
    for c in range(n_clusters):
        center = np.array(
            [((c * 131071 + d * 524287 + c * d * 999983) % 2000) / 1000.0
             - 1.0 for d in range(dim)])
        for i in range(per):
            jit = np.array(
                [((i * 7919 + d * 104729 + c * 15485863) % 1000) / 10000.0
                 - 0.05 for d in range(dim)])
            rows.append((c * per + i, (center + jit).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = pq_adc_topk(emb, k=3).collect()
    in_cluster = sum(1 for r in got if r.query_id // per == r.vec_id // per)
    assert in_cluster / len(got) >= 0.9, in_cluster / len(got)
    # determinism: the whole pipeline is partitioning-invariant
    b = pq_adc_topk(emb.repartition(7), k=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, b))


def test_token_counts_bpe(spark):
    from bdtopo2refhydro_spark.operators.text import token_counts_bpe

    docs = spark.createDataFrame(
        [(1, "Hello, world! x2"), (2, "one two three")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_counts_bpe(docs).collect()}
    # "hello" "," "world" "!" "x" "2" = 6 bpe tokens over 3 ws words
    assert rows[1]["n_words"] == 3 and rows[1]["n_bpe_tokens"] == 6
    assert rows[2]["n_words"] == 3 and rows[2]["n_bpe_tokens"] == 3
    assert rows[1]["tokens_per_word"] == 2.0


def test_repetition_stats_hand_checked(spark):
    rows = [
        (0, "a a a b"),          # top token 'a'×3; bigrams: 'a a'×2, 'a b'
        (1, "x"),                # single token: no bigrams
        (2, "the cat sat"),      # all distinct
        (3, "go go go go"),      # one token dominates everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
    assert (out[0].n_tokens, out[0].n_distinct_tokens) == (4, 2)
    assert (out[0].top_token_count, out[0].top_bigram_count) == (3, 2)
    assert (out[1].top_token_count, out[1].top_bigram_count) == (1, 0)
    assert (out[2].top_token_count, out[2].top_bigram_count) == (1, 1)
    assert (out[3].top_token_count, out[3].top_bigram_count) == (4, 3)
    # the Gopher 0.2-fraction gate in pure integers (with its usual
    # min-length companion so trivially-short docs don't trip it):
    # docs 0 and 3 fail it
    flagged = {d for d, r in out.items()
               if r.n_tokens >= 4 and r.top_token_count * 5 > r.n_tokens}
    assert flagged == {0, 3}


def test_pii_redact_hand_checked(spark):
    rows = [
        (0, "write bob.smith+x@foo-bar.co today 1234567890 ok 12345678"),
        (1, "no pii at all"),
        (2, "two a@b.io and c.d@e-f.org plus 999999999"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.pii_redact(df).collect()}
    assert out[0].text_redacted == "write <EMAIL> today <ID> ok 12345678"
    assert (out[0].n_emails, out[0].n_long_ids) == (1, 1)
    assert out[1].text_redacted == "no pii at all"
    assert (out[1].n_emails, out[1].n_long_ids) == (0, 0)
    assert out[2].text_redacted == "two <EMAIL> and <EMAIL> plus <ID>"
    assert (out[2].n_emails, out[2].n_long_ids) == (2, 1)
    # original text column is preserved alongside the redaction
    assert out[0].text.startswith("write bob.smith")


def test_real_ppm_and_wav_decode(spark):
    """Magic-byte dispatch: valid PPM/WAV payloads take the REAL numpy
    decoders (dimensions/duration/loudness parsed from bytes); other
    payloads keep the deterministic stub. Hand-built non-synth fixtures
    (varied pixels, multi-chunk WAV with a LIST chunk) exercise the
    parsers beyond the closed-form driver fixture."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.multimodal import (
        extract_audio_features,
        extract_image_features,
    )

    # 2x1 PPM, pixels (0,0,0) and (255,4,0): means (127.5, 2, 0)/256
    ppm = b"P6\n# c\n2 1\n255\n" + bytes((0, 0, 0, 255, 4, 0))
    media = spark.createDataFrame(
        [("p", bytearray(ppm)), ("s", bytearray(b"not an image"))],
        "url string, payload binary",
    )
    img = {r["url"]: r for r in
           extract_image_features(media, payload_col="payload").collect()}
    assert img["p"]["media_type"] == "image/x-portable-pixmap"
    assert (img["p"]["width"], img["p"]["height"]) == (2, 1)
    assert img["p"]["features"][0] == 127.5 / 256.0
    assert img["p"]["features"][1] == 2.0 / 256.0
    assert img["p"]["features"][3] == 255.0 / 256.0  # max
    assert img["s"]["media_type"] == "image/stub"

    # 8kHz mono WAV, 16 frames, with a LIST chunk the walker must skip;
    # samples ±1024 → mean abs exactly 1024/32768
    samples = np.array([1024, -1024] * 8, dtype="<i2").tobytes()
    wav = (
        b"RIFF" + (4 + 8 + 6 + 8 + 16 + 8 + len(samples)).to_bytes(4, "little")
        + b"WAVE"
        + b"LIST" + (6).to_bytes(4, "little") + b"INFOab"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(samples).to_bytes(4, "little") + samples
    )
    media2 = spark.createDataFrame(
        [("w", bytearray(wav)), ("s", bytearray(b"not audio"))],
        "url string, payload binary",
    )
    aud = {r["url"]: r for r in extract_audio_features(media2).collect()}
    assert aud["w"]["sample_rate"] == 8000
    assert aud["w"]["duration_ms"] == 16 * 1000 // 8000
    assert aud["w"]["loudness"] == 1024.0 / 32768.0
    assert aud["s"]["sample_rate"] in (8000, 16000, 22000, 44000)  # stub


def test_resize_images_real_and_passthrough(spark):
    """resize_images genuinely resamples PPM payloads (verified by
    re-decoding the re-encoded bytes) and passes other formats through."""
    from bdtopo2refhydro_spark.operators.multimodal import (
        extract_image_features,
        resize_images,
    )

    ppm = b"P6\n2 1\n255\n" + bytes((10, 20, 30, 50, 60, 70))
    media = spark.createDataFrame(
        [("p", bytearray(ppm)), ("o", bytearray(b"opaque blob"))],
        "url string, payload binary",
    )
    rz = {r["url"]: r for r in resize_images(media, 4, 2).collect()}
    assert (rz["p"]["width"], rz["p"]["height"]) == (4, 2)
    assert rz["o"]["width"] == -1 and bytes(rz["o"]["resized"]) == b"opaque blob"
    # round-trip: the resized payload decodes to the target dims, and
    # nearest-neighbor duplication preserves per-channel means exactly
    back = resize_images(media, 4, 2).select(
        "url", F.col("resized").alias("payload")
    ).filter("url = 'p'")
    dec = extract_image_features(back, payload_col="payload").collect()[0]
    assert (dec["width"], dec["height"]) == (4, 2)
    assert dec["features"][0] == (10 + 50) / 2 / 256.0


def test_corpus_manifest_hand_checked(spark):
    rows = [
        # src A: one 12-token clean doc, an exact dup of it, and a
        # repetitive doc (top 'go'x6 of 12 -> fails the 1/5 gate)
        (0, "a b c d e f g h i j k l", "A"),
        (5, "a b c d e f g h i j k l", "A"),
        (1, "go go go go go go m n o p q r", "A"),
        # src B: a too-short doc and a 10-token clean doc
        (2, "tiny doc", "B"),
        (3, "q w e r t y u i o p", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in TX.corpus_manifest(df).collect()}
    assert (out["A"].docs_total, out["A"].docs_after_dedup,
            out["A"].docs_kept, out["A"].tokens_kept) == (3, 2, 1, 12)
    assert (out["B"].docs_total, out["B"].docs_after_dedup,
            out["B"].docs_kept, out["B"].tokens_kept) == (2, 2, 1, 10)


def test_decontaminate_flags_overlap(spark):
    from bdtopo2refhydro_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox sleeps"),   # shares "quick brown fox"
            (3, "completely different words here"),
            (4, "the quick brown fox jumps"),  # exact dup of benchmark
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 1")
    got = {r.doc_id: (r.n_shared, r.contaminated)
           for r in decontaminate(docs, bench, k=3).collect()}
    # doc 1: 3 trigrams, all shared with itself; doc 2 shares exactly one
    assert got[1] == (3, True)
    assert got[2] == (1, True)
    assert got[3] == (0, False)
    assert got[4] == (3, True)


def test_bmp_decode_varied_pixels_and_stride(spark):
    """Hand-built 2x2 24-bit BMP with distinct pixels: bottom-up row
    order, BGR byte order, and 4-byte row padding all byte-exact; then
    the same payload through the Spark featurizer."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.multimodal import (
        _decode_bmp,
        extract_image_features,
    )

    px = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)]
    rows = []
    for rr in (px[2:], px[:2]):  # bottom-up
        rows.append(b"".join(bytes((b, g, r)) for (r, g, b) in rr)
                    + b"\x00\x00")
    data = b"".join(rows)
    hdr = (
        b"BM" + (54 + len(data)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(data).to_bytes(4, "little")
        + b"\x00" * 16
    )
    payload = hdr + data
    w, h, f = _decode_bmp(payload)
    exp = np.array(px, dtype=float).mean(axis=0) / 256.0
    assert (w, h) == (2, 2)
    assert np.allclose(f[:3], exp)

    media = spark.createDataFrame([("u1", payload)], "url string, payload binary")
    row = extract_image_features(media, payload_col="payload").collect()[0]
    assert row.media_type == "image/bmp"
    assert (row.width, row.height) == (2, 2)
    assert np.allclose(row.features[:3], exp)


def test_nfc_normalization_composes_and_counts(spark):
    """Decomposed e+U+0301 / A+U+030A compose under NFC; already-composed
    and ASCII rows pass through unchanged with changed=False."""
    from bdtopo2refhydro_spark.operators.text import normalize_text_nfc

    rows = [
        (1, "café"),          # decomposed acute -> café
        (2, "café"),           # already composed
        (3, "Å b"),           # decomposed ring -> Å b
        (4, "plain ascii"),
        (5, None),
    ]
    out = {r.doc_id: r for r in normalize_text_nfc(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1].text_nfc == "café" and out[1].changed
    assert (out[1].n_before, out[1].n_after) == (5, 4)
    assert out[2].text_nfc == "café" and not out[2].changed
    assert out[3].text_nfc == "Å b" and out[3].changed
    assert not out[4].changed and out[4].n_before == out[4].n_after == 11
    assert out[5].text_nfc is None and out[5].changed is None


def test_bigram_fluency_hand_checked(spark):
    """'a b a b' → bigrams [a b, b a, a b]: 'a b' has corpus count 2+1
    (doc2 contributes one more) ... verified by hand below."""
    from bdtopo2refhydro_spark.operators.text import bigram_fluency

    rows = [
        (1, "a b a b"),     # bigrams: (a b), (b a), (a b)
        (2, "a b"),         # bigram:  (a b)
        (3, "x"),           # no bigrams
        (4, "p q"),         # bigram (p q), corpus count 1
    ]
    # corpus counts: (a b)=3, (b a)=1, (p q)=1
    out = {r.doc_id: r for r in bigram_fluency(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_avg_count=2).collect()}
    assert (out[1].score, out[1].n_bigrams, out[1].fluent) == (7, 3, True)
    assert (out[2].score, out[2].n_bigrams, out[2].fluent) == (3, 1, True)
    assert (out[3].score, out[3].n_bigrams, out[3].fluent) == (0, 0, False)
    assert (out[4].score, out[4].n_bigrams, out[4].fluent) == (1, 1, False)


def test_int8_quantization_and_recall(spark, emb):
    """Quantization: exact codes on hand values (incl. clamp + negative
    round-half-up); ANN: int8 MIPS top-3 ranks against float cosine
    ground truth with high overlap on the fixture embeddings."""
    from bdtopo2refhydro_spark.operators.ann import (
        ann_int8_topk,
        cosine_topk,
        quantize_int8,
    )

    hand = spark.createDataFrame(
        [(1, [0.5, -0.5, 1.2, -1.2, 0.0037, -0.0037])],
        "vec_id long, embedding array<float>")
    q = quantize_int8(hand).collect()[0]
    # floor(x*127+0.5): 64 (63.5→64), -63 (-63.0), 127 (clamped), -127,
    # 0 (0.9699→floor 0 ... wait 0.0037*127=0.47 → floor(0.97)=0), 0
    assert q.qemb8 == [64, -63, 127, -127, 0, 0]
    assert q.qnorm2 == 64 * 64 + 63 * 63 + 2 * 127 * 127

    queries = emb.filter("vec_id < 20")
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=3).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in ann_int8_topk(emb, queries, k=3).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.85, recall


def test_sem_dedup_drops_planted_near_dups(spark):
    """Plant two exact-duplicate groups among spread-out vectors: within
    each group only the LOWEST vec_id survives; singletons all survive."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.ann import sem_dedup

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(64).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    # duplicates of vec 3 and vec 11 (slight jitter, cosine ~ 1)
    for j, src in [(100, 3), (101, 3), (102, 11)]:
        v = np.array(rows[src][1], dtype=np.float32)
        v = v + np.float32(1e-4) * np.sign(v)
        rows.append((j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           sem_dedup(emb, threshold=0.98, n_centroids=4).collect()}
    assert len(out) == 43
    assert not out[100].kept and not out[101].kept and not out[102].kept
    assert out[3].kept and out[11].kept
    # dup groups land in their source's cluster
    assert out[100].bucket == out[3].bucket
    assert out[102].bucket == out[11].bucket
    assert sum(not r.kept for r in out.values()) == 3


def test_chunk_documents_windows(spark):
    """9 tokens, chunk 4 / stride 3 → starts 0,3,6: last chunk short (3
    tokens); 1-token and empty docs yield exactly one chunk."""
    from bdtopo2refhydro_spark.operators.corpus import chunk_documents

    rows = [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8"), (2, "solo"), (3, "")]
    out = chunk_documents(
        spark.createDataFrame(rows, "doc_id long, text string"),
        chunk_tokens=4, stride=3).collect()
    by = {}
    for r in out:
        by.setdefault(r.doc_id, []).append(r)
    one = sorted(by[1], key=lambda r: r.chunk_idx)
    assert [(r.start_tok, r.n_tok, r.chunk_text) for r in one] == [
        (0, 4, "t0 t1 t2 t3"), (3, 4, "t3 t4 t5 t6"), (6, 3, "t6 t7 t8")]
    assert [(r.start_tok, r.n_tok, r.chunk_text) for r in by[2]] == \
        [(0, 1, "solo")]
    assert len(by[3]) == 1 and by[3][0].n_tok == 1  # split('') -> ['']
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(spark.createDataFrame(rows, "doc_id long, text string"),
                        chunk_tokens=2, stride=3)


def test_bpe_train_hand_checked(spark):
    """'low lower lowest low low': pair counts l-o:5 o-w:5 (tie → lexico
    (l,o) wins) → merges (l,o) then (lo,w) then (low,e)."""
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low")], "doc_id long, text string")
    got = [(r.round, r.left_sym, r.right_sym, r.n_occ)
           for r in TX.bpe_train_merges(docs).orderBy("round").collect()]
    assert got == [(1, "l", "o", 5), (2, "lo", "w", 5), (3, "low", "e", 2)]


def test_bpe_merge_handles_back_to_back_chains(spark):
    """'ababab': greedy merge of (a,b) must catch ALL THREE back-to-back
    occurrences (the single-pass replace misses every other one — this
    pins the multi-pass fixpoint), then rounds 2-3 stack merges."""
    docs = spark.createDataFrame(
        [(1, "ababab")], "doc_id long, text string")
    got = [(r.round, r.left_sym, r.right_sym, r.n_occ)
           for r in TX.bpe_train_merges(docs).orderBy("round").collect()]
    assert got == [(1, "a", "b", 3), (2, "ab", "ab", 2),
                   (3, "abab", "ab", 1)]


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

def test_incremental_dedup_flags(spark):
    from bdtopo2refhydro_spark.operators.text import incremental_dedup
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    old = spark.createDataFrame(
        [(0, base), (2, "completely unrelated content about spark plans"),
         (4, "another distinct old document body here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base),                                   # exact copy of old 0
         (3, base + " today"),                        # near-dup of old 0
         (5, "fresh never seen text with many novel tokens indeed")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["dropped_exact"], r["dropped_near"], r["keep"])
           for r in incremental_dedup(new, old, threshold=0.5).collect()}
    assert got[1][0] is True and got[1][2] is False
    assert got[3] == (False, True, False)
    assert got[5] == (False, False, True)


def test_incremental_dedup_never_drops_new_vs_new(spark):
    from bdtopo2refhydro_spark.operators.text import incremental_dedup
    dup = "identical new snapshot text repeated across two new docs only"
    old = spark.createDataFrame(
        [(0, "old corpus text sharing nothing with the new snapshot")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, dup), (3, dup)], "doc_id long, text string")
    out = incremental_dedup(new, old, threshold=0.5).collect()
    # intra-snapshot duplicates are NOT this operator's job (self-dedup
    # handles them) — both copies survive the cross-snapshot pass
    assert all(r["keep"] for r in out)


# ---------------------------------------------------------------------------
# dictionary_match
# ---------------------------------------------------------------------------

def test_dictionary_match_counts_unigrams_and_bigrams(spark):
    from bdtopo2refhydro_spark.operators.text import dictionary_match

    docs = spark.createDataFrame(
        [
            (1, "Spark join  spark HASH JOIN"),   # case + multi-space
            (2, "join"),                           # single token, no bigram
            (3, ""),                                # empty -> no rows
            (4, "merge slow merge slow"),           # overlapping bigrams
        ],
        "doc_id long, text string")
    got = {(r["doc_id"], r["phrase"]): r["n_hits"]
           for r in dictionary_match(
               docs, ["spark", "join", "hash join", "merge slow",
                      "slow merge"]).collect()}
    assert got == {
        (1, "spark"): 2,
        (1, "join"): 2,
        (1, "hash join"): 1,
        (2, "join"): 1,
        (4, "merge slow"): 2,
        (4, "slow merge"): 1,
    }


def test_dictionary_match_broadcasts_the_dictionary(spark):
    from bdtopo2refhydro_spark.operators.text import dictionary_match

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = (dictionary_match(docs, ["a"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# kn_continuation_counts
# ---------------------------------------------------------------------------

def test_kn_continuation_counts_hand_fixture(spark):
    from bdtopo2refhydro_spark.operators.text import kn_continuation_counts

    docs = spark.createDataFrame(
        [
            (1, "a b a c"),      # bigram types: (a,b) (b,a) (a,c)
            (2, "b a"),          # (b,a) again -> no new type
            (3, "solo"),         # single token: unigram only
            (4, ""),             # empty: nothing
        ],
        "doc_id long, text string")
    got = {r["tok"]: (r["n_uni"], r["n_left_ctx"], r["n_right_ctx"])
           for r in kn_continuation_counts(docs).collect()}
    # a: 3 occurrences (2 in doc 1, 1 in doc 2); preceded by {b};
    # followed by {b, c}
    assert got["a"] == (3, 1, 2)
    # b: 2 occurrences; preceded by {a}; followed by {a}
    assert got["b"] == (2, 1, 1)
    # c: 1 occurrence; preceded by {a}; followed by {}
    assert got["c"] == (1, 1, 0)
    assert got["solo"] == (1, 0, 0)
    assert set(got) == {"a", "b", "c", "solo"}


# ---------------------------------------------------------------------------
# simpson_diversity
# ---------------------------------------------------------------------------

def test_simpson_diversity_hand_fixture(spark):
    from bdtopo2refhydro_spark.operators.text import simpson_diversity

    docs = spark.createDataFrame(
        [
            (1, "a a b"),    # n=3, types=2, num=2*1=2, den=3*2=6
            (2, "x"),        # n=1, types=1, num=0, den=0
            (3, "c c c c"),  # n=4, types=1, num=12, den=12 (pure rep)
            (4, ""),         # no tokens -> no row
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_types"], r["simpson_num"],
                         r["simpson_den"])
           for r in simpson_diversity(docs).collect()}
    assert got == {1: (3, 2, 2, 6), 2: (1, 1, 0, 0), 3: (4, 1, 12, 12)}


# ---------------------------------------------------------------------------
# stopword_gate / containment_pairs
# ---------------------------------------------------------------------------

def test_stopword_gate_per_source_df(spark):
    from bdtopo2refhydro_spark.operators.text import stopword_gate

    docs = spark.createDataFrame(
        [
            (1, "s1", "the cat"), (2, "s1", "the dog"),
            (3, "s1", "a bird"),
            (4, "s2", "the fish"),  # 'the' in 1/1 of s2 docs
        ],
        "doc_id long, source string, text string")
    got = {(r["source"], r["tok"]): (r["df"], r["n_docs"])
           for r in stopword_gate(docs, pct=50).collect()}
    # s1: 'the' df=2/3 docs -> 200 > 150 passes; all others df=1 fail
    assert got == {("s1", "the"): (2, 3), ("s2", "the"): (1, 1),
                   ("s2", "fish"): (1, 1)}


def test_containment_pairs_asymmetric(spark):
    from bdtopo2refhydro_spark.operators.text import containment_pairs

    # doc 1 is fully contained in doc 2 (which is much longer), so
    # (1 in 2) passes the 60% gate while (2 in 1) fails.
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),  # 2 trigrams: abc, bcd
            (2, "a b c d e f g h i j"),  # 8 trigrams, first 2 shared
            (3, "z z z z"),
        ],
        "doc_id long, text string")
    rows = {(r["a"], r["b"]): (r["inter"], r["size_a"])
            for r in containment_pairs(docs, n=3, pct=60).collect()}
    assert rows == {(1, 2): (2, 2)}


def test_containment_collapse_equivalence(spark):
    """The distinct-GRAM-SET representative collapse must be
    OUTPUT-IDENTICAL to the direct shared-gram join — ordered pairs
    WITH exact integer (inter, size_a) — on a fixture covering every
    collapse class: exact dups, a same-gram-set family (rotation with
    wraparound overlap), asymmetric containment across groups,
    singletons, and docs with no grams at all (< n tokens)."""
    from bdtopo2refhydro_spark.operators.text import containment_pairs

    rows = [
        (0, "a b c d"),
        (1, "a b c d"),                      # exact dup of 0
        # same 3-gram SET, different linear order (cyclic repeats)
        (2, "p q r p q r p q"),
        (3, "q r p q r p q r"),
        (4, "a b c d e f g h i j"),          # contains 0/1 (2/2 grams)
        (5, "z y x w v u"),                  # singleton
        (6, "t u"),                          # no grams (< 3 tokens)
        (7, "s t"),                          # no grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = {(r["a"], r["b"]): (r["inter"], r["size_a"]) for r in
         containment_pairs(docs, n=3, pct=60,
                           algorithm="direct").collect()}
    c = {(r["a"], r["b"]): (r["inter"], r["size_a"]) for r in
         containment_pairs(docs, n=3, pct=60,
                           algorithm="collapse").collect()}
    assert c == d
    assert c[(0, 1)] == (2, 2) and c[(1, 0)] == (2, 2)  # within pairs
    assert c[(2, 3)][0] == c[(2, 3)][1]  # family: 100% both ways
    assert (3, 2) in c
    assert c[(0, 4)] == (2, 2) and (4, 0) not in c  # asymmetric
    assert not any(6 in p or 7 in p for p in c)  # gramless: no pairs
    # pct >= 100: within pairs must NOT be emitted (strict gate)
    strict = {(r["a"], r["b"]) for r in
              containment_pairs(docs, n=3, pct=100,
                                algorithm="collapse").collect()}
    assert strict == {(p, q) for p, q in
                      {(r["a"], r["b"]) for r in
                       containment_pairs(docs, n=3, pct=100,
                                         algorithm="direct").collect()}}


def test_rake_scores_hand_computed(spark):
    """'deep learning of the deep model' style fixture: phrases split
    at stopwords; deg sums phrase lengths per occurrence."""
    docs = spark.createDataFrame(
        [(1, "deep learning of deep models"),
         (2, "the deep net")],
        "doc_id long, text string")
    from bdtopo2refhydro_spark.operators.text import rake_scores

    got = {r["token"]: r for r in rake_scores(
        docs, ["of", "the"]).collect()}
    # doc1 phrases: [deep learning] len2, [deep models] len2
    # doc2 phrases: [deep net] len2
    assert got["deep"]["freq"] == 3 and got["deep"]["deg"] == 6
    assert got["learning"]["freq"] == 1 and got["learning"]["deg"] == 2
    assert got["net"]["deg"] == 2
    assert got["deep"]["score"] == 2.0
    assert "of" not in got and "the" not in got


def test_stem_expr_rules(spark):
    from bdtopo2refhydro_spark.operators.text import stem_expr

    rows = spark.sql(
        "SELECT " + ", ".join(
            f"{stem_expr(repr(w))} AS s{i}"
            for i, w in enumerate(
                ["classes", "queries", "glass", "runs", "bus",
                 "cities", "mass", "table"]))).first()
    assert list(rows) == ["class", "queri", "glass", "run", "bu",
                          "citi", "mass", "table"]


def test_prefix_filter_pairs_complete_and_exact(spark):
    """Prefix filtering must be COMPLETE (no false negatives): compare
    against a brute-force python tau-join on constructed token sets."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta"),          # exact dup of 1
         (3, "alpha beta gamma delta epsilon"),  # J=4/5 vs 1,2
         (4, "zeta eta theta"),
         (5, "zeta eta theta iota kappa"),       # J=3/5 vs 4 (below)
         (6, "solo words here only")],
        "doc_id long, text string")
    from bdtopo2refhydro_spark.operators.text import prefix_filter_pairs

    got = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"])
           for r in prefix_filter_pairs(docs).collect()}
    sets = {1: {"alpha", "beta", "gamma", "delta"},
            2: {"alpha", "beta", "gamma", "delta"},
            3: {"alpha", "beta", "gamma", "delta", "epsilon"},
            4: {"zeta", "eta", "theta"},
            5: {"zeta", "eta", "theta", "iota", "kappa"},
            6: {"solo", "words", "here", "only"}}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if i * 10 >= 7 * u:
                    want[(a, b)] = (i, u)
    assert got == want
    assert (1, 2) in got and (1, 3) in got and (4, 5) not in got
