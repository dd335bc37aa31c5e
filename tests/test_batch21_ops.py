"""Semantics tests for the batch-21 operators: sweep-line interval
merging, cohort retention, integer rolling anomalies.

Each operator also has an exact DuckDB oracle entry in
__spark_entry__.py; these tests pin the hand-checkable corner cases the
fixture can't isolate (touching intervals, tie rules, ceil division,
threshold short-circuit).
"""

from pyspark.sql import functions as F


# ---------------------------------------------------------------- intervals

def _iv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, s bigint, e bigint")


def test_merge_intervals_chains_and_touching(spark):
    """Overlap chains merge transitively; TOUCHING intervals (s == prev
    max end) merge too (new segment only when s strictly exceeds the
    running max); disjoint spans stay separate; a contained interval
    never splits its container."""
    from bdtopo2refhydro_spark.operators.temporal import merge_intervals

    rows = [
        (1, 0, 10), (1, 5, 20), (1, 20, 30),   # chain + touching -> [0,30]
        (1, 40, 50),                            # disjoint
        (2, 0, 100), (2, 10, 20),               # contained
        (2, 150, 160),
    ]
    out = merge_intervals(_iv(spark, rows), key_col="k",
                          start_col="s", end_col="e")
    got = {(r.k, r.seg_start, r.seg_end) for r in out.collect()}
    assert got == {(1, 0, 30), (1, 40, 50), (2, 0, 100), (2, 150, 160)}


def test_merge_intervals_out_of_order_input(spark):
    """The sweep sorts inside the window — input order is irrelevant."""
    from bdtopo2refhydro_spark.operators.temporal import merge_intervals

    rows = [(1, 50, 60), (1, 0, 10), (1, 55, 70), (1, 8, 52)]
    out = merge_intervals(_iv(spark, rows), key_col="k",
                          start_col="s", end_col="e")
    got = {(r.seg_start, r.seg_end) for r in out.collect()}
    assert got == {(0, 70)}


# ------------------------------------------------------------------ cohorts

def test_cohort_retention_counts_and_cohort_assignment(spark):
    from bdtopo2refhydro_spark.operators.temporal import cohort_retention

    rows = [
        # user 1 joins week 0, active weeks 0,1,2; user 2 joins week 1
        (1, 0), (1, 0), (1, 1), (1, 2),
        (2, 1), (2, 2),
        (3, 0), (3, 2),
    ]
    df = spark.createDataFrame(rows, "u bigint, wk bigint")
    out = cohort_retention(df, user_col="u", period_col="wk")
    got = {(r.cohort, r.period): r.n_users for r in out.collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 2, (1, 1): 1, (1, 2): 1}


# ---------------------------------------------------------------- anomalies

def test_rolling_outliers_flat_baseline_spike_ratio_is_seven(spark):
    """A lone spike over a constant baseline yields exactly
    lhs = 7 * (n*s2 - s^2) (closed form: both sides reduce to
    multiples of (M-c)^2) — so t_sq=5 flags it and t_sq=9 does not.
    Earlier rows (partial windows) are never eligible."""
    from bdtopo2refhydro_spark.operators.dq import rolling_outliers

    rows = [(1, i, 3) for i in range(10)] + [(1, 10, 100)]
    df = spark.createDataFrame(rows, "k bigint, t bigint, v bigint")
    flag5 = rolling_outliers(df, key_col="k", order_col="t",
                             value_col="v", window=8, t_sq=5).collect()
    assert [(r.t, r.x) for r in flag5] == [(10, 100)]
    r = flag5[0]
    assert r.lhs == 7 * (r.rhs // 5)  # ratio exactly 7
    flag9 = rolling_outliers(df, key_col="k", order_col="t",
                             value_col="v", window=8, t_sq=9).collect()
    assert flag9 == []


# ------------------------------------------------------------------- gapfill

def test_gap_fill_counts_zero_fills_interior_gaps_only(spark):
    """Spine spans [min, max] PER KEY (no global calendar): interior
    gaps zero-fill, nothing extends past a key's own bounds."""
    from bdtopo2refhydro_spark.operators.temporal import gap_fill_counts

    rows = [(1, 10), (1, 10), (1, 13), (2, 5)]
    df = spark.createDataFrame(rows, "k bigint, p bigint")
    out = {(r.k, r.p): r.n
           for r in gap_fill_counts(df, key_col="k",
                                    period_col="p").collect()}
    assert out == {(1, 10): 2, (1, 11): 0, (1, 12): 0, (1, 13): 1,
                   (2, 5): 1}


# --------------------------------------------------------------- perceptual

def test_ahash64_matches_naive_reference_and_degenerate_zero():
    """ahash64 == a naive per-bit reference on random-ish integer
    images (including non-multiple-of-8 dims), and a constant image
    hashes to 0 (no cell exceeds its own mean)."""
    import numpy as np

    from bdtopo2refhydro_spark.operators.multimodal import ahash64

    def naive(gray):
        h, w = gray.shape
        cells = [[int(gray[(i * h) // 8, (j * w) // 8])
                  for j in range(8)] for i in range(8)]
        total = sum(sum(r) for r in cells)
        out = 0
        for i in range(8):
            for j in range(8):
                if cells[i][j] * 64 > total:
                    out |= 1 << (i * 8 + j)
        return out

    rng = np.arange(13 * 17, dtype=np.int64) * 997 % 256
    img = rng.reshape(13, 17)
    assert ahash64(img) == naive(img)
    img2 = (np.arange(8 * 8, dtype=np.int64) * 31 % 256).reshape(8, 8)
    assert ahash64(img2) == naive(img2)
    assert ahash64(np.full((10, 10), 77, dtype=np.int64)) == 0


def test_ppm_pixels_parses_comments_and_shape():
    from bdtopo2refhydro_spark.operators.multimodal import _ppm_pixels

    payload = (b"P6\n# a comment line\n3 2\n255\n"
               + bytes(range(18)))
    px = _ppm_pixels(payload)
    assert px.shape == (2, 3, 3)
    assert px[0, 0, 0] == 0 and px[1, 2, 2] == 17


def test_perceptual_ahash_identical_images_collide(spark):
    """Two byte-identical images get the same hash; a structurally
    different image (split moved) gets a different one."""
    from bdtopo2refhydro_spark.operators.multimodal import (
        perceptual_ahash,
        synth_ppm_split_bytes,
    )

    rows = [("a", synth_ppm_split_bytes(1)),
            ("b", synth_ppm_split_bytes(1)),
            ("c", synth_ppm_split_bytes(2))]
    df = spark.createDataFrame(rows, "url string, payload binary")
    out = {r.url: (r.hash_hi, r.hash_lo)
           for r in perceptual_ahash(df).collect()}
    assert out["a"] == out["b"]
    assert out["a"] != out["c"]


# ------------------------------------------------------------ dedup lineage

def test_dedup_lineage_maps_every_removed_row_to_its_keeper(spark):
    from bdtopo2refhydro_spark.operators.text import dedup_lineage

    rows = [(1, "aaa"), (2, "aaa"), (3, "aaa"), (4, "bbb"), (5, "ccc")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.doc_id, r.keep_id, r.n_copies)
           for r in dedup_lineage(df).collect()}
    assert out == {(2, 1, 3), (3, 1, 3)}  # uniques emit nothing


# ---------------------------------------------------------------- walks

def test_random_walks_follow_edges_one_step_per_start(spark):
    """Walk continuity: exactly one node per (start, step); every
    transition is a real edge; a forced chain walks deterministically
    a->b->c; dead ends stop the walk early."""
    from bdtopo2refhydro_spark.operators.linkgraph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],  # y is a dead end
        "src string, dst string")
    out = random_walks(edges, steps=3).collect()
    rows = {(r.start, r.step): r.node for r in out}
    assert rows[("a", 1)] == "b" and rows[("a", 2)] == "c"
    assert ("a", 3) not in rows          # c is a dead end
    assert rows[("x", 1)] == "y" and ("x", 2) not in rows
    assert len(rows) == len(out)         # one node per (start, step)


def test_random_walks_are_deterministic_across_runs(spark):
    from bdtopo2refhydro_spark.operators.linkgraph import random_walks

    edges = spark.createDataFrame(
        [("h", f"n{i}") for i in range(6)] + [(f"n{i}", "h")
                                              for i in range(6)],
        "src string, dst string")
    a = sorted(map(tuple, random_walks(edges, steps=2).collect()))
    b = sorted(map(tuple, random_walks(edges, steps=2).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------- audio

def test_audio_frame_energy_full_and_tail_frames(spark):
    """Constant-amplitude synth WAV: every full frame's energy is
    1024*amp^2, the tail frame (n % 1024) * amp^2, frame count is
    ceil(n/1024)."""
    from bdtopo2refhydro_spark.operators.multimodal import (
        audio_frame_energy,
        synth_wav_bytes,
    )

    doc_id = 5  # rate 16 kHz, dur 350 ms -> 5600 samples, amp 155
    df = spark.createDataFrame([("u", synth_wav_bytes(doc_id))],
                               "url string, payload binary")
    out = sorted((r.frame_idx, r.n_samples, r.energy)
                 for r in audio_frame_energy(df).collect())
    amp = (doc_id * 31) % 32768
    n = 16000 * 350 // 1000
    assert len(out) == (n + 1023) // 1024 == 6
    for idx, ns, en in out[:-1]:
        assert ns == 1024 and en == 1024 * amp * amp
    assert out[-1] == (5, n - 5 * 1024, (n - 5 * 1024) * amp * amp)


# ------------------------------------------------------------ text cleanup

def test_fix_mojibake_inverts_the_codec_pair(spark):
    """Round-trip through the REAL codecs: utf8-bytes-read-as-latin1
    mangles 'é' to 'Ã©'; the repair restores the original exactly and
    leaves pure-ASCII rows unchanged."""
    from bdtopo2refhydro_spark.operators.text import fix_mojibake

    orig = "café résumé"
    mangled = orig.encode("utf-8").decode("latin-1")
    assert mangled != orig and "Ã" in mangled
    df = spark.createDataFrame([(1, mangled), (2, "plain ascii")],
                               "doc_id bigint, text string")
    out = {r.doc_id: r.fixed for r in fix_mojibake(df).collect()}
    assert out[1] == orig
    assert out[2] == "plain ascii"


def test_unescape_html_entities_named_decimal_hex(spark):
    from bdtopo2refhydro_spark.operators.text import (
        unescape_html_entities,
    )

    df = spark.createDataFrame(
        [(1, "a &amp; b &lt;x&gt; &#233; &#x41; &nbsp;end")],
        "doc_id bigint, text string")
    out = unescape_html_entities(df).collect()[0].unescaped
    # \xa0: &nbsp; is NON-BREAKING space — explicit escape, not an
    # invisible literal
    assert out == "a & b <x> é A \xa0end"


# ---------------------------------------------------------------- wordpiece

def test_wordpiece_greedy_longest_match_and_unk(spark):
    """Greedy semantics pinned by hand: longest FIRST match wins at
    every position; continuation pieces carry ##; a word with any
    unmatched position collapses to [UNK] (BERT behavior)."""
    from bdtopo2refhydro_spark.operators.text import wordpiece_encode

    vocab = ["a", "b", "c", "##a", "##b", "##c", "ab", "##bc", "abc"]
    words = spark.createDataFrame(
        [("abc",), ("abca",), ("ba",), ("a9",)], "word string")
    out = {r.word: r.pieces
           for r in wordpiece_encode(words, vocab).collect()}
    assert out["abc"] == ["abc"]            # whole-word beats ab+##c
    assert out["abca"] == ["abc", "##a"]    # greedy first, then cont
    assert out["ba"] == ["b", "##a"]
    assert out["a9"] == ["[UNK]"]           # 9 not in vocab


# --------------------------------------------------------------------- CDC

def test_apply_cdc_last_wins_delete_insert_passthrough(spark):
    from bdtopo2refhydro_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k bigint, v bigint, tag string")
    ch = spark.createDataFrame(
        [(2, 99, "U", 5), (2, 77, "U", 9),   # last wins: 77
         (3, 0, "D", 3),                     # delete
         (4, 44, "I", 7),                    # insert new key
         (5, 55, "I", 1), (5, 0, "D", 2)],   # insert then delete: gone
        "k bigint, v bigint, op string, seq bigint")
    out = sorted((r.k, r.v, r.tag)
                 for r in apply_cdc(base, ch, key_col="k", seq_col="seq",
                                    op_col="op", val_cols=["v"]).collect())
    assert out == [(1, 10, "a"), (2, 77, "b"), (4, 44, None)]


# --------------------------------------------------------------- GNN layer

def test_neighborhood_sum_two_rounds_hand_graph(spark):
    """Path a->b->c with feats 1,2,4: round 1 gives (1, 3, 6);
    round 2 gives (1, 4, 9) — messages use the PREVIOUS round's
    features (h1(b)=3 flows to c: 6+3=9)."""
    from bdtopo2refhydro_spark.operators.linkgraph import neighborhood_sum

    nodes = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 4)], "node string, feat bigint")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    out = {r.node: r.feat
           for r in neighborhood_sum(nodes, edges, rounds=2).collect()}
    assert out == {"a": 1, "b": 4, "c": 9}


# ---------------------------------------------------------- posting deltas

def test_posting_deltas_prefix_sum_restores_postings(spark):
    from bdtopo2refhydro_spark.operators.corpus import inverted_index

    docs = spark.createDataFrame(
        [(3, "x y"), (7, "x"), (20, "x z")], "doc_id bigint, text string")
    idx = inverted_index(docs, min_df=1)
    from pyspark.sql import functions as FF
    out = idx.select("token", FF.expr(
        "transform(postings, (x, i) -> "
        "IF(i = 0, x, x - element_at(postings, i)))").alias("d"),
        "postings").collect()
    for r in out:
        acc, restored = 0, []
        for d in r.d:
            acc += d
            restored.append(acc)
        assert restored == r.postings
