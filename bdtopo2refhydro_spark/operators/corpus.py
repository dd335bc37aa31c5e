"""Corpus-level curation operators (beyond per-document text ops).

These cover the remaining training-data-pipeline surface: boilerplate
(paragraph-level) dedup à la CCNet/Gopher, deterministic stratified
subsampling, global heavy-hitter token stats, and a KMV distinct-count
sketch. Everything is built from JVM built-ins (split/slice/transform/
window/groupBy — whole-stage codegen, zero Python in the hot path) and
every formula is 1:1 expressible in DuckDB SQL for the driver oracle.

Scale notes:
- paragraph dedup: ONE shuffle keyed by the paragraph string (document
  frequency via window count) + one shuffle back on doc_id for
  reassembly; hot boilerplate paragraphs are exactly the AQE-skew-split
  case (string keys, no pre-agg needed since the count is the signal).
  At 100 TB you'd key on xxhash64(paragraph) instead of the raw string
  to shrink the shuffle; kept as the string here so the DuckDB oracle
  can replay it exactly (no shared 64-bit string hash across engines).
- stratified sampling: pure map-side filter — a 16-bit multiplicative
  (Fibonacci) hash of doc_id against a per-stratum threshold. No RNG:
  reruns and resumes see the same sample, and the oracle replays it.
- top-k tokens: explode → two-level hash aggregate (map-side partial
  combine collapses the per-partition token stream before the shuffle)
  → rank on the (tiny) post-agg table.
- KMV: per-partition top-k smallest hashes fold into a global top-k via
  TakeOrdered (orderBy+limit plans as a per-partition heap + merge, not
  a full sort), the canonical distributed KMV merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 16-bit multiplicative hash: 40503 ≈ 65536/φ (Knuth). Products stay
# < 2^32 so ANSI mode can't overflow, and DuckDB computes the identical
# value with the same % arithmetic.
FIB_MOD = 65536
FIB_MULT = 40503


def fib16(col):
    """Deterministic 16-bit hash of a BIGINT column, identical in
    DuckDB: ((x % 65536) * 40503) % 65536."""
    return (F.pmod(F.col(col), F.lit(FIB_MOD)) * FIB_MULT) % FIB_MOD


def dedup_paragraphs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    max_df: int = 2,
) -> DataFrame:
    """Remove corpus-frequent paragraphs from every document (CCNet-style
    boilerplate removal), where a "paragraph" is a fixed run of
    ``chunk_words`` whitespace tokens (the fixture corpus has no
    newlines; swap the chunker for split-on-\\n on real crawl text).

    A paragraph is dropped from ALL documents when its document
    frequency exceeds ``max_df``. Returns one row per input document:
    (id, clean_text, n_chunks, n_removed) — documents whose every chunk
    is boilerplate survive with clean_text = ''.

    Plan: chunk (map-side, slice over the token array) → posexplode →
    window count over the paragraph string → filter → re-assemble via
    groupBy(id) with an order-pinned sort_array(collect_list(struct)).
    """
    cw = int(chunk_words)
    words = F.split(F.col(text_col), " ")
    n_chunks = ((F.size(words) + cw - 1) / cw).cast("bigint")
    chunks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(words, i * cw + 1, cw), " "),
            )
        ).alias("pos", "chunk"),
    )
    df_w = Window.partitionBy("chunk")
    flagged = chunks.withColumn("df", F.count("*").over(df_w))
    kept = flagged.filter(F.col("df") <= max_df)
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = chunks.groupBy("id").agg(F.count("*").alias("n_chunks"))
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
        )
    )


def sample_stratified(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: keep a row when
    fib16(id) < rate[stratum] * 65536. Strata missing from ``rates``
    are dropped (rate 0). Pure map-side — no shuffle, no RNG, stable
    under reruns/resume, replayable by the SQL oracle."""
    thr = F.lit(-1)
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum,
                     F.lit(int(rate * FIB_MOD))).otherwise(thr)
    return (
        docs.withColumn("fib", fib16(id_col))
        .filter(F.col("fib") < thr)
        .drop("fib")
    )


def top_tokens(docs: DataFrame, *, text_col: str = "text",
               k: int = 50) -> DataFrame:
    """Global heavy hitters: the k most frequent whitespace tokens with a
    deterministic tie-break (count desc, token asc). The rank window is
    a single partition BY DESIGN — it runs on the post-aggregation
    vocabulary table (|vocab| rows, not |corpus|); at 100 TB the explode
    +partial-agg stages carry the volume."""
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmv_distinct(values: DataFrame, col: str, *, k: int = 32) -> DataFrame:
    """K-minimum-values distinct-count sketch over a BIGINT column.

    Hash each value with fib16, keep the k smallest DISTINCT hashes, and
    estimate |distinct| as (k-1) * M / kth_min (the classic KMV
    estimator, M = hash-space size). orderBy+limit lowers to TakeOrdered
    (per-partition heap + driver merge of k rows), so the sketch costs
    one pass + one k-row merge regardless of input size. Returns a
    single row (k, kth_min, est_distinct); the estimate is exact-
    reproducible because the hash is deterministic and shared with the
    DuckDB oracle. The 16-bit hash space caps resolvable cardinality at
    ~65k — a production KMV swaps in xxhash64 (same plan shape), kept
    16-bit here only so the oracle can replay the arithmetic."""
    hashes = values.select(fib16(col).alias("h")).distinct()
    kmin = hashes.orderBy("h").limit(k)
    return kmin.agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.max("h").cast("bigint").alias("kth_min"),
        (
            (F.count("*") - 1).cast("double")
            * F.lit(float(FIB_MOD))
            / F.max("h").cast("double")
        ).alias("est_distinct"),
    )


def normalize_urls(df: DataFrame, url_col: str = "url",
                   out_col: str = "url_canon") -> DataFrame:
    """Canonical-URL normalization (the Common-Crawl dedup key): strip the
    fragment, strip tracking params (utm_*/fbclid/gclid) and any dangling
    separators they leave, lowercase scheme+host, drop a leading "www."
    and default ports (:80/:443), and strip one trailing slash.

    Pure JVM regex/string expressions — zero shuffles, whole-stage
    codegen; the regex PATTERNS are shared with the DuckDB oracle (both
    dialects accept them) while each side writes its own replacement
    backref spelling ($1 vs \\1) and DuckDB adds the 'g' flag Spark
    implies. Non-tracking query params are deliberately preserved — they
    distinguish real pages (?page=2).
    """
    u1 = F.regexp_replace(F.col(url_col), "#.*", "")
    u2 = F.regexp_replace(u1, "(utm_[a-zA-Z]+|fbclid|gclid)=[^&]*&?", "")
    u3 = F.regexp_replace(u2, "[?&]+$", "")
    df = df.withColumn("_u3", u3).withColumn(
        "_host", F.regexp_extract(F.col("_u3"), "^[A-Za-z]+://[^/]*", 0)
    )
    # (www\.)+ so stacked www labels drop in ONE pass — idempotence
    # (normalize∘normalize == normalize) is property-tested
    host_canon = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("_host")),
                         "^([a-z]+://)(www\\.)+", "$1"),
        ":(80|443)$", "",
    )
    rest = F.expr("substring(_u3, length(_host) + 1)")
    # strip ALL trailing slashes (not one) so normalization is idempotent
    # — normalize(normalize(u)) == normalize(u), property-tested
    return df.withColumn(
        out_col, F.regexp_replace(F.concat(host_canon, rest), "/+$", "")
    ).drop("_u3", "_host")


def dedup_by_url(df: DataFrame, url_col: str = "url",
                 id_col: str = "doc_id") -> DataFrame:
    """Canonical-URL exact dedup: one output row per normalized URL with
    the deterministic keeper (lowest id) and the duplicate count. One
    shuffle on the canonical string (at 100 TB key the shuffle on
    xxhash64(url_canon) and keep the string only for in-group tie-out,
    as dedup_geometries does for WKB)."""
    return (
        normalize_urls(df, url_col)
        .groupBy("url_canon")
        .agg(
            F.min(id_col).alias("keeper_" + id_col),
            F.count("*").alias("n_docs"),
        )
    )


def domain_cap(docs: DataFrame, cap: int, *,
               domain_col: str = "source",
               order_exprs: list | None = None,
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain document cap (domain balancing): keep at most ``cap``
    documents per domain, preferring the front of ``order_exprs`` (default:
    longest first, id ascending as the deterministic tie-break). The
    standard anti-head-domain measure before corpus mixing — a handful of
    mega-domains otherwise dominate the token budget.

    One shuffle on the domain key; row_number + filter, so the cap is
    applied map-side after the sort within each domain partition. Hot
    domains are the textbook AQE skew case. Returns the surviving rows
    plus their per-domain rank."""
    order_exprs = order_exprs or [F.desc("n_chars"), F.asc(id_col)]
    w = Window.partitionBy(domain_col).orderBy(*order_exprs)
    return (
        docs.withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= cap)
    )


def pack_shards(docs: DataFrame, budget: int, *,
                tokens_col: str = "n_tokens",
                group_col: str = "source",
                id_col: str = "doc_id") -> DataFrame:
    """Contiguous token-shard packing (pretraining sequence packing, the
    deterministic contiguous flavor): within each group, documents are
    laid end-to-end in ``id_col`` order and cut into shards of ``budget``
    tokens; each document is assigned the shard its FIRST token lands in
    plus its token offset inside that shard. Downstream tokenizer workers
    then read (group, shard) partitions independently and resume is
    trivially deterministic.

    One shuffle on the group key; the running sum is a window over
    (group, id) — integer-exact, so the SQL oracle replays it bit-for-bit.
    Per-group sequential packing is the scale shape: groups (sources /
    domains / dump shards) are many and independent."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    b = int(budget)
    return docs.select(
        id_col, group_col, tokens_col, start.alias("tok_start")
    ).select(
        id_col, group_col, tokens_col,
        # `div` = exact BIGINT division (a double divide-then-cast could
        # round across a shard boundary for large running sums)
        F.expr(f"tok_start div {b}").alias("shard"),
        F.expr(f"tok_start % {b}").alias("tok_offset"),
    )


def inverted_index(docs: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id", min_df: int = 1) -> DataFrame:
    """Build an inverted index: one row per token with its document
    frequency and the SORTED posting list of containing documents
    (distinct per doc). The classic search-index build as one explode +
    one hash aggregate; map-side partial aggregation collapses each
    partition's token stream before the shuffle, and postings are pinned
    to doc-id order inside the aggregate so the output is deterministic
    at any parallelism. ``min_df`` drops hapax noise (and bounds output
    rows). At 100 TB the posting lists of stop-word-frequency tokens are
    the skew case — shard them by posting-block (doc_id div B) as a
    second explode if a consumer needs bounded row sizes."""
    tok = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))),
                                     r"\s+"))
        ).alias("token"),
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(F.collect_list(id_col)).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def chunk_documents(docs: DataFrame, *, chunk_tokens: int = 100,
                    stride: int = 80, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping fixed-size token chunks — the
    context-window preprocessing step between curation and tokenization
    (RAG indexing and pretraining-example windowing both consume this).
    Chunk c covers tokens [c·stride, c·stride + chunk_tokens); the last
    chunk starts at the largest multiple of stride < n_tokens, so every
    token lands in ≥1 chunk and no chunk is empty. Emits (doc_id,
    chunk_idx, start_tok, n_tok, chunk_text) with chunk_text re-joined by
    single spaces (tokenization is whitespace-split, so the re-join is
    deterministic — NOT byte-identity to the source; the byte-identical
    path is text_extract).

    Plan shape: tokens → sequence → explode → slice are all JVM codegen
    expressions; the op is embarrassingly map-side (ZERO shuffles) and
    row-expanding by ~n_tokens/stride, which is exactly how it pipelines
    over 100 TB."""
    if stride <= 0 or chunk_tokens < stride:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = f"split(trim(lower({text_col})), '\\\\s+')"
    n = f"size({toks})"
    # number of chunks = floor((n-1)/stride) + 1  (n >= 1 always: split
    # of an empty string yields [''])
    starts = f"sequence(0, ({n} - 1) div {int(stride)})"
    return (
        docs.select(
            id_col,
            F.expr(toks).alias("_toks"),
            F.explode(F.expr(starts)).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
            F.least(
                F.lit(int(chunk_tokens)),
                F.size("_toks") - F.col("chunk_idx") * stride,
            ).cast("long").alias("n_tok"),
            F.array_join(
                F.slice("_toks",
                        F.col("chunk_idx") * stride + 1,
                        F.lit(int(chunk_tokens))),
                " ",
            ).alias("chunk_text"),
        )
    )


# Bloom-filter prefilter: k multiplicative hashes over a 31-bit key into
# m_words x 63-bit words (bit 63 never set, so 1<<bit stays a positive
# BIGINT in every engine). Constants are odd multipliers mod the Mersenne
# prime 2^31-1; products stay < 2^48 (ANSI-safe).
BLOOM_P = 2_147_483_647
BLOOM_HASHES = ((40503, 11), (48271, 271), (69621, 9973))


def _bloom_pos_exprs(key_col: str, m_words: int) -> list:
    m_bits = int(m_words) * 63
    return [
        F.expr(f"pmod({a} * {key_col} + {b}, {BLOOM_P}) % {m_bits}")
        for a, b in BLOOM_HASHES
    ]


def bloom_build(keys: DataFrame, key_col: str, *,
                m_words: int = 64) -> DataFrame:
    """Build a Bloom filter over a nonnegative BIGINT key column.

    Returns the filter as (word, bits) — m_words rows of packed 63-bit
    words, built with one explode + one bit_or groupBy. The filter table
    is tiny by construction, which is the point: at 100 TB the build is
    one map-side-combinable aggregation over the member side, and the
    probe side never shuffles (the filter broadcasts).
    """
    pos = keys.select(
        F.explode(F.array(*_bloom_pos_exprs(key_col, m_words))).alias("pos")
    )
    return (
        pos.select(F.expr("pos div 63").alias("word"),
                   F.expr("shiftleft(cast(1 as bigint), "
                          "cast(pos % 63 as int))").alias("m"))
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_probe(probe: DataFrame, key_col: str, bloom: DataFrame, *,
                m_words: int = 64, id_col: str = "doc_id") -> DataFrame:
    """Probe a Bloom filter: adds bloom_hit per probe row.

    Each probe key explodes into its k bit positions, broadcast-joins
    the (word -> bits) filter, and a bool_and over the k checks yields
    the membership verdict. Bloom guarantees no false negatives; false
    positives are the caller's to audit (see the bloom_dedup driver
    query, which carries exact membership alongside).
    """
    pos = probe.select(
        id_col, F.col(key_col).alias("_k"),
        F.explode(F.array(*_bloom_pos_exprs(key_col, m_words))).alias("pos")
    ).select(
        id_col, "_k",
        F.expr("pos div 63").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), "
               "cast(pos % 63 as int))").alias("m"),
    )
    checked = pos.join(F.broadcast(bloom), "word", "left").select(
        id_col, "_k",
        (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m")) != 0)
        .alias("bit_set"),
    )
    return checked.groupBy(id_col).agg(
        F.bool_and("bit_set").alias("bloom_hit")
    )


def apply_url_rules(pages: DataFrame, rules: DataFrame, *,
                    url_col: str = "url", id_col: str = "doc_id",
                    default_allow: bool = True) -> DataFrame:
    """Longest-matching-prefix URL policy (robots.txt Allow/Disallow
    semantics with Google's longest-match-wins rule).

    ``rules`` columns: (rule_id BIGINT, host STRING, prefix STRING,
    allow BOOLEAN). A page matches a rule when its host equals the
    rule's host AND the url starts with the rule's prefix; the longest
    matching prefix decides (rule_id asc breaks exact-duplicate-prefix
    ties deterministically). Pages matching no rule get
    ``default_allow``. Returns (id, url, allow, matched_rule,
    matched_len) with matched_rule = -1 / matched_len = 0 for the
    default.

    Scale shape: the rule table is policy-sized — it BROADCASTS, the
    equi-join key is the host (so a page only meets its own host's
    rules, never the whole rule set), and the page side never shuffles;
    the per-page argmax window runs on the match table, which is
    |pages that matched| * avg-rules-per-host, not |corpus|."""
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)/", 1)
    p = pages.select(id_col, url_col, host.alias("_host"))
    matched = (
        p.join(F.broadcast(rules), p["_host"] == rules["host"])
        .filter(F.col(url_col).startswith(F.col("prefix")))
        .select(id_col, url_col,
                F.length("prefix").cast("bigint").alias("matched_len"),
                F.col("rule_id").cast("bigint").alias("matched_rule"),
                "allow")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("matched_len"), F.asc("matched_rule"))
    best = (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", url_col)
    )
    return (
        p.select(id_col, url_col).join(best, id_col, "left")
        .select(
            id_col, url_col,
            F.coalesce("allow", F.lit(bool(default_allow))).alias("allow"),
            F.coalesce("matched_rule", F.lit(-1)).cast("bigint")
            .alias("matched_rule"),
            F.coalesce("matched_len", F.lit(0)).cast("bigint")
            .alias("matched_len"),
        )
    )


# Count-min sketch: depth = len(BLOOM_HASHES) affine hash rows over the
# same public-constant family as the Bloom filter; width counters per
# row. All arithmetic is nonnegative BIGINT (ANSI-safe, DuckDB-exact).
def _cms_pos_exprs(key_col: str, width: int) -> list:
    return [
        F.expr(f"pmod({a} * {key_col} + {b}, {BLOOM_P}) % {int(width)}")
        for a, b in BLOOM_HASHES
    ]


def cms_build(keys: DataFrame, key_col: str, *,
              width: int = 1024) -> DataFrame:
    """Build a count-min sketch over a nonnegative BIGINT key stream.

    Returns (row, pos, cnt): depth x width integer counters, where
    cnt = number of input rows hashing to that cell. The sketch is the
    mergeable streaming-frequency summary (Cormode & Muthukrishnan):
    estimates are upper bounds, exact unless the cell collided.

    Scale shape: one explode (x depth) + ONE groupBy with map-side
    partial combine — the shuffle carries at most depth*width rows per
    partition regardless of input size, and sketches from different
    partitions/days merge by cell-wise addition.
    """
    pos = keys.select(
        F.posexplode(F.array(*_cms_pos_exprs(key_col, width)))
        .alias("row", "pos")
    )
    return pos.groupBy("row", "pos").agg(F.count("*").alias("cnt"))


def cms_estimate(probe: DataFrame, key_col: str, cms: DataFrame, *,
                 width: int = 1024) -> DataFrame:
    """Point-query a count-min sketch: genuinely adds ``cms_est`` to
    every probe row — all probe columns and row multiplicity are
    preserved (the estimate is computed once per distinct key, then
    broadcast-joined back onto the probe).

    Each distinct probe key looks up its depth cells (broadcast join —
    the sketch is bounded at depth*width rows by construction) and takes
    the MIN across rows; absent cells count 0. CMS guarantees
    cms_est >= true frequency.
    """
    p = probe.select(F.col(key_col).alias("_k")).distinct().select(
        "_k",
        F.posexplode(F.array(*_cms_pos_exprs("_k", width)))
        .alias("row", "pos"),
    )
    per_key = (
        p.join(F.broadcast(cms), ["row", "pos"], "left")
        .groupBy("_k")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )
    # per_key is at most |distinct probe keys| rows — broadcast it back
    # so the probe side keeps its partitioning (no shuffle of probe).
    return probe.join(
        F.broadcast(per_key), probe[key_col] == per_key["_k"], "left"
    ).drop("_k")


def assign_split(df: DataFrame, *, group_col: str = "source",
                 weights: tuple = (80, 10, 10),
                 names: tuple = ("train", "valid", "test")) -> DataFrame:
    """Leakage-safe train/valid/test split: the split is a deterministic
    hash of the GROUP key (host / canonical url / dedup-cluster id),
    never of the row — every document of a group lands in the same
    split, so near-duplicates that share the key can never straddle the
    train/test boundary (the standard contamination guard).

    weights are integer percents summing to 100; the group's md5-derived
    bucket in [0, 100) is compared against their running sum. Pure
    map-side (zero shuffles), rerun-stable, and exactly replayable in
    any engine that has md5.
    """
    if sum(weights) != 100 or len(weights) != len(names):
        raise ValueError("weights must be percents summing to 100, "
                         "one per split name")
    bucket = (f"pmod(cast(conv(substr(md5({group_col}), 1, 15), 16, 10) "
              f"as bigint), 100)")
    cum, parts = 0, []
    for w, n in zip(weights[:-1], names[:-1]):
        cum += int(w)
        parts.append(f"when {bucket} < {cum} then '{n}'")
    expr = "case " + " ".join(parts) + f" else '{names[-1]}' end"
    return df.withColumn("split", F.expr(expr))


def fuzzy_join_ed1(left: DataFrame, right: DataFrame, *,
                   left_col: str = "s", right_col: str = "s") -> DataFrame:
    """Similarity join at edit distance <= 1 via FastSS deletion
    neighborhoods (Bocek et al.): each string emits itself plus its
    len(s) single-character-deletion variants; two strings within one
    edit ALWAYS share a variant (substitution -> delete the differing
    position from both; insert/delete -> the shorter string itself), so
    an equi-join on the variant is a complete candidate generator — no
    cross join, no per-pair scan of either table. Candidates are
    deduped, then verified with the built-in levenshtein (both engines
    ship one).

    Returns (a, b, dist) for every cross pair with dist <= 1.

    Scale shape: blow-up is (avg_len + 1) x rows on each side — linear;
    the join key is a short string (hash it at 100 TB), and the verify
    runs once per DISTINCT candidate pair. Distance-2 would recurse the
    deletion once; out of scope here.
    """
    def variants(col: str):
        return F.expr(
            f"case when length({col}) = 0 then array({col}) else "
            f"concat(array({col}), transform(sequence(1, length({col})), "
            f"i -> concat(substr({col}, 1, i - 1), substr({col}, i + 1)))) "
            f"end"
        )

    lv = left.select(F.col(left_col).alias("a")).distinct().select(
        "a", F.explode(variants("a")).alias("v"))
    rv = right.select(F.col(right_col).alias("b")).distinct().select(
        "b", F.explode(variants("b")).alias("v"))
    cand = lv.join(rv, "v").select("a", "b").distinct()
    return (
        cand.withColumn("dist", F.levenshtein("a", "b").cast("bigint"))
        .filter(F.col("dist") <= 1)
    )


def crawl_frontier(pages: DataFrame, *, host_col: str = "host",
                   url_col: str = "url", score_col: str = "score",
                   per_round: int = 1) -> DataFrame:
    """Politeness-scheduled crawl frontier: within each host, pages are
    ranked by (score desc, url) and assigned
    ``fetch_round = rank div per_round`` — at most ``per_round`` fetches
    per host per round, the standard per-host politeness constraint —
    plus a deterministic ``slot`` ordering hosts within each round by
    (score desc, host, url) so the scheduler's output is a total order.

    Scale shape: two window passes (one shuffle on host, one on the
    round key). Host skew is inherent — a 10M-page host simply occupies
    10M rounds — so no salting applies; the round window's key
    cardinality grows with the deepest host, keeping that exchange
    balanced."""
    w_host = Window.partitionBy(host_col).orderBy(
        F.desc(score_col), F.col(url_col))
    ranked = pages.withColumn(
        "fetch_round",
        (F.row_number().over(w_host) - 1).cast("long"))
    ranked = ranked.withColumn(
        "fetch_round", F.expr(f"fetch_round div {int(per_round)}"))
    w_round = Window.partitionBy("fetch_round").orderBy(
        F.desc(score_col), F.col(host_col), F.col(url_col))
    return ranked.withColumn(
        "slot", F.row_number().over(w_round).cast("long"))


def skipgrams(docs: DataFrame, *, window: int = 2,
              text_col: str = "text") -> DataFrame:
    """Skip-gram (center, context) pair counts — the word2vec /
    embedding-training data-prep operator. For every token at position
    i, every token at distance 1..window (both directions) is a context;
    output is the aggregated pair-count table.

    Scale shape: NO self-join of the token stream on a range predicate
    (the naive spelling). Each token row instead EMITS its ±window
    context positions (a 2·window explode — constant factor), and the
    pair forms by an EQUI-join on (doc_id, position). The pair count is
    a map-side-combinable groupBy; hot (stopword, stopword) pairs are
    the AQE skew case."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(
            f"filter(split(trim(lower({text_col})), '\\\\s+'), "
            "t -> t != '')")).alias("pos", "tok"),
    ).localCheckpoint(eager=False)  # reused as both sides of the equi-join
    offsets = [d for d in range(-window, window + 1) if d != 0]
    ctx_pos = toks.select(
        "doc_id", F.col("tok").alias("center"),
        F.explode(F.array(*[F.col("pos") + F.lit(d) for d in offsets]))
        .alias("pos"),
    )
    pairs = ctx_pos.join(toks, ["doc_id", "pos"]).select(
        "center", F.col("tok").alias("context"))
    return pairs.groupBy("center", "context").agg(
        F.count("*").alias("n_pairs"))


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 2,
) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair
    (a < b) that appears together in at least ``min_support`` baskets,
    the pair support plus each item's own basket count — the first
    (pairwise) pass of A-priori / frequent-itemset mining, and the
    co-occurrence statistic collocation/embedding pipelines consume.
    All integers.

    Shape: ONE distinct over (basket, item) — so duplicate items in a
    basket count once — then a self-equi-join on the basket id with
    a < b (pair fan-out is C(k,2) per basket, bounded by the basket
    width, NOT the corpus — the same per-group bound as skipgrams),
    then a map-side-combinable count. Item marginals broadcast back.
    Never a cartesian.
    """
    items = df.select(
        F.col(basket_col).alias("basket"),
        F.col(item_col).alias("item")).distinct() \
        .localCheckpoint(eager=False)
    marg = items.groupBy(F.col("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    pairs = (
        items.select("basket", F.col("item").alias("a"))
        .join(items.select("basket", F.col("item").alias("b")), "basket")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return (
        pairs
        .join(marg.select(F.col("item").alias("a"),
                          F.col("n_baskets").alias("n_a")), "a")
        .join(marg.select(F.col("item").alias("b"),
                          F.col("n_baskets").alias("n_b")), "b")
        .select("a", "b", "support", "n_a", "n_b")
    )


def weighted_median(df: DataFrame, value_col: str, weight_col: str, *,
                    group_col: str = "g") -> DataFrame:
    """Exact lower weighted median per group: the smallest value v with
    2·cumweight(v) >= totalweight — pure integer rank arithmetic (no
    division, no interpolation), deterministic under duplicate values
    because weights collapse per (group, value) BEFORE the cumulative
    window. One shuffle on the group key; the per-value pre-aggregation
    is map-side combined, so the window sees |distinct values| rows,
    not |rows|. Returns
    (group, wmedian, total_w)."""
    per_v = (df.groupBy(F.col(group_col).alias("g"),
                        F.col(value_col).cast("long").alias("v"))
             .agg(F.sum(F.col(weight_col).cast("long")).alias("wv")))
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wg = Window.partitionBy("g")
    cum = (per_v.withColumn("cw", F.sum("wv").over(w))
           .withColumn("tw", F.sum("wv").over(wg)))
    return (cum.where(2 * F.col("cw") >= F.col("tw"))
            .groupBy("g")
            .agg(F.min("v").cast("long").alias("wmedian"),
                 F.min("tw").cast("long").alias("total_w")))


def pareto_skyline(df: DataFrame, x_col: str, y_col: str, *,
                   group_col: str = "g") -> DataFrame:
    """2D Pareto frontier per group, both axes MINIMIZED (the
    quality-vs-cost selection frontier: no other point is ≤ in both
    and < in one). Shape: pre-aggregate min(y) per (group, x) — the
    window then sees |distinct x| rows, not |rows| — then ONE ordered
    window pass: after sorting by x, a point is on the skyline iff its
    y is strictly below every earlier y (running-min test; x ties
    collapse in the pre-aggregation). Exact, no pair joins anywhere.
    Returns (group, x, y) skyline points."""
    per_x = (df.groupBy(F.col(group_col).alias("g"),
                        F.col(x_col).cast("long").alias("x"))
             .agg(F.min(F.col(y_col).cast("long")).alias("y")))
    w = (Window.partitionBy("g").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (per_x.withColumn("_pm", F.min("y").over(w))
            .where(F.col("_pm").isNull() | (F.col("y") < F.col("_pm")))
            .select("g", "x", "y"))


_LCG_M = 2147483648  # 2^31


def _lcg_expr(x: str) -> str:
    """Dialect-neutral 31-bit LCG mix (same string drives Spark and
    DuckDB; products stay < 2^62 so ANSI never overflows)."""
    return f"(({x}) * 1103515245 + 12345) % {_LCG_M}"


def hrw_expr_sql(key_col: str, n_nodes: int) -> str:
    """DIALECT-NEUTRAL rendezvous-hash assignment expression (the same
    string drives Spark and DuckDB): the per-node scores unroll into a
    greatest() tree over the LCG mix; combined rank score·n + (n−1−j)
    makes the argmax prefer the LOWEST node id on score ties, decoded
    by one modulus."""
    kh = _lcg_expr(key_col)
    # MULTIPLICATIVE key x node mixing — an affine (LCG-only) score
    # makes inter-node score differences nearly key-independent (only
    # mod wraparounds change the winner: measured 3 nodes absorbing
    # 87% of keys). (kh+13)·nh_j mod 2^31 is non-affine per node, so
    # winners vary per key; node hashes are python-time constants and
    # the ANSI product stays < 2^63 (~4.6e18).
    def nh(j: int) -> int:
        return (j * 2654435761 % _LCG_M * 1103515245 + 12345) \
            % _LCG_M + 17

    scores = ", ".join(
        f"(((({kh}) + 13) * {nh(j)}) % {_LCG_M}"
        f" * {n_nodes} + {n_nodes - 1 - j})"
        for j in range(n_nodes))
    return (f"cast({n_nodes - 1} - (greatest({scores}) % {n_nodes})"
            f" as bigint)")


def hrw_assign(keys: DataFrame, n_nodes: int, *,
               key_col: str = "k") -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: key k routes to
    argmax_j score(k, j). The node table never exists as data — the
    scores unroll into a greatest() expression (hrw_expr_sql), so
    assignment is ONE narrow projection: zero joins, zero shuffles —
    the canonical shard-routing primitive whose minimal-movement
    property the hrw_shards entry pins. Returns (k, node)."""
    return keys.selectExpr(
        f"{key_col} as k", f"{hrw_expr_sql(key_col, n_nodes)} as node")


def ring_assign(keys: DataFrame, n_nodes: int, *, vnodes: int = 8,
                key_col: str = "k") -> DataFrame:
    """Consistent-hash RING with virtual nodes: each physical node owns
    ``vnodes`` ring positions; a key routes to the first vnode at or
    after its own hash (clockwise, wrapping). The vnode table is tiny
    (n_nodes·vnodes rows) and BROADCASTS; per key the winner is
    min(struct(clockwise_distance, vnode_hash)) — one broadcast join +
    one map-side-combinable min, no sort, no window. Returns
    (k, node)."""
    spark = keys.sparkSession
    vn = spark.range(n_nodes * vnodes).selectExpr(
        "cast(id div {v} as long) as vnode_owner".format(v=vnodes),
        f"cast({_lcg_expr('id * 31 + 5')} as long) as vh")
    kh = F.expr(_lcg_expr(key_col)).cast("long")
    joined = (keys.select(F.col(key_col).alias("k"), kh.alias("kh"))
              .crossJoin(F.broadcast(vn)))
    dist = (F.col("vh") - F.col("kh") + _LCG_M) % _LCG_M
    best = (joined.groupBy("k")
            .agg(F.min(F.struct(dist.alias("d"),
                                F.col("vh").alias("vh"),
                                F.col("vnode_owner").alias("o")))
                 .alias("m")))
    return best.select("k", F.col("m.o").cast("long").alias("node"))


def greedy_max_coverage(sets_df: DataFrame, k: int, *,
                        set_col: str = "sid",
                        item_col: str = "item") -> DataFrame:
    """Greedy max-coverage selection (the classic (1−1/e) submodular
    data-selection primitive — pick k sets covering the most items):
    per round, marginal gains are ONE anti-join + count per set, the
    winner is the (gain desc, sid asc) total-order argmax (a 1-row
    collect — the same diagnostic-size driver decision as the kNN
    certificates), and its items join the covered frame
    (checkpointed). k rounds of set-scale work, never item^2.
    Returns (round, sid, gain) — gain is the round's marginal
    coverage, so Σ gain = total covered."""
    from ._ckpt import CheckpointSlots

    slots = CheckpointSlots()
    spark = sets_df.sparkSession
    s = slots.checkpoint(
        sets_df.select(F.col(set_col).alias("sid"),
                       F.col(item_col).alias("item")).distinct(), "s")
    covered = None
    picks = []
    for r in range(k):
        remaining = s if covered is None else \
            s.join(covered, "item", "left_anti")
        gains = remaining.groupBy("sid").agg(F.count("*").alias("gain"))
        best = gains.orderBy(F.desc("gain"), F.asc("sid")).take(1)
        if not best or best[0]["gain"] == 0:
            break
        sid, gain = best[0]["sid"], best[0]["gain"]
        picks.append((r, int(sid), int(gain)))
        new_cov = remaining.filter(F.col("sid") == sid).select("item")
        covered = slots.checkpoint(
            new_cov if covered is None
            else covered.unionByName(new_cov), "cov")
    return spark.createDataFrame(picks, "round long, sid long, gain long")
