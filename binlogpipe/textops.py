"""Training-data text operators over the `documents` table.

Large-scale pipeline ops the engine needs beyond the reference's own
operator set (task brief): exact + near dedup, text quality scoring,
language-ID heuristic, token counting, document fingerprinting. Everything
is built-in `pyspark.sql.functions` / SQL lambda expressions — fully
JVM-side, no Python UDFs — so Catalyst keeps pushdown/codegen and the ops
scale to the 100 TB tier. Each operator has a DuckDB-equivalent oracle in
`__spark_entry__.oracle_sql` using the *same deterministic hash formulas*.

Shared deterministic hash: polynomial rolling hash over character codes,
h = (h*31 + ascii(c)) mod 1e9+7 — portable across Spark and DuckDB.

Every operator takes ``ordered`` (default False): the engine emits NO
global sort — a total orderBy on a 100 TB output is a full range-shuffle
paid only for display determinism. ``ordered=True`` is the
oracle/driver-compare mode (__spark_entry__ uses it); scale callers keep
the default and get a sort-free physical plan (pinned by test_plans).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FP_MOD = 1_000_000_007
MH_PRIME = 2_147_483_647  # 2^31-1: keeps a*x+b within i64 in both engines

# Deterministic MinHash coefficients (seeded; same constants are inlined in
# the DuckDB oracle SQL).
_rng = random.Random(42)
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, MH_PRIME), _rng.randrange(0, MH_PRIME)) for _ in range(16)
]
MINHASH_BANDS = 4  # 4 bands x 4 rows
MINHASH_ROWS = 4

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# ONE whitespace definition for BOTH engines: Java's \s includes \x0B
# (vertical tab) while DuckDB/RE2's does not — a document containing \x0B
# would tokenize differently per engine and fail oracle parity. The
# explicit class (hex escapes parse identically in Java and RE2) keeps
# tokenization engine-independent. WS_SQL doubles the backslashes for
# embedding inside Spark SQL string literals (which unescape once).
WS = r"[ \x09\x0a\x0c\x0d]"
WS_SQL = WS.replace("\\", "\\\\")


def _fp_expr(col: str = "text") -> str:
    """Rolling-hash fingerprint as a Spark SQL expression string."""
    return (
        f"aggregate(transform(split({col}, ''), ch -> ascii(ch)), 0L, "
        f"(acc, x) -> (acc * 31 + x) % {FP_MOD})"
    )


def fingerprint(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """Deterministic per-document rolling-hash fingerprint."""
    out = docs.select("doc_id", F.expr(_fp_expr()).alias("fingerprint"))
    return out.orderBy("doc_id") if ordered else out


def exact_dedup(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text with
    the canonical (min) doc_id and copy count. Hash-groupBy gets map-side
    partial aggregation; at scale the md5 key shards evenly (no skew)."""
    out = (
        docs.withColumn("text_hash", F.md5(F.encode(F.col("text"), "utf-8")))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )
    return out.orderBy("text_hash") if ordered else out


# GPT-2-style pre-tokenizer pattern, simplified so every alternative is
# first-char-disjoint (leftmost-first Java regex and leftmost-longest RE2
# agree): optional-space + letter run | optional-space + digit run |
# optional-space + symbol run | whitespace run.
BPE_PATTERN = (r" ?[A-Za-z]+| ?[0-9]+| ?[^ \x09\x0a\x0c\x0dA-Za-z0-9]+"
               r"|[ \x09\x0a\x0c\x0d]+")


def token_stats(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """Token counting: whitespace tokens, word-ish regex tokens, BPE-ish
    pre-tokenizer segments (the unit a GPT-style tokenizer would then
    merge), and chars."""
    out = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), WS + "+")).alias("n_ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).alias(
            "n_word_tokens"),
        # The pattern goes in as a Column literal, NOT interpolated into an
        # F.expr string: Spark's SQL string-literal unescaping would turn \s
        # into s, silently sending whitespace runs down the symbol branch
        # (wrong counts on any text with '  !', '\n!', '.  ' sequences).
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"),
        F.length("text").alias("n_chars_calc"),
    )
    return out.orderBy("doc_id") if ordered else out


def quality(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """Quality scoring: length/punctuation/stopword ratios + a composite.
    Mirrors the usual pretraining-filter heuristics (C4-style)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = f"split(trim(text), '{WS_SQL}+')"
    # the text splits ONCE per row via the single-element-array let-binding
    # idiom (same as _shingle_expr documents): the naive form inlined the
    # split into every ratio (up to 4 regex splits per row on the scale
    # path); identical float ops, so the oracle is unchanged
    stats = (f"element_at(transform(array({toks}), t -> struct("
             f"size(filter(t, x -> x IN ({stop_list}))) AS stop_hits, "
             f"size(t) AS n_toks, "
             f"size(array_distinct(t)) AS n_distinct)), 1)")
    out = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.round(
            F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
            / F.greatest(F.length("text"), F.lit(1)), 6,
        ).alias("punct_ratio"),
        F.expr(stats).alias("_ts"),
    ).select(
        "doc_id", "n_chars_calc", "punct_ratio",
        F.round(F.col("_ts.stop_hits")
                / F.greatest(F.col("_ts.n_toks"), F.lit(1)), 6,
                ).alias("stopword_ratio"),
        F.round(F.col("_ts.n_distinct")
                / F.greatest(F.col("_ts.n_toks"), F.lit(1)), 6,
                ).alias("distinct_token_ratio"),
    )
    return out.orderBy("doc_id") if ordered else out


def langid(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """Heuristic language-ID: stopword-hit-rate score thresholded to a
    prediction. (The testdata labels are synthetic; the contract is the
    deterministic score, oracle-matched in SQL.)"""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = f"split(lower(trim(text)), '{WS_SQL}+')"
    # single split + single score evaluation (let-binding idiom; the naive
    # form split the text twice and evaluated the whole score expression
    # twice — once for the column, once for the threshold)
    hits = (f"element_at(transform(array({toks}), t -> struct("
            f"size(filter(t, x -> x IN ({stop_list}))) AS h, "
            f"size(t) AS n)), 1)")
    out = (docs.select("doc_id", F.expr(hits).alias("_h"))
           .select("doc_id",
                   F.round(F.col("_h.h")
                           / F.greatest(F.col("_h.n"), F.lit(1)), 6,
                           ).alias("en_score"))
           .select("doc_id", "en_score",
                   F.when(F.col("en_score") >= 0.05, "en")
                   .otherwise("unknown").alias("lang_pred")))
    return out.orderBy("doc_id") if ordered else out


# ---------------------------------------------------------------------------
# shingles / MinHash / SimHash / near-dup
# ---------------------------------------------------------------------------

def _shingle_expr(col: str = "text", n: int = 3) -> str:
    """Distinct character n-gram shingles, each reduced to a rolling hash
    (mod 2^31-1 so MinHash products stay in i64).

    The text splits to char codes ONCE per row via the single-element-array
    let-binding idiom (`transform(array(cs_expr), cs -> ...)` — Spark SQL
    has no let), then each shingle is a 3-element slice + fold. The naive
    form re-split a substring per shingle (O(len) string allocs per row);
    putting the split inside the per-shingle lambda is even worse (full
    re-split per shingle — measured 40x slower). This one is 2.3x faster
    than the naive form, A/B-interleaved, with identical values (stepwise
    mod preserved), so the oracle SQL is unchanged."""
    cs_expr = f"transform(split({col}, ''), ch -> ascii(ch))"
    fold = (f"aggregate(slice(cs, i, {n}),"
            f"       0L, (acc, x) -> (acc * 31 + x) % {MH_PRIME})")
    # Per-shingle fold unrolled to element_at arithmetic: slice() allocs
    # a fresh n-element array per shingle and aggregate() is an
    # interpreted higher-order fold with its own per-step lambda eval —
    # both per-shingle costs for a fixed, tiny n. The unrolled chain
    # keeps the stepwise mod (acc_k = (acc_{k-1}*31 + x_k) % p), so
    # values are bit-identical and the oracle SQL is unchanged. The
    # short-document case (size < n, where slice() returns a partial
    # window) keeps the aggregate form behind a lazy IF — element_at
    # past the end would differ (and throws under ANSI).
    h = "0L"
    for k in range(n):
        h = f"(({h} * 31 + element_at(cs, i + {k})) % {MH_PRIME})"
    body = f"IF(size(cs) >= i + {n - 1}, {h}, {fold})"
    return (
        f"element_at(transform(array({cs_expr}), cs -> "
        f"array_distinct(transform("
        f"  sequence(1, greatest(size(cs) - {n - 1}, 1)),"
        f"  i -> {body}))"
        f"), 1)"
    )


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    return docs.select("doc_id", F.expr(_shingle_expr(n=n)).alias("shingles"))


def minhash_signature(docs: DataFrame, ordered: bool = False) -> DataFrame:
    """16-permutation MinHash signature over 3-gram shingle hashes.
    min_j over shingles of (a_j*h + b_j) mod p — all JVM lambda exprs."""
    sh = shingle_sets(docs)
    sig_cols = [
        F.expr(
            f"array_min(transform(shingles, h -> (h * {a}L + {b}L) % {MH_PRIME}))"
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]
    out = sh.select("doc_id", *sig_cols)
    return out.orderBy("doc_id") if ordered else out


def _lsh_banded(docs: DataFrame, max_bucket: int) -> DataFrame:
    """Banded MinHash signature rows (doc_id, band, band_key), with band
    buckets larger than `max_bucket` dropped. The cap bounds the band
    self-join: an identical-doc cluster of k docs otherwise emits O(k²)
    candidates in EVERY band — at 100 TB one boilerplate page melts the
    stage. Dropped buckets trade recall only for mega-clusters (k > cap),
    which exact dedup already catches."""
    # isnotnull(doc_id) BEFORE the signature: the pair self-join pushes
    # this exact filter into ITS copies of the banded subtree, so without
    # it here the bucket-size aggregate's copy differs and Spark's
    # exchange reuse never fires — measured (round 7): the executed
    # doc_neardup_minhash plan held 6 parquet scans, 0 ReusedExchange,
    # i.e. the shingle+signature subtree ran 4x. With the filter all
    # copies are canonically identical and collapse into one exchange.
    # Result-neutral: a null doc_id can never appear in a pair (the join
    # condition is null-rejecting), and only the pair path calls this.
    sig = minhash_signature(docs.where(F.col("doc_id").isNotNull()))
    # one posexplode, NOT a 4-way union: each union branch re-evaluates the
    # whole signature (and its shingle sets) — 4 branches x 2 join sides x
    # the size subquery multiplied the shingle work ~12x in the plan
    keys = F.array(*[
        F.concat_ws("_", *[F.col(f"mh{b * MINHASH_ROWS + r}")
                           for r in range(MINHASH_ROWS)])
        for b in range(MINHASH_BANDS)
    ])
    banded = sig.select(
        "doc_id", F.posexplode(keys).alias("band", "band_key"))
    # EXPLICIT hash exchange on the join/groupBy keys: `banded` feeds
    # three consumers (the bucket-size aggregate and both self-join
    # sides), and without an exchange boundary each consumer re-evaluates
    # the whole shingle+signature subtree — measured 10.9s -> 15.3s on the
    # sf0.1 bench when round 4's sort-free refactor removed the orderBy
    # exchange that round 3 incidentally reused. This one is purposeful:
    # it materializes the signatures once AND pre-partitions on exactly
    # the keys the aggregate and join shuffle on (no extra exchange
    # downstream). Explicit width: AQE coalesces bare repartition(cols)
    # to ~4 tasks (advisory 64MB) — keep the session's shuffle width.
    width = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                           "200"))
    banded = banded.repartition(width, "band", "band_key")
    # Bucket-size cap as a WINDOW over the exchange, not a groupBy+join:
    # the aggregate's copy of the banded subtree is column-pruned (its
    # Generate drops doc_id), so it can never be exchange-reused with the
    # join side — the executed round-7 plan showed the whole
    # scan→shingles→signature→posexplode subtree evaluated 4x with 0
    # ReusedExchange. count(*) over (partition by band, band_key) runs on
    # the exchange's own partitioning (no extra shuffle, no second
    # subtree); identical bucket sizes, identical surviving rows, oracle
    # unchanged.
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_key")
    return (banded.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz"))


def minhash_lsh_pairs(docs: DataFrame, jaccard_threshold: float = 0.5,
                      max_bucket: int = 64,
                      ordered: bool = False) -> DataFrame:
    """MinHash + LSH near-dup: band the 16-slot signature into 4 bands of 4,
    bucket-join on (band, band signature), then verify candidates with exact
    shingle Jaccard. The band join is the scale path — candidate generation
    is an equi-join on band keys (capped at `max_bucket` per bucket), never
    an all-pairs product."""
    banded = _lsh_banded(docs, max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, ["band", "band_key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = shingle_sets(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b_ = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        cand.join(a, "doc_a").join(b_, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")), 6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


def minhash_lsh_clusters(docs: DataFrame, jaccard_threshold: float = 0.5,
                         max_bucket: int = 64,
                         ordered: bool = False) -> DataFrame:
    """Near-dup output in O(n) instead of O(n + pairs): every doc maps to a
    cluster representative — the smallest doc_id among its verified LSH
    neighbors (or itself). One-hop min, not a full connected-components
    pass: chains longer than one hop keep distinct reps, which is the
    standard dedup-keep-one approximation (each rep survives, every doc
    pointing elsewhere is a candidate drop). At 100 TB this is the mode to
    run — the pair list of a boilerplate cluster is quadratic, this isn't."""
    pairs = minhash_lsh_pairs(docs, jaccard_threshold, max_bucket)
    best = pairs.groupBy("doc_b").agg(F.min("doc_a").alias("rep_min"))
    out = (docs.select("doc_id")
           .join(best, docs["doc_id"] == best["doc_b"], "left")
           .select("doc_id",
                   F.coalesce(F.col("rep_min"), F.col("doc_id")).alias("rep_id"))
           .withColumn("is_rep", (F.col("rep_id") == F.col("doc_id")).cast("int")))
    return out.orderBy("doc_id") if ordered else out


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.6,
                        max_df: float = 0.2, max_df_abs: int = 64,
                        ordered: bool = False) -> DataFrame:
    """Exact n-gram Jaccard near-dup via an inverted shingle index.

    Candidate generation drops shingles whose document frequency exceeds
    min(`max_df` * n_docs, `max_df_abs`) — stop-shingle removal. The
    FRACTIONAL cap alone is a scale trap: at 100 TB a shingle at df =
    0.2n still fans out O((0.2n)^2) candidate pairs; the ABSOLUTE cap
    bounds per-shingle join fanout to max_df_abs^2 regardless of corpus
    size (same reasoning as the LSH band-bucket cap). The cap is floored
    at 2: below 10 documents the fractional cap would floor to <2 and no
    shingle could ever be shared by a pair — small corpora silently
    returned zero near-dups. Jaccard on surviving candidates is then
    EXACT over the *full* shingle sets (array_intersect/union), so the
    caps only bound recall, never precision. The oracle applies the
    identical caps."""
    sh = shingle_sets(docs)
    inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
    # the df cap must not trigger a driver-side count() (a full extra scan
    # at 100 TB): broadcast the 1-row count aggregate into the plan instead
    n_docs = F.broadcast(docs.agg(F.count("*").alias("_n_docs")))
    # df cap as a WINDOW over one explicit exchange on `sh`, not a
    # groupBy+join back: the aggregate's copy of the inverted-index
    # subtree is column-pruned (drops doc_id) so it can never be
    # exchange-reused with the join side — the shingle split+fold ran
    # once per consumer (round-7 plan audit, same finding as
    # _lsh_banded). The exchange is ALSO exactly the partitioning the
    # a⋈b candidate self-join needs on `sh`, so both join sides read the
    # one shuffle (ReusedExchange) instead of re-exploding. Identical
    # df values, identical surviving rows; the oracle is unchanged. At
    # scale this additionally replaces a broadcast of the (huge)
    # rare-shingle set with the partitioned inverted index — the
    # standard shape.
    from pyspark.sql import Window

    width = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                           "200"))
    inv_r = (inv.repartition(width, "sh")
             .withColumn("df", F.count("*").over(Window.partitionBy("sh")))
             .crossJoin(n_docs)
             .where(F.col("df") <= F.least(
                 F.greatest(F.floor(F.col("_n_docs") * F.lit(max_df)),
                            F.lit(2)),
                 F.lit(max_df_abs)))
             .select("doc_id", "sh"))
    a = inv_r.select(F.col("doc_id").alias("doc_a"), "sh")
    b = inv_r.select(F.col("doc_id").alias("doc_b"), "sh")
    cand = (a.join(b, "sh").where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    fa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    fb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        cand.join(fa, "doc_a").join(fb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")), 6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


def simhash(docs: DataFrame, bits: int = 30,
            ordered: bool = False) -> DataFrame:
    """SimHash over word-token rolling hashes: bit_j = sign of
    sum(+1/-1 per token according to bit j of the token hash).

    30 bits, not 32: token hashes are mod FP_MOD < 2^30, so bits 30-31 of
    a 32-bit signature would be structurally zero (every token votes -1) —
    identical output values, two wasted bit positions. Widening further
    requires a hash modulus above 2^bits on BOTH engines."""
    tok_hash = (
        f"transform(split(trim(text), '{WS_SQL}+'), w -> "
        f"aggregate(transform(split(w, ''), ch -> ascii(ch)), 0L, "
        f"(acc, x) -> (acc * 31 + x) % {FP_MOD}))"
    )
    d = docs.select("doc_id", F.expr(tok_hash).alias("th"))
    bit_sum = [
        F.expr(
            f"aggregate(th, 0L, (acc, h) -> acc + "
            f"(CASE WHEN (h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END))"
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    d = d.select("doc_id", *bit_sum)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    out = d.select("doc_id", sim.cast("long").alias("simhash"))
    return out.orderBy("doc_id") if ordered else out
