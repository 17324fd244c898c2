"""Training-data ops: positive-detection tests on crafted inputs (the
sf-table oracle parity lives in test_oracle_parity; these prove the ops
actually find what they claim to find)."""

import itertools
import math

import pytest
from pyspark.sql import functions as F

from binlogpipe import multimodal, textops, vecops


@pytest.fixture(scope="module")
def crafted_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from a warm windowsill in the afternoon sun")
    near = base.replace("afternoon", "evening")
    far = "completely different content about spark shuffle partitions etc"
    return spark.createDataFrame(
        [(0, base, "src"), (1, base, "src"), (2, near, "src"), (3, far, "src")],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))


def test_exact_dedup_finds_copies(crafted_docs):
    out = textops.exact_dedup(crafted_docs).collect()
    dupes = [r for r in out if r["n_copies"] > 1]
    assert len(dupes) == 1 and dupes[0]["n_copies"] == 2
    assert dupes[0]["canonical_doc_id"] == 0


def test_minhash_lsh_finds_near_dup(crafted_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in textops.minhash_lsh_pairs(crafted_docs, 0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact copies
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.8  # one-word edit
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_ngram_jaccard_pairs(crafted_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in textops.ngram_jaccard_pairs(crafted_docs, 0.6,
                                                  max_df=0.9).collect()}
    assert pairs.get((0, 1)) == 1.0
    assert (0, 2) in pairs
    assert all(3 not in k for k in pairs)


def test_ngram_jaccard_small_corpus_df_floor(crafted_docs):
    """The df cap is floored at 2: on a 4-doc corpus with the default
    max_df=0.2, floor(0.8)=0 would otherwise drop every shared shingle and
    a pair of byte-identical documents could never be found."""
    pairs = {(r["doc_a"], r["doc_b"])
             for r in textops.ngram_jaccard_pairs(crafted_docs, 0.6).collect()}
    assert (0, 1) in pairs


def test_capped_bucket_pairs(spark):
    """The one candidate generator behind every near-dup and ANN op, on a
    hand-built `(id, band, key)` table with cap 4: a bucket of exactly
    cap ids pairs completely, a bucket of cap + 1 ids not at all, two ids
    sharing three keys pair once, directed mode yields both orders, and
    no cap keeps the big bucket."""
    cap = 4
    rows = ([(i, 0, "over") for i in range(cap + 1)]
            + [(10 + i, 0, "full") for i in range(cap)]
            + [(20 + i, band, "twin") for i in range(2) for band in range(3)])
    keyed = spark.createDataFrame(rows, "id long, band int, key string")

    def pairs(c, undirected=True):
        return sorted((r.a, r.b) for r in textops.capped_bucket_pairs(
            keyed, c, undirected).collect())

    full = list(itertools.combinations(range(10, 10 + cap), 2))
    assert len(full) == math.comb(cap, 2)
    assert pairs(cap) == sorted(full + [(20, 21)])
    # the same cap as a one-row frame, the form a data-derived cap takes
    assert pairs(spark.range(1).select(F.lit(cap))) == pairs(cap)
    assert pairs(cap, undirected=False) == sorted(
        full + [(b, a) for a, b in full] + [(20, 21), (21, 20)])
    # no cap: the over-cap bucket pairs too
    over = list(itertools.combinations(range(cap + 1), 2))
    assert pairs(None) == sorted(over + full + [(20, 21)])


def test_simhash_near_for_near_dups(crafted_docs):
    sims = {r["doc_id"]: r["simhash"] for r in textops.simhash(crafted_docs).collect()}
    assert sims[0] == sims[1]
    ham_near = bin(sims[0] ^ sims[2]).count("1")
    ham_far = bin(sims[0] ^ sims[3]).count("1")
    assert ham_near < ham_far


def test_fingerprint_distinguishes(crafted_docs):
    fps = {r["doc_id"]: r["fingerprint"]
           for r in textops.fingerprint(crafted_docs).collect()}
    assert fps[0] == fps[1] != fps[3]


def test_langid_scores_stopworded_text(crafted_docs):
    out = {r["doc_id"]: r for r in textops.langid(crafted_docs).collect()}
    assert out[0]["lang_pred"] == "en"
    assert out[0]["en_score"] > out[3]["en_score"]


def test_bpe_tokens_whitespace_runs(spark):
    """Pins the n_bpe_tokens whitespace branch: texts with multi-space runs
    and newline-before-punctuation must match both a Python re walk of
    BPE_PATTERN and the DuckDB oracle expression (round-2 advice: the
    pattern interpolated into an F.expr literal lost its backslashes, so
    'a  !' segmented as 2 tokens instead of 3)."""
    import re

    import duckdb

    texts = ["a  !", "a\n!", "x.  y", "hi   there\t\t42", "tab\tbreak\n\nend",
             "plain words only"]
    expected = [len(re.findall(textops.BPE_PATTERN, t)) for t in texts]
    docs = spark.createDataFrame(
        [(i, t, "src") for i, t in enumerate(texts)],
        "doc_id long, text string, source string")
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in textops.token_stats(docs).collect()}
    assert [got[i] for i in range(len(texts))] == expected
    con = duckdb.connect()
    for i, t in enumerate(texts):
        (n,) = con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [t, textops.BPE_PATTERN]
        ).fetchone()
        assert n == expected[i], (i, t)


def test_cosine_topk_self_similarity(spark):
    rows = [(0, [1.0, 0.0, 0.0, 0.0], 0), (1, [0.99, 0.1, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0, 0.0], 1), (3, [-1.0, 0.0, 0.0, 0.0], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    top = vecops.cosine_topk(emb, k=1, n_queries=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 1
    ann = vecops.signbit_lsh_ann(emb, bits=2, k=1).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in ann}
    assert got[0] == 1  # same bucket, most similar


def test_banded_lsh_bucket_cap_drops_mega_clusters(spark):
    """The absolute per-band bucket cap is the 100 TB contract: a cluster
    larger than the cap contributes NO candidate pairs (its buckets are
    dropped in every band), while small clusters still pair up."""
    # 64-dim (matching the plane dim — shorter vectors null-pad the dot and
    # collapse every bucket to 0); the (100, 101) pair is the same
    # direction scaled, so it shares every band bucket by construction
    e0 = [1.0] + [0.0] * 63
    e1 = [0.0, 1.0] + [0.0] * 62
    rows = [(i, e0) for i in range(10)]  # mega-cluster
    rows += [(100, e1), (101, [x * 2.0 for x in e1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = vecops.cosine_neardup_pairs(
        emb, 0.9, bits=2, bands=2, max_bucket=4).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)
    # uncapped, the mega-cluster pairs up
    all_pairs = vecops.cosine_neardup_pairs(
        emb, 0.9, bits=2, bands=2, max_bucket=None).collect()
    assert any(r["vec_a"] < 100 and r["vec_b"] < 100 for r in all_pairs)


def test_banded_lsh_recall_on_planted_near_dups(spark):
    """Regime contract: banded sign-bit LSH serves the HIGH-similarity
    near-duplicate regime (the dedup use case). Jittered copies planted
    among random 64-dim vectors must all be recovered — by the pair op and
    as each other's ANN top-1 — and nothing below the threshold may leak
    through (the exact-cosine verify makes precision exact). Low-similarity
    top-k retrieval is the IVF path (emb_ivf_recall gauges it)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(200, 64)
    rows = [(i, base[i].astype(float).tolist()) for i in range(200)]
    for j in range(30):
        v = base[j] + 0.08 * rng.randn(64)
        rows.append((1000 + j, v.astype(float).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {(r.vec_a, r.vec_b): r.sim
             for r in vecops.cosine_neardup_pairs(emb, 0.9).collect()}
    planted = {(j, 1000 + j) for j in range(30)}
    assert planted <= set(pairs), planted - set(pairs)  # full recall
    assert set(pairs) == planted                        # exact precision
    assert all(s >= 0.9 for s in pairs.values())

    got = {r.query_id: r.neighbor_id
           for r in vecops.signbit_lsh_ann(emb, k=1).collect()}
    assert all(got.get(j) == 1000 + j for j in range(30))

    # O(n) cluster-representative mode: each planted copy maps to its
    # original, everything else is its own rep
    reps = {r.vec_id: (r.rep_id, r.is_rep)
            for r in vecops.cosine_neardup_clusters(emb, 0.9).collect()}
    assert all(reps[1000 + j] == (j, 0) for j in range(30))
    assert all(reps[i] == (i, 1) for i in range(200))


def test_multimodal_plumbing(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"payload number {i} with some bytes", "src", 30 + i)
         for i in range(7)],
        "doc_id long, text string, source string, n_chars long")
    media = multimodal.synth_media_df(docs)
    feats = multimodal.feature_extract(media)
    rows = feats.collect()
    assert len(rows) == 7
    assert feats.schema == multimodal.FEATURE_SCHEMA
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    # real container sizes: 54B BMP + pixels, 44B canonical WAV + PCM16,
    # 7B BVID + frames
    assert all(r["n_bytes"] == 54 + 16 * 8 * 3 for r in by_kind["image"])
    assert all(r["n_bytes"] == 44 + 2 * 400 for r in by_kind["audio"])
    assert all(r["n_bytes"] == 7 + 6 * 64 for r in by_kind["video"])
    assert all(r["n_frames_sampled"] == 4 for r in by_kind["video"])
    # deterministic: same payload -> same features
    feats2 = multimodal.feature_extract(media).collect()
    assert {r["media_id"]: r["feat_mean"] for r in feats2} == {
        r["media_id"]: r["feat_mean"] for r in rows}
    # garbage payloads fail loudly, not silently
    with pytest.raises(ValueError):
        multimodal.decode_real(b"x", "image")
    with pytest.raises(ValueError):
        multimodal.decode_real(b"nope", "video")


def test_multimodal_codecs_roundtrip():
    # BMP: encode -> decode recovers the pixel multiset (rows bottom-up)
    px = bytes((i * 7) % 256 for i in range(16 * 8 * 3))
    bmp = multimodal.encode_bmp(px, 16, 8)
    out, w, h = multimodal.decode_bmp(bmp)
    assert (w, h) == (16, 8) and sorted(out) == sorted(px)
    # byte-level: bottom-up row order means first decoded row = last input row
    assert out[:48] == px[-48:]
    # WAV: exact PCM16 roundtrip through the stdlib wave module
    samples = [(i * 37 - 5000) % 65536 - 32768 for i in range(400)]
    wav = multimodal.encode_wav(samples)
    assert multimodal.decode_wav(wav) == samples
    assert len(wav) == 44 + 800
    # BVID: frame roundtrip + even sampling
    frames = [bytes((j + f) % 256 for j in range(64)) for f in range(6)]
    b = multimodal.encode_bvid(frames, 8, 8)
    fr, w, h = multimodal.decode_bvid(b)
    assert fr == frames and (w, h) == (8, 8)
    assert multimodal.sample_frames(frames, 4) == [
        frames[0], frames[1], frames[3], frames[4]]


def test_multimodal_resize(spark):
    docs = spark.createDataFrame(
        [(0, "resize me please with enough text", "src", 30)],
        "doc_id long, text string, source string, n_chars long")
    media = multimodal.synth_media_df(docs)  # doc 0 -> image
    small = multimodal.resize_images(media, factor=2).collect()[0]
    assert small["meta_width"] == 8 and small["meta_height"] == 4
    px, w, h = multimodal.decode_bmp(bytes(small["payload"]))
    assert (w, h) == (8, 4) and len(px) == 8 * 4 * 3


def test_multimodal_review_fixes(spark):
    """Round-3 review pins: frames_per_video is honored; resize aligns the
    target width down instead of crashing on non-4-aligned strides;
    decode_bmp normalizes top-down (negative-height) BMPs and strips row
    padding."""
    import struct

    docs = spark.createDataFrame(
        [(2, "video doc with enough text", "src", 26),
         (0, "image doc with enough text", "src", 26)],
        "doc_id long, text string, source string, n_chars long")
    media = multimodal.synth_media_df(docs)
    feats = {r["kind"]: r
             for r in multimodal.feature_extract(
                 media, frames_per_video=2).collect()}
    assert feats["video"]["n_frames_sampled"] == 2

    small = {r["media_id"]: r
             for r in multimodal.resize_images(media, factor=3).collect()}
    assert small[0]["meta_width"] == 4  # 16//3=5, aligned down to 4
    px, w, h = multimodal.decode_bmp(bytes(small[0]["payload"]))
    assert (w, h) == (4, 2)

    # top-down BMP (negative height): decode must normalize to bottom-up
    pxs = bytes(range(4 * 2 * 3))  # 4x2, stride 12 (4-aligned)
    bottom_up = multimodal.encode_bmp(pxs, 4, 2)
    # build the same image stored top-down: rows in visual order, h = -2
    hdr = bottom_up[:54]
    top_down = (hdr[:22] + struct.pack("<i", -2) + hdr[26:] + pxs)
    a, w1, h1 = multimodal.decode_bmp(bottom_up)
    b, w2, h2 = multimodal.decode_bmp(top_down)
    assert (w1, h1) == (w2, h2) == (4, 2)
    assert a == b  # same visual image -> same normalized bytes

    # padded stride: 5px-wide rows (stride 16, 1 pad byte per row)
    rows = [bytes(range(15)), bytes(range(100, 115))]
    payload = (b"BM" + struct.pack("<IHHI", 54 + 32, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, 5, 2, 1, 24, 0, 32,
                             2835, 2835, 0, 0)
               + rows[0] + b"\xff" + rows[1] + b"\xff")
    px3, w3, h3 = multimodal.decode_bmp(payload)
    assert (w3, h3) == (5, 2)
    assert px3 == rows[0] + rows[1]  # padding stripped, not counted


def test_multimodal_resize_quarantines_bad_rows(spark):
    """ADVICE pin: an unresizable image (undecodable payload / width < 4)
    passes through with the reason in resize_status instead of failing the
    whole stage; non-image kinds surface passthrough; a 4-alignment width
    change is surfaced, not silent."""
    px = bytes(range(16 * 2 * 3))
    good = multimodal.encode_bmp(px, 16, 2)
    rows = [(0, "image", bytearray(good), 16, 2, None),
            (1, "image", bytearray(b"not a bmp"), 3, 3, None),
            (2, "audio", bytearray(b"\x00" * 8), None, None, 100)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r
           for r in multimodal.resize_images(media, factor=3).collect()}
    # 16//3=5 -> aligned down to 4, surfaced
    assert out[0]["meta_width"] == 4
    assert out[0]["resize_status"] == "width_aligned:5->4"
    # bad payload: passthrough + error status, stage survives
    assert bytes(out[1]["payload"]) == b"not a bmp"
    assert out[1]["resize_status"].startswith("error:")
    # non-image: passthrough, payload untouched
    assert out[2]["resize_status"] == "passthrough:kind=audio"
    assert bytes(out[2]["payload"]) == b"\x00" * 8


def test_resize_preserves_orientation(spark):
    """Review pin: decode_bmp returns BOTTOM-UP rows; resize must
    normalize to top-down before sampling/encoding, or every resized image
    comes out vertically flipped (and rows sample from wrong offsets)."""
    # 16x8, white top half / black bottom half (top-row-first input)
    top = b"\xff" * (16 * 3)
    bot = b"\x00" * (16 * 3)
    px = top * 4 + bot * 4
    bmp = multimodal.encode_bmp(px, 16, 8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(bmp), 16, 8, None)], multimodal.MEDIA_SCHEMA)
    out = multimodal.resize_images(media, factor=2).collect()[0]
    vals, _ = multimodal.decode_real(bytes(out["payload"]), "image")
    # decode_real returns top-down content: first half white, second black
    n = len(vals)
    assert set(vals[:n // 2]) == {255}
    assert set(vals[n // 2:]) == {0}


def test_truncated_media_payloads_fail_loudly():
    """Review pin: a BMP whose pixel data is cut short (intact header) and
    a WAV whose data chunk undershoots its frame count must raise, not
    silently yield fewer values into clean-looking feature rows."""
    import struct

    import pytest

    px = bytes(range(16 * 2 * 3))
    good = multimodal.encode_bmp(px, 16, 2)
    with pytest.raises(ValueError, match="truncated BMP"):
        multimodal.decode_bmp(good[:70])
    # degenerate geometry
    zero_w = good[:18] + struct.pack("<i", 0) + good[22:]
    with pytest.raises(ValueError, match="degenerate"):
        multimodal.decode_bmp(zero_w)
    wav = multimodal.encode_wav([100, -100, 7, 8])
    with pytest.raises(ValueError, match="truncated WAV"):
        multimodal.decode_wav(wav[:-3])


def test_kmeans_seeds_by_vec_id_value(spark):
    """Review pin: centroid seeding selects vec_id < n_centroids BY VALUE
    (like the oracle's c0 CTE), not the first n sample rows — with a
    non-contiguous id space the two diverge."""
    rows = [(i, [float(i), 1.0, 0.0, 0.5] * 16)
            for i in (0, 1, 2, 4, 5, 6, 7, 9)]  # id 3 absent
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = vecops.kmeans_centroids(emb, n_centroids=4)
    assert len(cents) == 3  # only ids 0,1,2 qualify — same as the oracle


def test_shingle_unroll_matches_aggregate_fold(spark):
    """The unrolled element_at rolling hash must be bit-identical to the
    aggregate(slice(...)) fold it replaced — including the short-document
    branch (len < n, where slice() folds a partial window and element_at
    would run past the end)."""
    e_new = textops._shingle_expr()
    fold = ("aggregate(slice(cs, i, 3), 0L, "
            f"(acc, x) -> (acc * 31 + x) % {textops.MH_PRIME})")
    e_old = ("element_at(transform(array("
             "transform(split(text, ''), ch -> ascii(ch))), cs -> "
             "array_distinct(transform(sequence(1, greatest(size(cs) - 2, 1)),"
             f" i -> {fold}))), 1)")
    docs = ["", "a", "ab", "abc", "abcd", "hello world " * 50,
            "é中文 mixed", "x\ty\nz", "aaa aaa aaa", "\x0b odd ws"]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    a = sorted(df.selectExpr("doc_id", f"{e_new} AS s").collect())
    b = sorted(df.selectExpr("doc_id", f"{e_old} AS s").collect())
    assert a == b
