"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k is the baseline (exact); a sign-bit LSH-bucketed
variant is the scale path (candidates only within a hash bucket — an
equi-join, never a full cross product). Dot products use built-in
`zip_with`/`aggregate` lambda expressions — JVM-side, codegen'd, no Python.
Floats are cast to double *before* any arithmetic so the DuckDB oracle
(double math over the same float32 parquet values) is bit-compatible;
similarities are rounded to 6 dp to wash out any residual FP noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import capped_bucket_pairs, one_hop_reps

DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
       "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
NORM = ("sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")


def _cosine(a: str, b: str) -> str:
    return (f"({DOT.format(a=a, b=b)}) / "
            f"(({NORM.format(a=a)}) * ({NORM.format(a=b)}))")


# ---------------------------------------------------------------------------
# deterministic shared constants (Spark exprs and the DuckDB oracle inline
# the SAME literals, so bucket/centroid math is bit-identical on both sides)
# ---------------------------------------------------------------------------

LSH_SEED = 0xB10C5EED
EMB_DIM = 64


def lsh_planes(bits: int, dim: int = EMB_DIM,
               seed: int = LSH_SEED) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes for sign-bit LSH (a pure-Python LCG,
    no RNG-library dependence). Coordinates uniform in [-1, 1), rounded to
    6 dp so the inlined literals stay short and identical on both sides.
    Random hyperplanes make P(bit differs) = angle/pi per Goemans-
    Williamson; coordinate-axis planes would cut only on the first `bits`
    dimensions."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(round(state / float(1 << 63) - 1.0, 6))
        planes.append(row)
    return planes


def _plane_dot(col: str, plane: list[float]) -> str:
    lit = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in plane) + ")"
    return DOT.format(a=col, b=lit)


def _bucket_from_planes_expr(col: str, planes: list[list[float]]):
    bucket = None
    for p in planes:
        bit = F.when(F.expr(_plane_dot(col, p)) >= 0, 1).otherwise(0)
        bucket = bit if bucket is None else bucket * 2 + bit
    return bucket


def plane_bucket_expr(col: str, bits: int, band: int = 0, bands: int = 1):
    """Sign-bit bucket id for one LSH band as a JVM expression: band `b`
    of `bands` uses plane rows [b*bits, (b+1)*bits) of the shared seeded
    plane matrix, so every band is an independent hash family."""
    planes = lsh_planes(bands * bits)
    return _bucket_from_planes_expr(col, planes[band * bits:(band + 1) * bits])


def plane_bucket_sql(col: str, bits: int, band: int = 0, bands: int = 1) -> str:
    """The identical band-bucket id in DuckDB SQL (sequential fold both
    sides)."""
    planes = lsh_planes(bands * bits)[band * bits:(band + 1) * bits]
    parts = []
    for j, p in enumerate(planes):
        lit = "[" + ",".join(f"{x}::DOUBLE" for x in p) + "]"
        dot = (f"list_reduce(list_prepend(0.0::DOUBLE, "
               f"list_zip({col}, {lit}).list_transform(p -> "
               f"p[1]::DOUBLE * p[2])), (acc, v) -> acc + v)")
        parts.append(f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END) * {1 << (bits - 1 - j)}")
    return "(" + " + ".join(parts) + ")"


def _banded_candidates(emb: DataFrame, bits: int, bands: int,
                       max_bucket: int | None,
                       undirected: bool) -> DataFrame:
    """Distinct `(vec_a, vec_b)` pairs sharing a sign-bit bucket in ANY
    of `bands` independent hash families, buckets over `max_bucket`
    dropped (`capped_bucket_pairs`). The absolute cap bounds every
    bucket's join at max_bucket² pairs whatever the corpus size, where a
    fixed 2^bits bucket count alone leaves each bucket O(n/2^bits); extra
    bands recover the recall that finer buckets cost. One posexplode
    evaluates all band keys in a single pass over the vectors."""
    keys = F.array(*[
        plane_bucket_expr("embedding", bits, band=b, bands=bands)
        for b in range(bands)])
    banded = emb.select("vec_id", F.posexplode(keys).alias("band", "bucket"))
    return (capped_bucket_pairs(banded, max_bucket, undirected)
            .toDF("vec_a", "vec_b"))


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Precompute the L2 norm as a column: cosine joins then divide the dot
    by `na * nb` — the SAME float ops as inlining norm() per pair (bit-
    identical results, oracles unchanged) but O(n) norm folds instead of
    O(pairs)."""
    return df.withColumn(out, F.expr(NORM.format(a=vec)))


def _pair_sim(qv: str, cv: str, nq: str, nc: str) -> str:
    return f"({DOT.format(a=qv, b=cv)}) / ({nq} * {nc})"


def _pair_cosines(cand: DataFrame, emb: DataFrame) -> DataFrame:
    """`(vec_a, vec_b, sim)`: the exact cosine of each candidate pair."""
    v = _with_norm(emb.select("vec_id", "embedding"), "embedding", "nrm")
    a = v.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    return (cand.join(a, "vec_a").join(b, "vec_b")
            .select("vec_a", "vec_b",
                    F.expr(_pair_sim("va", "vb", "na", "nb")).alias("sim")))


def _top_k(scored: DataFrame, k: int, ordered: bool) -> DataFrame:
    """The `k` best `(query_id, neighbor_id, sim)` rows per query, ranked
    by sim descending, ties to the lower neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id",
                F.round("sim", 6).alias("sim"))
    )
    return out.orderBy("query_id", "rank") if ordered else out


def cosine_topk(emb: DataFrame, k: int = 5, n_queries: int = 10,
                ordered: bool = False) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for the first `n_queries`
    vectors. The query side is broadcast (tiny), so the scan side streams
    once with no shuffle of the big table."""
    q = _with_norm(
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv")), "qv", "nq")
    c = _with_norm(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv")), "cv", "nc")
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.expr(_pair_sim("qv", "cv", "nq", "nc")))
    )
    return _top_k(scored, k, ordered)


def signbit_lsh_ann(emb: DataFrame, bits: int = 6, k: int = 3,
                    bands: int = 3, max_bucket: int | None = 64,
                    ordered: bool = False) -> DataFrame:
    """Banded LSH ANN: candidates = vectors sharing a sign-bit bucket in
    ANY of `bands` independent seeded hyperplane families (`bits` planes
    each), then exact top-k cosine over the distinct candidates.

    Scale contract: 2^bits buckets per band keeps buckets small, the
    absolute `max_bucket` cap bounds every per-bucket join even where the
    data piles up, and multi-band probing recovers recall (P(candidate) =
    1-(1-p^bits)^bands for per-plane agreement p). A 100 TB run raises
    `bits` (buckets scale with corpus) and keeps the cap; queries whose
    every band bucket was dropped return no rows — those live in
    mega-duplicate regions that exact dedup collapses first.

    Regime: sign-bit LSH serves HIGH-similarity retrieval (near-duplicate
    detection — p^bits is large only when the angle is small; planted
    jittered copies recall 30/30 in the test suite). For general top-k
    over weakly-similar corpora use `ivf_ann`, whose probe-list recall is
    gauged by `ivf_recall`."""
    cand = _banded_candidates(emb, bits, bands, max_bucket,
                              undirected=False)
    scored = _pair_cosines(cand, emb).toDF("query_id", "neighbor_id", "sim")
    return _top_k(scored, k, ordered)


IVF_SAMPLE = 256  # training-sample bound (vec_id < IVF_SAMPLE)
IVF_ITERS = 4


def kmeans_centroids(emb: DataFrame, n_centroids: int = 8,
                     sample: int = IVF_SAMPLE,
                     iters: int = IVF_ITERS) -> list[list[float]]:
    """Deterministic spherical-ish k-means quantizer, trained driver-side
    on a bounded id-prefix sample (`vec_id < sample` — scale-independent:
    the collect is <= sample rows regardless of table size).

    Determinism contract (mirrored exactly by the DuckDB oracle's CTE
    chain): init = first `n_centroids` vectors; assignment = max cosine,
    ties to the lowest centroid id; update = arithmetic mean of members
    (empty cluster keeps its centroid), every coordinate rounded to 6 dp
    per iteration so both engines' summation-order noise washes out."""
    import numpy as np

    rows = (emb.where(F.col("vec_id") < sample).select("vec_id", "embedding")
            .orderBy("vec_id").collect())
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # seed BY vec_id VALUE (vec_id < n_centroids), exactly like the
    # oracle's c0 CTE — a positional X[:n] seed diverges the moment the id
    # space is non-contiguous (a filtered table skipping an id below n)
    C = np.array([r["embedding"] for r in rows
                  if r["vec_id"] < n_centroids], dtype=np.float64)
    if len(C) == 0:
        raise ValueError(
            f"no seed vectors: the sample has no vec_id < {n_centroids}")
    k = len(C)

    def _unit(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        # a zero vector scores cos 0 against everything instead of
        # poisoning every argmax with NaN
        return m / np.where(n == 0, 1.0, n)

    for _ in range(iters):
        assign = np.argmax(_unit(X) @ _unit(C).T, axis=1)  # ties -> low cid
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        C = np.round(newC, 6)
    return [[float(v) for v in row] for row in C]


def _centroid_struct_array(cents: list[list[float]]) -> str:
    return "array(" + ",".join(
        "named_struct('cid', {j}, 'cv', array({vs}))".format(
            j=j, vs=",".join(f"CAST({x} AS DOUBLE)" for x in c))
        for j, c in enumerate(cents)) + ")"


def ivf_ann(emb: DataFrame, n_centroids: int = 8, k: int = 3,
            n_queries: int = 20, nprobe: int = 2,
            ordered: bool = False) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (kmeans_centroids), every vector
    assigned to its nearest centroid (inverted list) in one map-only pass
    over inlined centroid literals, queries probe their `nprobe` nearest
    lists. The argmax is a single transform + array_max over the centroid
    struct array, so each centroid's cosine evaluates once. The search
    is an equi-join on centroid id — the big table never cross-joins."""
    cents = kmeans_centroids(emb, n_centroids)
    arr = _centroid_struct_array(cents)
    # array_max over struct(s, -cid) = max sim, ties -> lowest cid
    scored_arr = f"transform({arr}, c -> struct({_cosine('{col}', 'c.cv')} AS s, -c.cid AS nid))"
    assign_expr = f"-array_max({scored_arr.format(col='embedding')}).nid"
    assigned = emb.withColumn("centroid", F.expr(assign_expr))
    probe_expr = (
        f"transform(slice(reverse(array_sort({scored_arr.format(col='embedding')})), "
        f"1, {nprobe}), p -> -p.nid)")
    q = _with_norm(
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.explode(F.expr(probe_expr)).alias("centroid")), "qv", "nq")
    c = _with_norm(
        assigned.select("centroid", F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("cv")), "cv", "nc")
    scored = (c.join(F.broadcast(q), "centroid")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("sim", F.expr(_pair_sim("qv", "cv", "nq", "nc"))))
    return _top_k(scored, k, ordered)


def ivf_recall(emb: DataFrame, n_centroids: int = 8, k: int = 3,
               n_queries: int = 20, nprobe: int = 2,
               ordered: bool = False) -> DataFrame:
    """recall@k of ivf_ann against the exact brute-force top-k: per query,
    |approx ∩ exact| / k, the quality gauge of the IVF probe lists."""
    exact = cosine_topk(emb, k, n_queries).select(
        "query_id", F.col("neighbor_id").alias("nid"))
    approx = ivf_ann(emb, n_centroids, k, n_queries, nprobe).select(
        "query_id", F.col("neighbor_id").alias("nid"))
    hits = (exact.join(approx, ["query_id", "nid"])
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    qs = exact.select("query_id").distinct()
    out = (qs.join(hits, "query_id", "left")
           .select("query_id",
                   F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                   F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / k, 6)
                   .alias("recall")))
    return out.orderBy("query_id") if ordered else out


def cosine_neardup_clusters(emb: DataFrame, threshold: float = 0.9,
                            bits: int = 6, bands: int = 3,
                            max_bucket: int | None = 64,
                            ordered: bool = False) -> DataFrame:
    """Each vector mapped to the smallest vec_id among its verified
    near-dup neighbors, or itself (`textops.one_hop_reps`)."""
    pairs = cosine_neardup_pairs(emb, threshold, bits, bands, max_bucket)
    return one_hop_reps(emb.select("vec_id"), pairs, ordered)


def cosine_neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                         bits: int = 6, bands: int = 3,
                         max_bucket: int | None = 64,
                         ordered: bool = False) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded sign-bit LSH: candidate
    pairs collide in any of `bands` hash families (bucket-capped, see
    _banded_candidates), then the exact cosine filters at `threshold` —
    precision is exact, the banding only bounds which pairs get scored.
    The default threshold is the one cosine_neardup_clusters uses."""
    cand = _banded_candidates(emb, bits, bands, max_bucket,
                              undirected=True)
    out = (_pair_cosines(cand, emb)
           .withColumn("sim", F.round("sim", 6))
           .where(F.col("sim") >= threshold))
    return out.orderBy("vec_a", "vec_b") if ordered else out
