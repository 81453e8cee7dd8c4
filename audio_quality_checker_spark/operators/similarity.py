"""Similarity search over embedding columns (`array<float>`).

Two paths, per the brute-force-oracle / scale-path discipline used by
every approximate operator in this engine:

 - `brute_force_topk`: exact cosine top-k of every query against the
   corpus.  Cross join + JVM-side higher-order functions — correct at any
   k, O(|Q| * |C|); the oracle.
 - `lsh_topk`: random-hyperplane LSH (Charikar, STOC 2002) — sign bits of
   r random projections bucket the corpus; only bucket-mates (within
   Hamming radius via multi-probe banding) are scored.  Work is
   O(|Q| * bucket size), the 10^12-scale path.  Recall measured against
   the brute-force oracle in tests.

Vector math stays in numpy inside Arrow batches (projections) or in
Catalyst higher-order functions (dot products) — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from audio_quality_checker_spark.functions.hashing import splitmix64


def _cos(a: str, b: str) -> F.Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    n = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (n(F.col(a)) * n(F.col(b)))


def _norm_col(c) -> F.Column:
    """sqrt(fold(0.0, acc + x*x)) — the exact norm sub-expression of
    _cos, evaluated ONCE PER VECTOR ROW on the join build sides instead
    of once per candidate pair: the aggregate lambdas are interpreted
    (CodegenFallback), so hoisting the two norms out of the per-pair
    score cuts 2/3 of the interpreted fold work while producing the
    same doubles (same fold, same inputs; the final
    dot / (qn * cn) multiplies and divides in the original order)."""
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact top-k per query.
    Deterministic tie-break on neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm_col(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm_col(F.col("cv")))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def hyperplane_signatures(df: DataFrame, dim: int, n_planes: int = 16,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          seed: int = 42) -> DataFrame:
    """(id, bucket int): sign-bit signature of `n_planes` random
    projections — one numpy matmul per Arrow batch."""
    # deterministic gaussian-ish planes from splitmix64 bits (sum of 4
    # uniforms ~ approx normal; exact distribution is irrelevant for LSH
    # correctness, only symmetry matters)
    raw = splitmix64(
        np.arange(dim * n_planes * 4, dtype=np.uint64) + np.uint64(seed * 7919)
    ).reshape(n_planes, dim, 4)
    planes = (raw / 2.0**64).sum(axis=2) - 2.0  # ~N(0, 1/3)

    def compute(batches):
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (mat @ planes.T) > 0
            bucket = (
                bits.astype(np.uint64)
                << np.arange(n_planes, dtype=np.uint64)[None, :]
            ).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bucket": bucket.astype(np.int64)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        compute, schema=f"{id_col} long, bucket long"
    )


def lsh_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             n_planes: int = 12, band_bits: int = 6,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only candidates sharing >= 1 LSH band with
    the query (multi-probe via banding the sign bits, same trick as
    MinHash LSH).  Returns the same schema as brute_force_topk."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1

    def banded(sig: DataFrame, idname: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(idname),
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned("bucket", band_bits * i).bitwiseAND(
                            F.lit(mask)
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    qs = banded(hyperplane_signatures(queries, dim, n_planes, id_col, vec_col), "query_id")  # noqa: E501
    cs = banded(hyperplane_signatures(corpus, dim, n_planes, id_col, vec_col), "neighbor_id")
    cand = (
        qs.join(cs, ["band_idx", "band_val"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm_col(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm_col(F.col("cv")))
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id", "neighbor_id", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Binary quantization (BQ) + exact re-rank: the general-kNN surface for
# corpora WITHOUT strong cluster structure, where both banded sign-LSH
# and IVF coarse quantization fail the selectivity/recall trade (measured
# on this corpus: IVF recall scales ~linearly with probed fraction — no
# cluster structure to exploit; 12-plane/2-bit-band LSH needed ~82%
# candidate fraction for recall 0.9).  BQ is the production alternative
# used by vector stores for exactly this regime: compress every vector
# to an n_bits sign sketch (24 bytes at 192 bits), scan SKETCHES with
# JVM-side popcount (xor + bit_count inside whole-stage codegen, no
# Python), keep the top cand_frac by hamming per query, and exact-score
# only those.  The scan is linear but over 24-byte codes at memory
# bandwidth — ~20x less data movement than float64 dot products — and
# composes with IVF at 10^12 scale (hamming re-rank WITHIN probed
# lists); candidate fraction is an exact dial, not a collision
# probability.
#
# Measured at sf0.1 (2,000 vecs, dim 64, true top-5 at cosine
# 0.26-0.49): recall@5 0.91 at n_bits=192 / cand_frac=0.08
# (128 bits -> 0.85, 256 bits -> 0.98 at the same fraction).
# ---------------------------------------------------------------------------

def binary_signatures(df: DataFrame, dim: int, n_bits: int = 192,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      seed: int = 42) -> DataFrame:
    """(id, sketch array<bigint> of n_bits/64 words): sign bits of
    n_bits random projections, packed 64 per long — one numpy matmul
    per Arrow batch, same plane construction as hyperplane_signatures."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    n_words = n_bits // 64
    raw = splitmix64(
        np.arange(dim * n_bits * 4, dtype=np.uint64) + np.uint64(seed * 7919)
    ).reshape(n_bits, dim, 4)
    planes = (raw / 2.0**64).sum(axis=2) - 2.0

    def compute(batches):
        for pdf in batches:
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            bits = (mat @ planes.T) > 0  # (rows, n_bits)
            words = (
                bits.reshape(len(pdf), n_words, 64).astype(np.uint64)
                << np.arange(64, dtype=np.uint64)[None, None, :]
            ).sum(axis=2, dtype=np.uint64).view(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sketch": [w.tolist() for w in words]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        compute, schema=f"{id_col} long, sketch array<bigint>"
    )


def bq_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
            n_bits: int = 192, cand_frac: float = 0.08,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via binary quantization: hamming prefilter over
    packed sign sketches (pure Catalyst popcount), exact cosine on the
    surviving top-``cand_frac`` per query.  Same output schema as
    brute_force_topk; deterministic (seeded planes, id tie-breaks).
    One count of the corpus turns cand_frac into a per-query candidate
    count."""
    m = max(k, int(np.ceil(cand_frac * corpus.count())))
    qs = binary_signatures(queries, dim, n_bits, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("sketch").alias("qsk")
    )
    cs = binary_signatures(corpus, dim, n_bits, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("sketch").alias("csk")
    )
    hamming = F.aggregate(
        F.zip_with("qsk", "csk", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # TWO-PHASE top-m, courtesy of Catalyst's rank-limit pushdown: a
    # row_number window partitioned by query_id with a `<= m` filter
    # does NOT funnel every corpus row for a query through one reducer
    # — Spark plants a partial WindowGroupLimit BELOW the Exchange, so
    # each map partition ships only its per-query top-m and the exact
    # final window sorts <= P*m survivors per query.  The shape is
    # load-bearing at 10^12 scale, so tests/test_plans.py pins it (an
    # expression change that blocks the pushdown — e.g. a non-rank
    # window function — would silently reintroduce the full-candidate
    # single-reducer sort and fail that test).  Order by
    # (hamming, neighbor_id): a total order, deterministic cut.
    cand = (
        qs.crossJoin(cs)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", hamming.alias("hamming"))
        .withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.asc("hamming"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("_rk") <= m)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm_col(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm_col(F.col("cv")))
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate PAIRS (the all-pairs sibling of the
# top-k surfaces): find every pair with cosine >= threshold without an
# all-pairs stage.  Construction: minhash-LSH-style banding over a WIDE
# sign sketch — n_bits hyperplane sign bits split into bands of
# band_bits; vectors sharing >= 1 exact band value become candidates,
# then exact cosine verifies.  Per-bit agreement for a pair at angle
# theta is p = 1 - theta/pi, so recall = 1 - (1 - p^band_bits)^n_bands
# and random-pair collision = n_bands / 2^band_bits.  At the defaults
# (128 bits, 8 bands of 16): cos 0.98 -> recall ~0.97, cos 0.999
# (planted dups) -> ~1-3e-7, random pairs -> 0.012% candidate
# probability.  (A first cut used Manku pigeonhole banding at hamming
# radius 16/64, but complete recall at 25% relative radius forces
# ~4-bit keys — measured 64s at 20k vectors, a quadratic bucket join;
# the near-dup regime wants narrow bands with probabilistic recall,
# exactly like text MinHash.)  Work is O(n * n_bands) explode + a
# bucket-keyed equi-join + candidate verification.
# ---------------------------------------------------------------------------

def _sketch_bands(sk: DataFrame, id_col: str, n_bits: int,
                  band_bits: int,
                  extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(_vid, band_idx, band_val [, extra...]): explode a packed sign
    sketch into its contiguous band values — the banding shared by
    embedding_near_dups and the cross-crawl embedding dedup state."""
    n_words = n_bits // 64
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    return sk.select(
        F.col(id_col).alias("_vid"),
        *extra_cols,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("sketch")[w], band_bits * i
                    ).bitwiseAND(F.lit(mask))
                    for w in range(n_words)
                    for i in range(per_word)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def embedding_near_dups(df: DataFrame, dim: int, threshold: float = 0.95,
                        n_bits: int = 128, band_bits: int = 16,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        seed: int = 42) -> DataFrame:
    """(id_a, id_b, cosine): pairs with cosine >= threshold, found via
    banded sign-sketch LSH (no all-pairs join).  Deterministic (seeded
    planes); precision exact (every candidate cosine-verified); recall
    1-(1-p^band_bits)^(n_bits/band_bits) with p = 1 - arccos(cos)/pi —
    intended for the NEAR-DUP regime (threshold >= ~0.95)."""
    if n_bits % band_bits:
        raise ValueError("band_bits must divide n_bits")
    if band_bits > 32:
        raise ValueError("band_bits > 32 would overflow the band mask")
    sk = binary_signatures(df, dim, n_bits, id_col, vec_col, seed)
    sk.persist()
    sk.count()  # the banding join references the sketch frame twice
    banded = _sketch_bands(sk, id_col, n_bits, band_bits)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._vid") < F.col("b._vid")),
        )
        .select(
            F.col("a._vid").alias("id_a"), F.col("b._vid").alias("id_b")
        )
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm_col(F.col("qv")))
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm_col(F.col("cv")))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
    # materialize the (small) pair output, then release the build-side
    # sketch cache — returning a lazy frame that still references `sk`
    # would leak one cached DataFrame per call in a long-lived session
    # (the jaccard_pairs_guarded lifecycle pattern)
    out.persist()
    out.count()
    sk.unpersist()
    return out


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: spherical k-means coarse quantizer + nprobe
# search — the second scale path next to hyperplane LSH.  Training runs on
# a bounded sample driver-side (standard IVF practice: centroids are tiny
# and training data is a sample regardless of corpus size); assignment and
# search are distributed (one numpy matmul per Arrow batch, candidates
# joined per inverted list).
# ---------------------------------------------------------------------------

def _normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def train_centroids(corpus: DataFrame, dim: int, n_lists: int = 16,
                    sample_cap: int = 100_000, iters: int = 10,
                    seed: int = 42, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> np.ndarray:
    """Deterministic spherical k-means on a seeded sample: assign by max
    dot product over L2-normalized vectors, recenter, renormalize.
    Returns (n_lists, dim) float64 — bytes-sized at any corpus scale.

    The sample is ordered by id before the cap (Spark compiles
    sort+limit to TakeOrderedAndProject — a per-partition top-N heap and
    a tiny driver merge, no global sort shuffle): a bare limit() is
    partition-order-dependent and would make the centroids, and every
    downstream candidate set, nondeterministic across runs."""
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_cap)
        .collect()
    )
    mat = _normalize(
        np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in sample])
    )
    n = mat.shape[0]
    # deterministic distinct starting points via splitmix64 ranks
    order = np.argsort(splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(seed)))
    cents = mat[order[:n_lists]].copy()
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for j in range(n_lists):
            members = mat[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def ivf_assign(df: DataFrame, centroids: np.ndarray, n_probe: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding",
               out_id: str = "vec_id") -> DataFrame:
    """(id, list_id): nearest `n_probe` inverted lists per vector.  One
    numpy matmul per Arrow batch; centroids ride the closure (KB-sized)."""
    cents = centroids.copy()

    def compute(batches):
        for pdf in batches:
            mat = _normalize(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            sims = mat @ cents.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            ids = np.repeat(pdf[id_col].to_numpy(), n_probe)
            yield pd.DataFrame({out_id: ids, "list_id": top.ravel()})

    return df.select(id_col, vec_col).mapInPandas(
        compute, schema=f"{out_id} long, list_id int"
    )


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             n_lists: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via IVF: corpus vectors live in ONE inverted list
    each; a query probes its `n_probe` nearest lists and scores only those
    lists' members exactly.  Work is O(|Q| * n_probe * |corpus|/n_lists)
    expected — the shuffle key is list_id, so each list is a co-located
    join group and no all-pairs stage exists.  Same output schema as
    brute_force_topk; recall vs the oracle asserted in tests."""
    cents = train_centroids(corpus, dim, n_lists, vec_col=vec_col,
                            id_col=id_col)
    c_assign = ivf_assign(corpus, cents, 1, id_col, vec_col, "neighbor_id")
    q_assign = ivf_assign(queries, cents, n_probe, id_col, vec_col, "query_id")
    cand = (
        q_assign.join(c_assign, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm_col(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm_col(F.col("cv")))
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id", "neighbor_id", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cosine")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
