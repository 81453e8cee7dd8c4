"""Similarity search: LSH recall measured against the brute-force oracle;
planted near-duplicate vectors must surface at rank 1."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_quality_checker_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_signatures,
    ivf_topk,
    lsh_topk,
    train_centroids,
)

DIM = 32


@pytest.fixture(scope="module")
def vectors(spark):
    """300 random vectors + 10 planted near-dups of the first 10."""
    rng = np.random.default_rng(42)
    base = rng.normal(0, 1, (300, DIM))
    rows = [(i, base[i].astype(float).tolist()) for i in range(300)]
    planted = []
    for j in range(10):
        noisy = base[j] + rng.normal(0, 0.05, DIM)
        rows.append((500 + j, noisy.astype(float).tolist()))
        planted.append((500 + j, j))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf).cache(), planted


def test_brute_force_finds_planted(spark, vectors):
    df, planted = vectors
    queries = df.where(F.col("vec_id") >= 500)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(queries, df, k=1).collect()
    }
    for qid, nid in planted:
        assert top1[qid] == nid, f"query {qid}: expected {nid}, got {top1[qid]}"


def test_brute_force_topk_shape(spark, vectors):
    df, _ = vectors
    queries = df.limit(3)
    out = brute_force_topk(queries, df, k=5).collect()
    assert len(out) == 15
    for r in out:
        assert 1 <= r["rank"] <= 5
        assert -1.0 <= r["cosine"] <= 1.0


def test_signatures_deterministic(spark, vectors):
    df, _ = vectors
    a = {r["vec_id"]: r["bucket"] for r in hyperplane_signatures(df, DIM).collect()}
    b = {r["vec_id"]: r["bucket"] for r in hyperplane_signatures(df, DIM).collect()}
    assert a == b


def test_lsh_recall_at_1_for_planted(spark, vectors):
    """Near-identical vectors land in the same LSH buckets with very high
    probability; require >= 9/10 planted pairs found at rank 1."""
    df, planted = vectors
    queries = df.where(F.col("vec_id") >= 500)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(queries, df, dim=DIM, k=1).collect()
    }
    hits = sum(1 for qid, nid in planted if top1.get(qid) == nid)
    assert hits >= 9, f"LSH recall@1 too low: {hits}/10 ({top1})"


def test_ivf_recall_at_1_for_planted(spark, vectors):
    """A near-identical vector lands in (or probes into) its original's
    inverted list; require >= 9/10 planted pairs found at rank 1."""
    df, planted = vectors
    queries = df.where(F.col("vec_id") >= 500)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(queries, df, dim=DIM, k=1, n_lists=8,
                          n_probe=3).collect()
    }
    hits = sum(1 for qid, nid in planted if top1.get(qid) == nid)
    assert hits >= 9, f"IVF recall@1 too low: {hits}/10 ({top1})"


def test_ivf_centroids_deterministic_and_normalized(spark, vectors):
    df, _ = vectors
    c1 = train_centroids(df, DIM, n_lists=8)
    c2 = train_centroids(df, DIM, n_lists=8)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_scores_match_exact(spark, vectors):
    """IVF prunes candidates, never changes scores."""
    df, _ = vectors
    queries = df.limit(5)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(queries, df, k=50).collect()
    }
    for r in ivf_topk(queries, df, dim=DIM, k=5, n_lists=8, n_probe=4).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["cosine"]) < 1e-9


def test_lsh_subset_of_bruteforce_scores(spark, vectors):
    """Every (query, neighbor, cosine) the LSH path reports must carry the
    same cosine the exact path computes — LSH prunes candidates, never
    changes scores."""
    df, _ = vectors
    queries = df.limit(5)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(queries, df, k=50).collect()
    }
    for r in lsh_topk(queries, df, dim=DIM, k=5).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["cosine"]) < 1e-9


def test_bq_topk_planted_and_candidate_bound(spark, vectors):
    """Binary quantization: planted near-dups surface at rank 1; the
    candidate cut is exactly cand_frac (top-m by hamming), so the
    returned neighbor set per query can never exceed k and every score
    must agree with the brute-force oracle's score for that pair."""
    from audio_quality_checker_spark.operators.similarity import bq_topk

    df, planted = vectors
    queries = df.where(F.col("vec_id") >= 500)
    out = bq_topk(queries, df, dim=DIM, k=1, n_bits=192,
                  cand_frac=0.08).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in out}
    for qid, nid in planted:
        assert got[qid] == nid, f"planted dup {qid}->{nid} missed"

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(queries, df, k=50).collect()
    }
    for r in bq_topk(queries, df, dim=DIM, k=5, n_bits=192,
                     cand_frac=0.10).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert exact[key] == r["cosine"]


def test_bq_recall_beats_floor_on_moderate_cosine(spark):
    """The hard regime that killed banded LSH and IVF: near-random
    vectors whose true neighbors sit at moderate cosine.  BQ at 192
    bits / 8% must clear the 0.70 recall floor measured against brute
    force, with the candidate budget (m = ceil(0.08 * n)) exact."""
    from audio_quality_checker_spark.operators.similarity import bq_topk

    rng = np.random.default_rng(9)
    n, dim = 600, 64
    base = rng.normal(0, 1, (n, dim))
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [v.astype(float).tolist() for v in base]}
    )
    df = spark.createDataFrame(pdf).cache()
    queries = df.where(F.col("vec_id") < 15)
    exact: dict = {}
    for r in brute_force_topk(queries, df, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict = {}
    for r in bq_topk(queries, df, dim=dim, k=5, n_bits=192,
                     cand_frac=0.08).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & e) for q, e in exact.items())
    total = sum(len(e) for e in exact.values())
    assert hits / total >= 0.70, f"recall {hits/total:.2f}"
    df.unpersist()


def test_embedding_near_dups_planted_recall_and_precision(spark, vectors):
    """The all-pairs sibling: every planted near-dup pair (cosine ~1)
    surfaces with its exact cosine; no random pair (max cosine well
    below threshold on this fixture) is reported."""
    from audio_quality_checker_spark.operators.similarity import (
        embedding_near_dups,
    )

    df, planted = vectors
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(df, dim=DIM, threshold=0.9).collect()
    }
    for qid, nid in planted:
        assert (nid, qid) in got, f"planted pair {nid},{qid} missed"
        assert got[(nid, qid)] >= 0.97
    # precision: verify every reported pair against exact cosine
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(df, df, k=20).collect()
    }
    for (a, b), c in got.items():
        assert exact.get((a, b), exact.get((b, a))) == c
        assert c >= 0.9
