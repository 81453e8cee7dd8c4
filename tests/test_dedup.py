"""Dedup operators: planted near-duplicates must be found; unrelated
docs must not collide (the qualification hard-fail style)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_quality_checker_spark.operators.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
    simhash_near_dups,
)
from audio_quality_checker_spark.functions.hashing import SplitMixRNG

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega red green blue "
    "cyan magenta yellow black white stone river mountain forest meadow"
).split()


def _doc(rng: SplitMixRNG, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    """100 random docs + 5 planted near-dup pairs + 1 exact-dup pair."""
    rows = []
    for i in range(100):
        rng = SplitMixRNG(99, i)
        rows.append((i, _doc(rng, 120)))
    # near-dups: copy with the last 6 words changed (~95% shingle overlap)
    planted = []
    for j in range(5):
        base_id = j * 7
        rng = SplitMixRNG(7, j)
        words = rows[base_id][1].split()
        words[-6:] = [rng.choice(WORDS) for _ in range(6)]
        dup_id = 200 + j
        rows.append((dup_id, " ".join(words)))
        planted.append((base_id, dup_id))
    rows.append((300, rows[3][1]))  # exact dup of doc 3
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf).cache(), planted


def test_minhash_finds_planted_pairs(spark, corpus):
    df, planted = corpus
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(df, threshold=0.6).collect()
    }
    for a, b in planted:
        assert (a, b) in found, f"missed planted pair {(a, b)}"
    assert (3, 300) in found  # exact dup is the strongest near-dup
    # no false positives among unrelated random docs: every reported pair
    # is either planted or the exact dup
    allowed = set(planted) | {(3, 300)}
    assert found <= allowed, f"false positives: {found - allowed}"


def test_minhash_estimate_tracks_true_jaccard(spark, corpus):
    df, planted = corpus
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(df, threshold=0.5).collect()
    }
    assert est[(3, 300)] == 1.0  # identical docs -> identical signatures
    for p in planted:
        assert est[p] > 0.6


def test_lsh_bounds_candidates(spark, corpus):
    df, _ = corpus
    sigs = minhash_signatures(df)
    n_cand = lsh_candidate_pairs(sigs).count()
    n_total_pairs = 106 * 105 // 2
    assert n_cand < n_total_pairs * 0.02, "LSH produced near-quadratic candidates"


def test_simhash_finds_planted_pairs(spark, corpus):
    df, planted = corpus
    found = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(df, max_hamming=10).collect()
    }
    assert (3, 300) in found and found[(3, 300)] == 0
    hits = sum(1 for p in planted if p in found)
    assert hits >= 4, f"simhash found only {hits}/5 planted pairs: {found}"


def test_simhash_pigeonhole_recall_hamming_4_to_12(spark):
    """Round-1 recall bug: 4 fixed 16-bit bands only guarantee recall for
    hamming <= 3, but the operator was invoked with max_hamming=12.  The
    banding is now (max_hamming + 1) pigeonhole bands: plant pairs at every
    hamming distance 4..12 — adversarially spreading the flipped bits so
    each flip lands in a DIFFERENT 16-bit quarter first (the exact pairs the
    old 4-band construction missed) — and require all of them recovered."""
    from audio_quality_checker_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    base = 0x5A5A_C3C3_0F0F_9696
    rows, expected = [], set()
    rows.append((0, _to_i64(base)))
    for h in range(4, 13):
        # flip h bits, striding 64//h so flips spread across all quarters
        sig = base
        stride = 64 // h
        for j in range(h):
            sig ^= 1 << (j * stride)
        doc_id = 100 + h
        rows.append((doc_id, _to_i64(sig)))
        expected.add((0, doc_id, h))
    # a decoy beyond the radius: 20 flipped bits must NOT be reported
    sig = base
    for j in range(20):
        sig ^= 1 << (j * 3)
    rows.append((999, _to_i64(sig)))

    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    found = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_sigs(sigs, max_hamming=12).collect()
        if r["id_a"] == 0
    }
    missing = expected - found
    assert not missing, f"pigeonhole recall failed: missing {missing}"
    assert not any(b == 999 for _, b, _ in found), "beyond-radius pair reported"


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def test_multitable_recall_hamming_4_to_12(spark):
    """Manku multi-table construction: the same adversarial planted pairs
    as the pigeonhole test (flips spread across the hash) must all be
    recovered at radius 12, and the beyond-radius decoy must not."""
    from audio_quality_checker_spark.operators.dedup import (
        simhash_pairs_multitable,
    )

    base = 0x5A5A_C3C3_0F0F_9696
    rows, expected = [(0, _to_i64(base))], set()
    for h in range(4, 13):
        sig = base
        stride = 64 // h
        for j in range(h):
            sig ^= 1 << (j * stride)
        rows.append((100 + h, _to_i64(sig)))
        expected.add((0, 100 + h, h))
    sig = base
    for j in range(20):
        sig ^= 1 << (j * 3)
    rows.append((999, _to_i64(sig)))

    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    found = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_multitable(sigs, max_hamming=12).collect()
        if r["id_a"] == 0
    }
    missing = expected - found
    assert not missing, f"multi-table recall failed: missing {missing}"
    assert not any(b == 999 for _, b, _ in found), "beyond-radius pair reported"


def test_multitable_buckets_bounded_on_spread_fixture(spark):
    """The point of the multi-table construction: on uniformly-spread
    64-bit signatures at radius 12, single-table pigeonhole bands are ~5
    bits wide and buckets engulf n/32 of the corpus, while the q-block
    multi-table keys (~13 bits) keep the largest bucket tiny."""
    import numpy as np

    from audio_quality_checker_spark.operators.dedup import (
        _multitable_banded,
    )

    n = 5_000
    rng = np.random.default_rng(17)
    sigs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "simhash": rng.integers(
                    np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                    n, dtype=np.int64,
                ),
            }
        )
    )
    multi = _multitable_banded(sigs, "doc_id", max_hamming=12,
                               key_blocks=None, table_cap=512)
    max_multi = (
        multi.groupBy("tbl_idx", "key_hash")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # single-table equivalent at h=12: 13 bands of ~5 bits
    from audio_quality_checker_spark.operators.dedup import _band_ranges

    single_avg = n / 2 ** (64 // 13)  # ~ n/32 per bucket on average
    assert max_multi <= 50, (
        f"multi-table max bucket {max_multi} is not bounded"
    )
    assert max_multi < single_avg / 3, (
        f"multi-table max bucket {max_multi} should be far below the "
        f"single-table AVERAGE {single_avg:.0f}"
    )
    assert len(_band_ranges(13)) == 13  # the single-table shape it replaces


def test_char_shingles_find_cjk_near_dups(spark):
    """Whitespace shingling collapses an unsegmented (CJK) document into
    ONE token, so word-mode minhash only ever finds exact matches there;
    char-mode shingles must recover a planted near-dup pair."""
    from audio_quality_checker_spark.functions.hashing import SplitMixRNG

    cjk = "数据质量检验引擎网页文档分析系统统计分布检查验证平台"
    rows = []
    for i in range(40):
        rng = SplitMixRNG(5, i)
        rows.append((i, "".join(rng.choice(cjk) for _ in range(200))))
    # near-dup: copy of doc 0 with the last 10 chars changed (95% overlap)
    rng = SplitMixRNG(6, 0)
    rows.append((100, rows[0][1][:-10] + "".join(rng.choice(cjk) for _ in range(10))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    word = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(df, threshold=0.6).collect()
    }
    char = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(df, threshold=0.6,
                                   shingle_mode="char").collect()
    }
    assert (0, 100) not in word, "word shingles cannot see CJK near-dups"
    assert (0, 100) in char, f"char shingles missed the planted pair: {char}"
    # no false positives among unrelated docs
    assert char == {(0, 100)}, f"false positives: {char - {(0, 100)}}"


def test_jaccard_guardrail_routes_big_blocks_through_lsh(spark, corpus):
    """With a tiny block_cap every block is 'oversized': the LSH route must
    still recover the planted near-dups with exact Jaccard values, and a
    generous cap must reproduce the exact all-pairs result."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
    )

    df, planted = corpus
    d = df.withColumn("lang", F.lit("en"))
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_guarded(d, threshold=0.5,
                                       block_cap=10_000).collect()
    }
    routed = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_guarded(d, threshold=0.5, block_cap=1).collect()
    }
    assert (3, 300) in exact and exact[(3, 300)] == 1.0
    for p in planted:
        assert p in exact
        assert p in routed, f"LSH route missed planted pair {p}"
        assert abs(routed[p] - exact[p]) < 1e-9  # verification stays exact
    # precision: the LSH route reports no pair the exact route rejects
    assert set(routed) <= set(exact)


def test_lsh_route_searches_same_pair_universe_as_exact(spark, corpus):
    """A near-identical pair split across blocks (different lang) is
    invisible to the exact blocked route — the LSH route must not emit it
    either, whatever the block_cap (the candidate join carries the block
    key as an exact-equality term)."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
    )

    df, planted = corpus
    # doc 0's near-dup (id 200) moved to another language block
    d = df.withColumn(
        "lang", F.when(F.col("doc_id") == 200, "de").otherwise(F.lit("en"))
    )
    routed = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_guarded(d, threshold=0.5, block_cap=1).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_guarded(d, threshold=0.5,
                                       block_cap=10_000).collect()
    }
    assert (0, 200) not in exact, "exact route blocks on lang"
    assert (0, 200) not in routed, (
        "LSH route emitted a cross-block pair the exact route never "
        "considers"
    )
    # in-block planted pairs still surface through the LSH route
    for p in planted:
        if p != (0, 200):
            assert p in routed, f"LSH route missed in-block pair {p}"


def test_guarded_mixed_routes_one_hot_block(spark):
    """The production shape: ONE oversized (lang, len_blk) block routes
    through LSH while the long tail stays exact — planted pairs in both
    kinds of block must surface from a single call."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
    )

    # docs built from per-doc-unique fixed-width tokens so unrelated
    # token SETS are disjoint (the tiny shared WORDS vocab would make
    # every token-set jaccard ~1.0); the planted dup keeps 100/120 tokens
    # (set jaccard 100/140 = 0.71 >= threshold)
    def tokens(prefix: str, i: int, swap: int = 0) -> str:
        toks = [f"{prefix}{i:03d}{j:03d}" for j in range(120)]
        if swap:
            toks[-swap:] = [f"swap{j:04d}" for j in range(swap)]
        return " ".join(toks)

    rows = []
    # hot block: 120 'en' docs of equal length, one planted near-dup pair
    for i in range(120):
        rows.append((i, "en", tokens("h", i)))
    rows.append((500, "en", tokens("h", 10, swap=20)))
    # cold block: 6 'de' docs, one planted pair
    for i in range(6):
        rows.append((600 + i, "de", tokens("d", i)))
    rows.append((700, "de", tokens("d", 0, swap=20)))

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    )
    cap = 50
    # fixture property: the en block really is oversized, de is not
    from pyspark.sql import functions as SF
    blk = (
        df.groupBy("lang", F.floor(F.length("text") / 100).alias("b"))
        .count()
    )
    en_max = blk.where(SF.col("lang") == "en").agg(SF.max("count")).first()[0]
    de_max = blk.where(SF.col("lang") == "de").agg(SF.max("count")).first()[0]
    assert en_max > cap, "fixture must have an oversized en block"
    assert de_max <= cap, "fixture must keep the de block exact-routed"

    found = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_guarded(df, threshold=0.5,
                                       block_cap=cap).collect()
    }
    assert (10, 500) in found, "LSH route missed the hot-block pair"
    assert (600, 700) in found, "exact route missed the cold-block pair"
    # unrelated docs share no tokens: nothing else may pair
    assert found == {(10, 500), (600, 700)}, f"false positives: {found}"


def test_simhash_radius_zero_is_exact_dup_join(spark):
    """max_hamming=0 means one 64-bit band: the full-width mask must not
    overflow LongType, and only bit-identical signatures may pair."""
    from audio_quality_checker_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    sigs = spark.createDataFrame(
        [(1, -42), (2, -42), (3, 7), (4, 7), (5, 6)],  # 5 vs 6: hamming 1
        "doc_id long, simhash long",
    )
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_sigs(sigs, max_hamming=0).collect()
    }
    assert pairs == {(1, 2, 0), (3, 4, 0)}


def test_exact_dup_groups(spark, corpus):
    df, _ = corpus
    groups = exact_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [3, 300]


def test_exact_collapse_pair_set_identical(spark, corpus):
    """The exact-signature collapse is a pure join optimization: the
    emitted (id_a, id_b, hamming) set must be identical with and without
    it, on both the pigeonhole and multi-table routes (the corpus has an
    exact-dup pair, so the within-group path is exercised)."""
    df, _ = corpus
    for h in (3, 6):
        plain = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(df, max_hamming=h,
                                       collapse_exact=False).collect()
        }
        collapsed = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(df, max_hamming=h,
                                       collapse_exact=True).collect()
        }
        assert collapsed == plain, f"h={h}: collapse changed the pair set"
        assert any(hm == 0 for _, _, hm in collapsed), "exact dup missing"


def test_minhash_exact_collapse_identical(spark, corpus):
    """MinHash signature collapse: identical pair set and identical
    estimates with and without (the corpus plants an exact dup, so the
    within-group est=1.0 path fires)."""
    df, _ = corpus
    plain = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(df, threshold=0.5,
                                   collapse_exact=False).collect()
    }
    collapsed = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(df, threshold=0.5,
                                   collapse_exact=True).collect()
    }
    assert collapsed == plain
    assert collapsed[(3, 300)] == 1.0


def test_collapse_auto_gate(spark, corpus):
    """collapse_exact=None (the default) must route by the probed
    duplicate-signature fraction — and produce the same pair set as
    either forced path (the collapse is output-invariant, so AUTO only
    changes cost).  Also pin the gate itself on synthetic frames: a
    dup-heavy corpus probes above the threshold, an all-unique one
    below."""
    import pandas as pd

    from audio_quality_checker_spark.operators.dedup import (
        _COLLAPSE_MIN_DUP_FRAC,
        _materialize_and_probe_dups,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    df, _ = corpus
    auto = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(df, threshold=0.5).collect()
    }
    forced = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_dups(df, threshold=0.5,
                                   collapse_exact=True).collect()
    }
    assert auto == forced

    uniq = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(200),
        "text": [f"totally distinct document number {i} "
                 f"with words {i * 7} {i * 13}" for i in range(200)],
    }))
    sigs = minhash_signatures(uniq).persist()
    assert _materialize_and_probe_dups(
        sigs, F.xxhash64("sig")) < _COLLAPSE_MIN_DUP_FRAC
    sigs.unpersist()

    heavy = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": ["the same exact duplicated web page body"] * 30
        + [f"unique page {i} content {i * 3}" for i in range(10)],
    }))
    sigs2 = minhash_signatures(heavy).persist()
    assert _materialize_and_probe_dups(
        sigs2, F.xxhash64("sig")) >= _COLLAPSE_MIN_DUP_FRAC
    sigs2.unpersist()


def test_bucket_edge_pair_surfaces(spark):
    """The round-3 recall hole: two near-identical docs straddling a
    length-bucket boundary (len 199 vs 201) can never share a
    floor(len/100) block — adjacent-bucket probing must surface the
    pair in BOTH routes (exact and LSH) with its exact jaccard."""
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
    )

    # 40 four-char tokens -> 199 chars; swap one token and pad -> 201
    toks_a = [f"w{i:03d}" for i in range(40)]
    toks_b = list(toks_a)
    toks_b[-1] = "zzzzzz"  # 6 chars: 199 - 4 + 6 = 201
    text_a, text_b = " ".join(toks_a), " ".join(toks_b)
    assert (len(text_a), len(text_b)) == (199, 201)
    assert len(text_a) // 100 != len(text_b) // 100
    jac = 39 / 41  # |intersect|/|union| of the token SETS

    filler = [
        (100 + i, "en", " ".join(f"f{i:03d}{j:03d}" for j in range(40)))
        for i in range(30)
    ]
    df = spark.createDataFrame(pd.DataFrame(
        [(1, "en", text_a), (2, "en", text_b)] + filler,
        columns=["doc_id", "lang", "text"],
    ))
    for cap in (10_000, 1):  # exact route / LSH route
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs_guarded(df, threshold=0.5,
                                           block_cap=cap).collect()
        }
        assert (1, 2) in got, f"cap={cap}: edge pair missed"
        assert abs(got[(1, 2)] - jac) < 1e-6


def test_guarded_lsh_route_recall_on_reordered_docs(spark):
    """The hot-block LSH route must find near-dups whose similarity is
    token-SET overlap with different word ORDER (template docs) — the
    guarded surface verifies token-set jaccard, so its candidate
    generation must measure the same thing.  (Round-5 regression test:
    5-word-shingle candidates found 19 of 155,907 true pairs on a real
    hot block.)"""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    # 60 docs over a shared 60-token vocabulary, each a random 45-token
    # subset in random order -> pairwise token jaccard ~0.5-0.7
    for i in range(60):
        toks = rng.sample(vocab, 45)
        rows.append((i, "en", " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    from audio_quality_checker_spark.operators.dedup import (
        jaccard_pairs_guarded,
    )

    # cap 10 forces EVERY block through the LSH route
    got = jaccard_pairs_guarded(df, threshold=0.5, block_cap=10)
    n_got = got.count()
    got.unpersist()
    # exhaustive truth
    tok = {i: frozenset(t.split()) for i, _, t in rows}
    true_pairs = sum(
        1
        for a in range(60)
        for b in range(a + 1, 60)
        if len(tok[a] & tok[b]) / len(tok[a] | tok[b]) >= 0.5
    )
    assert true_pairs > 100, "fixture should be pair-dense"
    # banding recall at j>=0.5 is >=0.87 per pair; assert a safe floor
    assert n_got >= 0.75 * true_pairs, (n_got, true_pairs)


# ---------------------------------------------------------------------------
# O(n)-output surfaces: membership + star/certificate edges
# ---------------------------------------------------------------------------


def test_certificate_preserves_chain_connectivity(spark):
    """The exact route's sparse certificate must have the SAME connected
    components as the full pair graph — including the chain shape where
    the naive per-doc min-neighbor reduction provably fragments:
    verified edges (1,4),(2,3),(3,4) — min-neighbor keeps only
    (1,4),(2,3) and splits one cluster into two.  Built from texts whose
    token-set jaccards realize exactly that edge set."""
    from audio_quality_checker_spark.operators.components import keep_one
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_edges_guarded,
        jaccard_pairs_guarded,
    )

    # 10 shared tokens S; doc1/doc4 = S+{a}/S+{b} (j=10/12>0.8);
    # doc2/doc3 = T+{c}/T+{d} over a disjoint 10-token set T;
    # doc3/doc4 bridge: doc3 and doc4 share 9 of their tokens via a
    # third overlap — simpler: craft token sets directly.
    S = [f"s{i}" for i in range(20)]
    T = [f"t{i}" for i in range(20)]
    B = S[:10] + T[:10]
    rows = [
        (1, "en", " ".join(S)),                    # {S}
        (4, "en", " ".join(S[:10] + T[:10])),      # bridge-side: j(1,4)=10/30
        (2, "en", " ".join(T)),                    # {T}
        (3, "en", " ".join(T[:10] + S[:10])),      # j(2,3)=10/30, j(3,4)=1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    thr = 0.32  # j(1,4)=j(2,3)=1/3 >= thr; j(1,2)=0 < thr; j(3,4)=1.0
    pairs = jaccard_pairs_guarded(df, threshold=thr)
    edges = jaccard_edges_guarded(df, threshold=thr)
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 4) in got_pairs and (1, 4) in got_pairs and (2, 3) in got_pairs
    surv_pairs = {
        r["doc_id"]
        for r in keep_one(df, pairs.select("id_a", "id_b")).collect()
    }
    surv_edges = {
        r["doc_id"]
        for r in keep_one(df, edges.select("id_a", "id_b")).collect()
    }
    assert surv_pairs == surv_edges == {1}, (surv_pairs, surv_edges)
    pairs.unpersist()
    edges.unpersist()


def test_membership_and_survivors_match_pair_surface_exact_route(spark):
    """On a template-duplicated corpus (mutually-similar clusters — the
    case that makes the pair list quadratic) the membership and keep-one
    surfaces must equal the pair-derived sets exactly when the exact
    route applies."""
    import random

    from audio_quality_checker_spark.operators.components import keep_one
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_edges_guarded,
        jaccard_pairs_guarded,
        near_dup_members_guarded,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    doc_id = 0
    # 8 template clusters of 12 docs (high mutual overlap) + 50 singles
    for t in range(8):
        tmpl = rng.sample(vocab, 50)
        for _ in range(12):
            words = list(tmpl)
            for _ in range(4):
                words[rng.randrange(50)] = rng.choice(vocab)
            rng.shuffle(words)
            rows.append((doc_id, "en", " ".join(words)))
            doc_id += 1
    for _ in range(50):
        rows.append((doc_id, "en", " ".join(rng.sample(vocab, 50))))
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    pairs = jaccard_pairs_guarded(df, threshold=0.5)
    pair_members = {
        r["doc_id"]
        for r in pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .collect()
    }
    pair_surv = {
        r["doc_id"]
        for r in keep_one(df, pairs.select("id_a", "id_b")).collect()
    }
    members = near_dup_members_guarded(df, threshold=0.5)
    got_members = {r["doc_id"] for r in members.collect()}
    edges = jaccard_edges_guarded(df, threshold=0.5)
    got_surv = {
        r["doc_id"]
        for r in keep_one(df, edges.select("id_a", "id_b")).collect()
    }
    assert got_members == pair_members
    assert got_surv == pair_surv
    # the O(n) claim: edges per doc bounded by a small constant where
    # the pair list is quadratic in cluster size
    assert edges.count() < pairs.count()
    pairs.unpersist()
    members.unpersist()
    edges.unpersist()


@pytest.mark.parametrize("budget", [None, 0], ids=["default", "0"])
def test_star_hot_route_membership_recall(spark, monkeypatch, budget):
    """Hot blocks (forced via cap=10): star-to-rep membership must
    recover nearly all pair-derived members on a reordered-token
    template block — the banding floor applies per (doc, rep) chance
    across 32 bands, so on mutually-similar blocks recall is ~1.

    A zero driver budget forces the class-pair verify onto its JVM
    array_intersect fallback: pairs, members and edges must equal the
    broadcast-dictionary path's exactly."""
    import random

    from audio_quality_checker_spark import session
    from audio_quality_checker_spark.operators import dedup

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (i, "en", " ".join(rng.sample(vocab, 45))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def surfaces():
        out = []
        for fn in (dedup.jaccard_pairs_guarded,
                   dedup.near_dup_members_guarded,
                   dedup.jaccard_edges_guarded):
            res = fn(df, threshold=0.5, block_cap=10)
            out.append({tuple(r) for r in res.collect()})
            res.unpersist()
        return out

    pairs, members, edges = surfaces()
    if budget is not None:
        monkeypatch.setattr(session, "driver_budget_bytes",
                            lambda spark: budget)
        assert surfaces() == [pairs, members, edges]
    pair_members = {a for a, _, _ in pairs} | {b for _, b, _ in pairs}
    got = {d for (d,) in members}
    assert not (got - pair_members), "star must never invent members"
    assert len(got) >= 0.9 * len(pair_members), (len(got), len(pair_members))
    assert edges and len(edges) < len(pairs)


def test_sorted_pair_inter_matches_bruteforce():
    """The vectorized sorted-key intersection kernel behind the
    broadcast-dictionary verifies must return the exact set-intersection
    size for every pair — randomized against per-pair set &."""
    import numpy as np

    from audio_quality_checker_spark.operators.dedup import (
        _sorted_id_csr,
        _sorted_pair_inter,
    )

    rng = np.random.default_rng(7)
    for _ in range(100):
        nrows = int(rng.integers(1, 25))
        vocab_n = int(rng.integers(1, 40))
        sets = []
        for _ in range(nrows):
            k = int(rng.integers(0, min(vocab_n, 15) + 1))
            sets.append(np.sort(
                rng.choice(vocab_n, size=k, replace=False).astype(np.int64)
            ))
        flat, starts, lens = _sorted_id_csr(sets)
        npairs = int(rng.integers(0, 40))
        ia = rng.integers(0, nrows, npairs).astype(np.int64)
        ib = rng.integers(0, nrows, npairs).astype(np.int64)
        got = _sorted_pair_inter(flat, starts, lens, ia, ib, vocab_n + 1)
        want = np.array(
            [len(set(sets[a]) & set(sets[b])) for a, b in zip(ia, ib)],
            dtype=np.int64,
        ).reshape(npairs)
        assert got.shape == want.shape
        assert (got == want).all()


# The route-boundary fixture, for block_cap=_CAP.  Two length-bucket-1
# blocks (15 tokens of 6 chars = 104 chars), each with one planted pair
# (one token swapped: token-set jaccard 14/16):
# - lang _ODD_LANG (a quote, a backslash and non-ASCII): 6 docs, so
#   buckets 1 and 2 both probe exactly _CAP docs and stay exact;
# - lang en: 7 docs (_CAP + 1), so both buckets go hot.
# Each block holds one whitespace-only doc (it counts toward the
# population but has no tokens).  Null-lang copies of an en doc and
# null texts have no block: neither route may pair them.
_CAP = 6
_ODD_LANG = "q'\\ü語"


def _block_tokens(tag: str, i: int, swap: bool = False) -> str:
    toks = [f"{tag}{i:02d}t{j:02d}" for j in range(15)]
    if swap:
        toks[-1] = f"{tag}{i:02d}s99"
    return " ".join(toks)


def _mixed_route_docs(spark):
    rows = [(1 + i, _ODD_LANG, _block_tokens("w", i)) for i in range(4)]
    rows += [(5, _ODD_LANG, _block_tokens("w", 0, swap=True)),
             (6, _ODD_LANG, " " * 150)]
    rows += [(11 + i, "en", _block_tokens("e", i)) for i in range(5)]
    rows += [(16, "en", _block_tokens("e", 0, swap=True)),
             (17, "en", " " * 130),
             (21, None, _block_tokens("e", 0)),
             (22, None, _block_tokens("e", 0)),
             (23, "en", None),
             (24, "en", None)]
    return rows, spark.createDataFrame(
        rows, "doc_id long, lang string, text string")


def _brute_force_pairs(rows, threshold):
    """The guarded surface's pair universe, pairwise: same non-null lang,
    non-null texts, length buckets at most one apart, token-set jaccard
    >= threshold over a non-empty union."""
    import itertools

    out = {}
    for (ia, la, ta), (ib, lb, tb) in itertools.combinations(sorted(rows), 2):
        if la is None or la != lb or ta is None or tb is None:
            continue
        if abs(len(ta) // 100 - len(tb) // 100) > 1:
            continue
        sa, sb = set(ta.split()), set(tb.split())
        if sa | sb and len(sa & sb) / len(sa | sb) >= threshold:
            out[ia, ib] = len(sa & sb) / len(sa | sb)
    return out


def test_route_boundary_block_table(spark, caplog):
    """The driver-side block table: a bucket probing exactly block_cap
    docs stays on the exact route, one at block_cap + 1 goes hot, docs
    with no block are in neither, and a lang holding a quote, a
    backslash and non-ASCII still finds its block.  Pairs and members
    equal a brute-force reference."""
    import logging

    from audio_quality_checker_spark import session
    from audio_quality_checker_spark.operators import dedup

    rows, df = _mixed_route_docs(spark)
    want = _brute_force_pairs(rows, 0.5)
    assert want == {(1, 5): 14 / 16, (11, 16): 14 / 16}

    with caplog.at_level(logging.INFO, logger=session.__name__):
        routes = dedup._guarded_routes(df, "doc_id", "text", "lang", 0.5,
                                       _CAP, hot_route="star")
    assert ("dedup.blocks: 2 exact buckets (6 docs), 2 hot buckets "
            f"(7 docs) at block cap {_CAP}") in caplog.text
    exact = {(r["id_a"], r["id_b"]) for r in routes.exact_pairs.collect()}
    hot = {(r["id_a"], r["id_b"]) for r in routes.hot_pairs.collect()}
    for c in routes.caches:
        c.unpersist()
    assert exact == {(1, 5)}, "the bucket at block_cap must stay exact"
    assert hot == {(11, 16)}, "the bucket at block_cap + 1 must go hot"

    pairs = dedup.jaccard_pairs_guarded(df, threshold=0.5, block_cap=_CAP)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.keys() == want.keys()
    assert all(got[p] == pytest.approx(want[p]) for p in want)
    members = dedup.near_dup_members_guarded(df, threshold=0.5,
                                             block_cap=_CAP)
    assert {r["doc_id"] for r in members.collect()} == {1, 5, 11, 16}
    pairs.unpersist()
    members.unpersist()


def test_pairs_route_leaves_no_persisted_rdd(spark):
    """Every frame _guarded_routes persists is in its ``caches`` on both
    hot routes (the pairs route's class table and verified class pairs
    included), so jaccard_pairs_guarded leaves no persisted RDD behind
    once its caller unpersists the output."""
    from audio_quality_checker_spark.operators import dedup

    _, df = _mixed_route_docs(spark)
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    for hot_route in ("pairs", "star"):
        routes = dedup._guarded_routes(df, "doc_id", "text", "lang", 0.5,
                                       _CAP, hot_route=hot_route)
        assert routes.hot_pairs.count() == 1
        for c in routes.caches:
            c.unpersist()
        assert persisted() <= before, hot_route
    pairs = dedup.jaccard_pairs_guarded(df, threshold=0.5, block_cap=_CAP)
    assert pairs.count() == 2
    pairs.unpersist()
    assert persisted() <= before


def test_band_keys_match_per_band_xxhash(spark):
    """_banded_sigs' one-expression band keys equal the per-band
    xxhash64(i, sig[4i..4i+3]) columns for all 32 bands: crawl_state's
    persisted ingest state stores these hashes."""
    import random

    from audio_quality_checker_spark.operators.dedup import _banded_sigs

    rng = random.Random(3)
    sigs = spark.createDataFrame(
        [(i, [rng.randrange(-2 ** 63, 2 ** 63) for _ in range(128)])
         for i in range(4)],
        "doc_id long, sig array<bigint>",
    )
    want = sigs.select("doc_id", F.posexplode(F.array(*[
        F.xxhash64(F.lit(i), *[F.col("sig")[4 * i + j] for j in range(4)])
        for i in range(32)
    ])).alias("band_idx", "band_hash"))
    got = _banded_sigs(sigs, "doc_id", 32, 128)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 4 * 32


def test_members_job_count_guard(spark):
    """near_dup_members_guarded's Spark jobs on the mixed-route fixture
    (4 task slots): 21 when one action both materializes the class caches
    and sums the verify's broadcast bytes, 23 with a separate collect for
    the bytes (53 before the block populations were aggregated once per
    call).  The bound sits between 21 and 23."""
    from audio_quality_checker_spark.operators.dedup import (
        near_dup_members_guarded,
    )

    _, df = _mixed_route_docs(spark)
    sc = spark.sparkContext
    sc.setJobGroup("members_job_count", "job-count guard")
    try:
        members = near_dup_members_guarded(df, threshold=0.5,
                                           block_cap=_CAP)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("members_job_count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    members.unpersist()
    assert n_jobs <= 22, n_jobs
