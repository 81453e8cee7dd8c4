"""Training-data mixing operators (operators/mixing.py):
decontamination, stratified sampling, token-budget mix.

The load-bearing gates:
  - contamination_report: planted-overlap recall/precision is EXACT
    (every doc carrying an eval n-gram flags, nothing else does), and
    the broadcast refusal fires past the driver budget.
  - stratified_sample: per-stratum quotas exact, selection identical
    across partitionings (content-addressed order), rank contiguous.
  - budget_mix: equivalent to the single-partition window cumsum on
    the same input (the two-phase prefix sum is exact, not
    approximate), per-stratum budget semantics (straddler kept,
    overshoot < one doc), invariant to input partitioning.
"""

import pytest
from pyspark.sql import Window, functions as F

from audio_quality_checker_spark.operators.mixing import (
    budget_mix,
    contamination_report,
    stratified_sample,
    word_ngrams,
)


def _docs(spark, rows, n_parts=None):
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    return df.repartition(n_parts) if n_parts else df


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------

def test_word_ngrams_normalization(spark):
    df = spark.range(1).select(
        word_ngrams(F.lit("The  Quick, BROWN fox-jumps  over"), 3).alias("g")
    )
    [row] = df.collect()
    # lowercased, punctuation collapsed: tokens = the quick brown fox
    # jumps over -> 4 trigrams
    assert row["g"] == [
        "the quick brown", "quick brown fox",
        "brown fox jumps", "fox jumps over",
    ]


def test_word_ngrams_short_text_empty(spark):
    [row] = spark.range(1).select(
        word_ngrams(F.lit("only two"), 3).alias("g")).collect()
    assert row["g"] == []


def test_contamination_planted_exact(spark):
    # doc 0 is the eval doc; doc 1 copies a 4-gram span verbatim inside
    # unrelated prose; doc 2 has the same TOKENS reordered (no shared
    # 4-gram run); doc 3 is disjoint.
    docs = _docs(spark, [
        (0, "en", "alpha beta gamma delta epsilon zeta"),
        (1, "en", "noise words here beta gamma delta epsilon more tail"),
        (2, "en", "zeta epsilon alpha delta beta gamma"),
        (3, "en", "completely different words in this document body"),
    ])
    rep = contamination_report(
        docs, docs.where(F.col("doc_id") == 0), n=4
    ).orderBy("doc_id").collect()
    got = {r["doc_id"]: r for r in rep}
    assert set(got) == {0, 1}
    assert got[0]["n_hits"] == got[0]["n_grams"] == 3
    assert got[0]["contamination_frac"] == 1.0
    # doc 1: 6 distinct 4-grams, exactly one ("beta gamma delta
    # epsilon") is an eval gram
    assert got[1]["n_grams"] == 6 and got[1]["n_hits"] == 1


def test_contamination_dup_grams_counted_once(spark):
    # a doc repeating the contaminated span still counts each DISTINCT
    # gram once (dropDuplicates before the count)
    docs = _docs(spark, [
        (0, "en", "alpha beta gamma delta"),
        (1, "en", "alpha beta gamma delta and alpha beta gamma delta"),
    ])
    rep = contamination_report(
        docs, docs.where(F.col("doc_id") == 0), n=4
    ).collect()
    got = {r["doc_id"]: r for r in rep}
    assert got[1]["n_hits"] == 1


def test_py_ngrams_matches_catalyst_spec(spark):
    """The vectorized batch route (_py_word_ngrams — what
    contamination_report executes) must produce the exact DISTINCT
    gram sets of the Catalyst word_ngrams spec, including unicode
    lowering, punctuation runs, short/empty/null texts and dup grams."""
    import pandas as pd

    from audio_quality_checker_spark.operators.mixing import (
        _py_word_ngrams,
    )

    texts = [
        "The  Quick, BROWN fox-jumps  over",
        "Füße über äll 123 STRAßE and more words",   # unicode folds out
        "short one",                                  # < n tokens
        "",                                           # empty
        None,                                         # null
        "a b c a b c a b c",                          # dup grams
        "ONE two THREE four five SIX seven",
        "tabs\tand\nnewlines   mixed;punct!!here now",
    ]
    n = 3
    got = _py_word_ngrams(pd.Series(texts, dtype=object), n)
    got_sets = {
        int(d): set(g["g"]) for d, g in got.groupby("d")
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    ).select("i", word_ngrams(F.col("text"), n).alias("g"))
    for r in df.collect():
        want = set(r["g"] or [])
        assert got_sets.get(r["i"], set()) == want, r["i"]


def test_contamination_broadcast_refusal(spark, monkeypatch):
    from audio_quality_checker_spark import session

    docs = _docs(spark, [(0, "en", "a b c d e f g h i j")])
    assert contamination_report(docs, docs, n=4).count() == 1
    # 7 distinct 4-grams; a 100-byte budget holds one (7 chars + 72 B),
    # so the collect stops at two and refuses
    monkeypatch.setattr(session, "driver_budget_bytes", lambda spark: 100)
    with pytest.raises(ValueError, match="driver budget of 100 bytes"):
        contamination_report(docs, docs, n=4)


# ---------------------------------------------------------------------------
# stratified sample
# ---------------------------------------------------------------------------

def _strata_rows():
    return [(i, "en" if i % 3 else "de", f"text {i}") for i in range(200)]


def test_stratified_sample_quota_and_determinism(spark):
    a = stratified_sample(_docs(spark, _strata_rows()), "lang", 10)
    b = stratified_sample(_docs(spark, _strata_rows(), n_parts=7), "lang", 10)
    rows_a = sorted((r["lang"], r["sample_rank"], r["doc_id"])
                    for r in a.collect())
    rows_b = sorted((r["lang"], r["sample_rank"], r["doc_id"])
                    for r in b.collect())
    assert rows_a == rows_b                      # partitioning-invariant
    by_lang = {}
    for lang, rk, _ in rows_a:
        by_lang.setdefault(lang, []).append(rk)
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 10, "de": 10}
    assert all(sorted(v) == list(range(1, 11)) for v in by_lang.values())


def test_stratified_sample_small_stratum_keeps_all(spark):
    docs = _docs(spark, [(1, "en", "x"), (2, "en", "y"), (3, "de", "z")])
    got = stratified_sample(docs, "lang", 10).collect()
    assert len(got) == 3


# ---------------------------------------------------------------------------
# budget mix
# ---------------------------------------------------------------------------

def _weighted(spark, n=300, langs=("en", "de", "zh"), n_parts=11):
    rows = [(i, langs[i % len(langs)], 10 + (i * 7) % 90) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    return df.repartition(n_parts)


def _window_reference(df, budget):
    """The semantics oracle: per-stratum window cumsum (fine at test
    scale; the funnel budget_mix exists to avoid)."""
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w),
                                               F.lit(0)))
        .where(F.col("cum_before") < budget)
    )


def test_budget_mix_matches_window_reference(spark):
    df = _weighted(spark)
    got = {(r["lang"], r["doc_id"], r["cum_before"])
           for r in budget_mix(df, 700).collect()}
    ref = {(r["lang"], r["doc_id"], r["cum_before"])
           for r in _window_reference(df, 700).collect()}
    assert got == ref and len(got) > 0


def test_budget_mix_straddler_and_overshoot(spark):
    df = _weighted(spark, n=120)
    picked = budget_mix(df, 500)
    per = (picked.groupBy("lang")
           .agg(F.sum("n_tokens").alias("tot"),
                F.max("n_tokens").alias("mx")).collect())
    for r in per:
        assert r["tot"] >= 500                 # budget reached (stratum big)
        assert r["tot"] - r["mx"] < 500        # overshoot < one document


def test_budget_mix_partitioning_invariant(spark):
    a = budget_mix(_weighted(spark, n_parts=3), 900)
    b = budget_mix(_weighted(spark, n_parts=17), 900)
    sa = sorted((r["lang"], r["doc_id"]) for r in a.collect())
    sb = sorted((r["lang"], r["doc_id"]) for r in b.collect())
    assert sa == sb


def test_budget_mix_tiny_budget_keeps_first_doc(spark):
    # budget 1: the first doc in hash order per stratum straddles and
    # is kept; nothing else
    df = _weighted(spark, n=60)
    got = budget_mix(df, 1).collect()
    langs = [r["lang"] for r in got]
    assert sorted(langs) == sorted(set(langs))  # exactly one per stratum
    assert all(r["cum_before"] == 0 for r in got)
