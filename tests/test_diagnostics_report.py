"""Report-only regression tier (regression_test.rs:141-144 analog)."""

import json

from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.plans.regression_report import (
    append_trend,
    augment_expectations,
    quality_report,
    report_summary,
)
from audio_quality_checker_spark.sources.pages import partition_day


def test_quality_report_scores_every_category(spark, golden):
    rep = quality_report(
        spark, golden["pages"], golden["ref_hosts"], golden["baseline"],
        spark.createDataFrame(golden["expected"]),
    )
    rows = {r["category"]: r for r in rep.collect()}
    assert set(rows) == set(golden["expected"]["category"])
    # the report records quality without asserting it: on the current
    # engine the golden corpus is fully green, so FP=FN=0 everywhere —
    # but the report path itself must not be what enforces that
    clean = rows["Control_Clean"]
    assert clean["verdict_ok"] and clean["n_false_positives"] == 0
    drift = rows["LangDrift"]
    assert drift["got_types"] and "DistributionDrift" in drift["got_types"]
    assert drift["n_false_negatives"] == 0


def test_report_summary_and_trend_file(spark, golden, tmp_path):
    rep = quality_report(
        spark, golden["pages"], golden["ref_hosts"], golden["baseline"],
        spark.createDataFrame(golden["expected"]),
    )
    s = report_summary(rep, engine_version="test")
    assert s["n_categories"] == len(golden["expected"])
    assert s["n_verdict_ok"] == s["n_categories"]  # current engine is green
    trend = tmp_path / "trend.jsonl"
    append_trend(s, str(trend))
    append_trend(s, str(trend))
    lines = [json.loads(ln) for ln in trend.read_text().splitlines()]
    assert len(lines) == 2 and lines[0]["n_categories"] == s["n_categories"]


def test_quality_report_opt_in_tier_pins_recall(spark, golden):
    """Report-tier tripwire for the round-5 LSH recall bug class: with
    the opt-in gates enabled, every partition must flag its
    fixture-golden opt-in types (near-dup on all days — the template
    prose duplicates across docs everywhere; repetition on PaddedText).
    A candidate-vs-verify metric mismatch that silently loses recall on
    hot blocks surfaces here as false negatives, not as a green build.
    """
    import dataclasses

    suite = dataclasses.replace(
        CheckSuite(), check_near_dup=True, check_repetition=True
    )
    exp = augment_expectations(
        spark.createDataFrame(golden["expected"]),
        near_dup=True, repetition=True,
    )
    rep = quality_report(
        spark, golden["pages"], golden["ref_hosts"], golden["baseline"],
        exp, suite=suite,
    )
    rows = rep.collect()
    assert all(not r["got_pass"] for r in rows)  # near-dup fails every day
    assert all(r["verdict_ok"] for r in rows)
    assert sum(r["n_false_negatives"] for r in rows) == 0, [
        (r["category"], r["missing_types"])
        for r in rows if r["n_false_negatives"]
    ]
    rep_day = {r["partition_key"]: r for r in rows}[
        partition_day("PaddedText")
    ]
    assert "RepetitionAnomaly" in rep_day["got_types"]
