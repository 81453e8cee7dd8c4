"""End-to-end golden-verdict suite — the qualification-test analog
(qualification_test.rs:275-438): every defect category must produce its
expected verdict (hard equality) and its expected violation types (subset
of reported), with ZERO violations on clean partitions (false-positive
accounting, regression_test.rs:98-107)."""

import pytest

from audio_quality_checker_spark.config import QUICK, CheckSuite
from audio_quality_checker_spark.plans.validate import run_checks
from audio_quality_checker_spark.sources.pages import partition_day


@pytest.fixture(scope="module")
def result(spark, golden):
    res = run_checks(
        spark, golden["pages"], golden["ref_hosts"], golden["baseline"], exact=True
    )
    verdicts = {r["partition_key"]: r for r in res.verdicts.collect()}
    violations = res.violations.collect()
    res.unpersist()
    return verdicts, violations


def test_every_partition_gets_a_verdict(result, golden):
    verdicts, _ = result
    assert set(verdicts) == set(golden["expected"]["partition_key"])


def test_expected_verdicts_hard_equality(result, golden):
    verdicts, _ = result
    failures = []
    for _, exp in golden["expected"].iterrows():
        got = verdicts[exp["partition_key"]]["passed"]
        if got != exp["should_pass"]:
            failures.append(
                f"{exp['category']} ({exp['partition_key']}): expected "
                f"{'PASS' if exp['should_pass'] else 'FAIL'}, got "
                f"{'PASS' if got else 'FAIL'}"
            )
    assert not failures, "\n".join(failures)


def test_expected_violation_types_subset(result, golden):
    verdicts, _ = result
    for _, exp in golden["expected"].iterrows():
        got_types = set(verdicts[exp["partition_key"]]["violation_types"])
        missing = set(exp["expected_violation_types"]) - got_types
        assert not missing, f"{exp['category']}: missing {missing}, got {got_types}"


def test_no_false_positives_on_clean(result, golden):
    _, violations = result
    clean_days = {
        partition_day(c) for c in ("Control_Clean", "SkewHost")
    }
    fps = [v for v in violations if v["partition_key"] in clean_days]
    assert not fps, f"violations on clean partitions: {fps}"


def test_scores_bounded_and_ordered(result):
    verdicts, _ = result
    for r in verdicts.values():
        assert 0.0 <= r["quality_score"] <= 1.0
        if r["n_violations"] == 0:
            assert r["quality_score"] == 1.0 and r["passed"]


def test_quick_mode_skips_expensive_checks(spark, golden):
    """Conditional plan pruning (detector.rs:205-299): disabled checks
    contribute no violations."""
    res = run_checks(spark, golden["pages"], golden["ref_hosts"], None, suite=QUICK,
                     exact=True)
    types = {r["violation_type"] for r in res.violations.collect()}
    res.unpersist()
    assert "DistributionDrift" not in types
    assert "ExtractionMismatch" not in types and "ExtractionError" not in types
    assert "UniquenessViolation" in types  # cheap checks still run


def test_min_confidence_filter(spark, golden):
    """detector.rs:374-376: raising min_confidence strictly shrinks the
    violation set."""
    strict = CheckSuite(min_confidence=0.9)
    res = run_checks(
        spark, golden["pages"], golden["ref_hosts"], golden["baseline"],
        suite=strict, exact=True,
    )
    confs = [r["confidence"] for r in res.violations.collect()]
    res.unpersist()
    assert confs and all(c >= 0.9 for c in confs)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """The 15-category fixture warehouse on disk, for jobs/validate.py."""
    from audio_quality_checker_spark.sources.pages import (
        write_fixture_warehouse,
    )

    root = str(tmp_path_factory.mktemp("warehouse"))
    write_fixture_warehouse(spark, root)
    return root


def _validate_job(root: str, out: str) -> int:
    from jobs.validate import main

    return main(["--pages", f"{root}/pages",
                 "--ref-hosts", f"{root}/ref_hosts",
                 "--baseline", f"{root}/baseline_snapshot",
                 "--out", out])


def test_validate_job_count_guard(spark, warehouse, tmp_path, monkeypatch):
    """jobs/validate.py main on the 15-category fixture warehouse (4 task
    slots): 24 Spark jobs with the verdicts cached alongside the other
    results and both drift histograms brought in by one collect; 27 when
    the report re-ran the verdict plan (4 jobs).  The report reads the
    cache (InMemoryTableScan) in one job, and main releases the cached
    results before it returns."""
    from audio_quality_checker_spark.plans import validate as plan

    sc = spark.sparkContext
    report = {}

    def jobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup("validate_jobs"))

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    def print_report(result):
        report["plan"] = result.verdicts._jdf.queryExecution() \
            .executedPlan().toString()
        before = jobs()
        rows = real_print_report(result)
        report["jobs"] = jobs() - before
        return rows

    real_print_report = plan.print_report
    monkeypatch.setattr(plan, "print_report", print_report)
    before = persisted()
    sc.setJobGroup("validate_jobs", "job-count guard")
    try:
        assert _validate_job(warehouse, str(tmp_path)) == 0
        n_jobs = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "InMemoryTableScan" in report["plan"], report["plan"]
    assert report["jobs"] == 1, report["jobs"]
    assert n_jobs <= 24, n_jobs
    assert persisted() <= before, persisted() - before


def test_warm_validate_job_compiles_nothing(spark, warehouse, tmp_path):
    """A second jobs/validate.py main in the same session finds its
    generated classes in the whole-stage codegen cache.  A cold call
    compiles about 106 classes, more than Spark's default cache of 100
    entries holds; at that default the LRU evicted classes before the
    next call needed them, and the second call here recompiled 25."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    counts = []
    for i in range(2):
        before = compiles.getCount()
        assert _validate_job(warehouse, f"{tmp_path}/r{i}") == 0
        counts.append(compiles.getCount() - before)
    assert counts[1] <= 2, counts
