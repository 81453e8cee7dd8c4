"""The full validation pipeline — ``detect_quality_issues`` re-imagined
(detector.rs:176-413).

The reference runs 8 analysis modules sequentially per file and
accumulates defects; the engine declares the whole DAG lazily and lets
Catalyst prune/pushdown, with two explicit physical decisions the
optimizer cannot make for us (SURVEY.md §4):

 1. **Computation reuse**: the row-features projection feeds every check,
    and the one-pass stats frame feeds three of them; the violations and
    verdicts feed both the result writes and the report.  Spark does not
    share subplans across actions, so all four are persisted — the analog
    of the spectral result being computed once and consumed by both
    transcode and upsampling detection (detector.rs:183-187, 205-207).
 2. **Conditional plan construction**: disabled checks are simply never
    added to the DAG (the `if config.check_*` gates, detector.rs:205-299).

Shuffle inventory for the full pass (what survives at 100 TB):
 - 1 wide shuffle: groupBy(p_day) stats            [partial+final hash agg;
   url/host distinct counts ride it as DataSketches HLL sketches at lgK
   14, one binary buffer each where HLL++ at rsd 0.01 kept 1,639 longs]
 - 2 narrow shuffles on pre-aggregated counts: lang/len histograms
 - 1 narrow shuffle: extraction sample agg
 - 1 narrow shuffle: referential agg
 - violations/verdicts: bytes-sized frames, negligible
The fact table is never joined row-level against anything — dimensions
are Bloom-probed or broadcast (SURVEY.md §2.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.operators.column_stats import stats_violations
from audio_quality_checker_spark.operators.drift import drift_violations
from audio_quality_checker_spark.operators.extraction_check import (
    mismatch_violations,
)
from audio_quality_checker_spark.operators.referential import (
    build_bloom,
    with_membership,
)
from audio_quality_checker_spark.operators.schema import empty_violations
from audio_quality_checker_spark.operators.stats import (
    derive_row_features,
    distribution_counts_all,
    light_features,
    partition_stats,
)
from audio_quality_checker_spark.operators.verdict import (
    assemble_verdicts,
    combine_violations,
)


@dataclass
class ValidationResult:
    stats: DataFrame
    violations: DataFrame
    verdicts: DataFrame
    cached: tuple = ()

    def unpersist(self) -> None:
        for df in (self.stats, self.violations, self.verdicts, *self.cached):
            try:
                df.unpersist()
            except Exception:
                pass


def tune_shuffle_partitions(spark: SparkSession, input_bytes: int,
                            target_partition_bytes: int = 128 * 1024 * 1024) -> int:
    """Size shuffle partitions from input bytes (SURVEY.md §4 #2).  AQE
    coalesces down at runtime; this sets the ceiling so huge inputs don't
    funnel through too few reducers."""
    n = max(int(spark.sparkContext.defaultParallelism),
            input_bytes // target_partition_bytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    return int(n)


def run_checks(
    spark: SparkSession,
    pages: DataFrame,
    ref_hosts: DataFrame | None,
    baseline: DataFrame | None,
    suite: CheckSuite | None = None,
    exact: bool = False,
    expected_schema=None,
) -> ValidationResult:
    """The engine's ``run_checks(df, suite) -> (results, violations)``
    public surface (SURVEY.md §2.11).  ``exact=True`` switches the HLL
    sketch to exact distinct counts (small-scale oracle mode).
    ``expected_schema`` (a schema_check.TableExpectation) defaults to the
    Common-Crawl pages declaration when the schema check is enabled."""
    suite = suite or CheckSuite()

    from audio_quality_checker_spark.operators.schema_check import (
        PAGES_EXPECTATION,
        schema_violations,
        structural_violations,
        with_conformance_flags,
    )

    expected = expected_schema or PAGES_EXPECTATION

    bloom = (
        build_bloom(ref_hosts, "host")
        if suite.check_referential and ref_hosts is not None
        else None
    )

    fused = suite.check_extraction and suite.check_extraction_full
    if fused:
        # Full-extraction mode touches every payload in Python anyway, so
        # ONE fused mapInPandas pass produces the light features AND the
        # extraction comparison AND the Bloom probe — the second payload
        # scan disappears (operators/fused.py; the measured ~80-100s
        # parallelism-independent I/O term in BENCH/BASELINE.md).
        from audio_quality_checker_spark.operators.fused import fused_features

        features = None
        light = fused_features(pages, bloom, task_width=suite.fused_task_width)
        if suite.check_schema:
            light = with_conformance_flags(light, expected)
    else:
        features = derive_row_features(pages)
        # Cache ONLY the light projection (derived columns + payload
        # FLAGS, no html/text bodies): Spark's columnar cache materializes
        # multi-KB binary columns ~30x slower than the flags (111s vs 3.7s
        # at 1.2M rows), and at 100 TB payloads could never be cached
        # anyway.  The one payload consumer (the sampled
        # extraction-identity check) re-reads html+text straight from the
        # source with parquet column pruning.
        light = light_features(features)
        if suite.check_schema:
            # value-conformance flags are pure Catalyst expressions; their
            # counts ride the one wide stats pass below (zero extra scans)
            light = with_conformance_flags(light, expected)
        if bloom is not None:
            # Bloom probe applied to the LIGHT frame only: a pandas UDF
            # node buffers its input rows JVM-side while Python evaluates,
            # so the probe must sit above the payload drop or 3.6 GB of
            # html rides the Python-eval queue (measured 65s vs ~4s).
            light = with_membership(light, bloom, "host")

    # Explicit computation reuse (the reference computes its spectral
    # result once for two consumers, detector.rs:183-187).  The stats
    # count below is the FIRST action and references light exactly once,
    # so it materializes both caches in one job — no separate
    # light.count() warmup job is needed (the cache-race pathology only
    # bites when one action references a cold cache from SEVERAL branches;
    # every later consumer here runs after this count, against a warm
    # cache).
    light.persist(StorageLevel.MEMORY_AND_DISK)

    stats = partition_stats(light, exact=exact)
    stats.persist(StorageLevel.MEMORY_AND_DISK)
    n_partitions = stats.count()

    # All stats-derived checks (nulls, lengths, uniqueness, referential,
    # extraction errors) emit from ONE explode over the tiny stats frame;
    # the config gates filter the emitted types (conditional plan pruning,
    # detector.rs:205-299, applied post-explode at zero cost).
    enabled_types = []
    if suite.check_column_stats:
        enabled_types += ["NullRateExceeded", "LengthDistributionAnomaly"]
    if suite.check_uniqueness:
        enabled_types += ["UniquenessViolation"]
    if suite.check_referential and ref_hosts is not None:
        enabled_types += ["ReferentialViolation"]
    if suite.check_extraction:
        enabled_types += ["ExtractionError"]
        if fused:
            enabled_types += ["ExtractionMismatch"]  # rides the stats row

    frames = []
    if enabled_types:
        frames.append(
            stats_violations(stats, suite).where(
                F.col("violation_type").isin(*enabled_types)
            )
        )
    if suite.check_schema:
        # per-partition declared-domain violations from the stats counts
        frames.append(schema_violations(stats, suite, expected))
        # table-level structural break (missing / wrongly-typed column)
        # fails EVERY partition: attach each partition key to the (almost
        # always empty) structural rows — stats is one row per partition,
        # so this cross join is tiny-by-tiny
        structural = structural_violations(spark, pages, expected)
        frames.append(
            stats.select(F.col("p_day"))
            .crossJoin(structural.drop("partition_key"))
            .select(
                F.col("p_day").alias("partition_key"),
                "violation_type", "column_name", "confidence", "evidence",
                "params",
            )
        )
    if suite.check_drift and baseline is not None:
        frames.append(
            drift_violations(distribution_counts_all(light), baseline, suite,
                             n_partitions)
        )
        if suite.check_exact_ks:
            # opt-in exact-KS oracle on a seeded raw-length sample (the
            # binned KS above is the scale path; this is the FULL-suite
            # qualification cross-check)
            from audio_quality_checker_spark.operators.drift import (
                exact_ks_violations,
            )

            frames.append(exact_ks_violations(light, baseline, suite))
    if suite.check_trend:
        from audio_quality_checker_spark.operators.drift import (
            trend_violations,
        )

        frames.append(trend_violations(stats, suite))
    if suite.check_repetition:
        from audio_quality_checker_spark.operators.column_stats import (
            repetition_violations,
        )
        from audio_quality_checker_spark.operators.stats import (
            with_partition_key,
        )

        # In fused mode `features` is None (the fused pass produced only
        # the payload-free light frame); the gate needs `text`, so read it
        # from the SOURCE scan, column-pruned to (warc_ts, text) — the
        # same pattern as the sampled extraction check below.
        rep_src = features if features is not None else with_partition_key(pages)
        frames.append(repetition_violations(rep_src, suite))
    if suite.check_near_dup:
        from audio_quality_checker_spark.operators.column_stats import (
            near_dup_violations,
        )
        from audio_quality_checker_spark.operators.stats import (
            with_partition_key,
        )

        # pair search reads (url, p_day, lang, text) from the source
        # scan in both modes — the guarded surface tokenizes and blocks
        # internally, so neither cached frame helps it
        frames.append(near_dup_violations(with_partition_key(pages), suite))
    if suite.check_extraction and not fused:
        # sampled mode: the only payload consumer reads html+text from the
        # SOURCE scan (column-pruned), not from the cache
        frames.append(mismatch_violations(features, suite))

    violations = (
        combine_violations(frames, suite) if frames else empty_violations(spark)
    )
    violations.persist(StorageLevel.MEMORY_AND_DISK)
    # cached with the other results: the first write materializes it, and
    # the report and the JSON sink read it back instead of re-running the
    # verdict plan
    verdicts = assemble_verdicts(violations, stats, suite)
    verdicts.persist(StorageLevel.MEMORY_AND_DISK)
    return ValidationResult(
        stats=stats, violations=violations, verdicts=verdicts, cached=(light,)
    )


def validate(
    spark: SparkSession,
    pages_path: str,
    ref_hosts_path: str | None = None,
    baseline_path: str | None = None,
    suite: CheckSuite | None = None,
    results_root: str | None = None,
) -> ValidationResult:
    """One-call API (`validate(spark, table, config) -> VerdictReport`,
    the `is_likely_lossless(path)` analog, lib.rs:51-54) reading from and
    optionally writing to parquet tables.

    Iceberg note: on a cluster with the Iceberg runtime these reads become
    ``spark.read.format("iceberg").load("db.pages")`` and the writes
    ``df.writeTo("db.validation_results").append()`` — the plan shape is
    identical, parquet stands in because this container ships no Iceberg
    jars (import-gated per the environment constraints).
    """
    pages = spark.read.parquet(pages_path)
    ref_hosts = spark.read.parquet(ref_hosts_path) if ref_hosts_path else None
    baseline = spark.read.parquet(baseline_path) if baseline_path else None
    res = run_checks(spark, pages, ref_hosts, baseline, suite)
    if results_root:
        res.verdicts.write.mode("overwrite").parquet(f"{results_root}/verdicts")
        res.violations.write.mode("overwrite").parquet(f"{results_root}/violations")
        res.stats.write.mode("overwrite").parquet(f"{results_root}/stats")
    return res


def partition_order(key: str | None) -> tuple:
    """Sort key of a verdict's partition_key: nulls first, as orderBy."""
    return (key is not None, key or "")


def print_report(result: ValidationResult) -> list:
    """Driver-side summary (console-sink analog, main.rs:247-327); returns
    the collected verdict rows.  One row per partition, so they are
    sorted on the driver, not by a Spark sort."""
    rows = sorted(result.verdicts.collect(),
                  key=lambda r: partition_order(r["partition_key"]))
    lines = []
    for r in rows:
        mark = "PASS" if r["passed"] else "FAIL"
        lines.append(
            f"{r['partition_key']}  {mark}  score={r['quality_score']:.4f} "
            f"rows={r['n_rows']} violations={r['n_violations']} "
            f"types={','.join(r['violation_types'])}"
        )
    print("\n".join(lines))
    return rows
