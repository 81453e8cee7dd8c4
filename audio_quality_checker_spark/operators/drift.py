"""Distribution-drift checks: PSI and binned two-sample KS vs a baseline.

Heir of encoder-signature matching (spectral.rs:492-541) and the
null-test comparison (upsampling.rs:170-260): compare the measured
distribution against a stored expectation and score the divergence.

Scale shape: the drift comparison joins **aggregated histograms** (a few
bins per partition) against a broadcast baseline — never raw rows — so
the whole check is one tiny shuffle after the distribution_counts
aggregation (SURVEY.md §2.3 "the only big-big operation is the drift
comparison, which joins aggregated histograms").

PSI = sum_bins (p - q) * ln(p / q)  with additive smoothing (alpha=0.5)
so empty bins never produce infinities.  KS on the *ordered* text-length
bins = sup |CDF_obs - CDF_base| — the binned approximation documented in
SURVEY.md §7 (known-hard #4); the exact oracle lives in tests (numpy
two-sample KS on raw lengths, no global sort in the engine path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.operators.schema import (
    VIOLATION_SCHEMA,
    graded_confidence,
    violation_row,
)
from audio_quality_checker_spark.session import fits_driver_budget
from audio_quality_checker_spark.sources.pages import LEN_BIN_LABELS

_ALPHA = 0.5  # additive smoothing per bin


def drift_metrics(dist: DataFrame, baseline: DataFrame) -> DataFrame:
    """(p_day, column_name, psi, ks) from observed distribution counts and
    the baseline snapshot.  `dist` is distribution_counts() output;
    `baseline` the snapshot table (snapshot_id, column_name, bin, count,
    total).  Both are tiny; every join is broadcast."""
    base = baseline.select(
        "column_name", "bin",
        F.col("count").alias("b_count"), F.col("total").alias("b_total"),
    )
    obs = dist.select(
        "p_day", "column_name", "bin",
        F.col("count").alias("o_count"), F.col("total").alias("o_total"),
    )

    # bin universe per (p_day, column): THAT day's observed bins union
    # the baseline bins — so mass that vanished (baseline-only bins)
    # still contributes drift, while another partition's exotic bins do
    # NOT leak into this day's smoothing denominator.  The per-day
    # universe is what makes a day's PSI/KS invariant to WHICH other
    # partitions share the run — the resume contract (a crash-redo of
    # one partition must reproduce its numbers bit-identically whether
    # it runs alone or with the full table; caught by the round-5 sf1
    # kill/resume drive, where the 3-day redo shifted day 14's PSI from
    # 0.4024 to 0.4012 under the old cross-partition universe).
    pdays = obs.select("p_day", "column_name", "o_total").distinct()
    univ = (
        obs.select("p_day", "column_name", "bin")
        .unionByName(
            pdays.select("p_day", "column_name")
            .distinct()
            .join(
                F.broadcast(base.select("column_name", "bin").distinct()),
                "column_name",
            )
        )
        .distinct()
        .join(pdays, ["p_day", "column_name"])
    )
    j = (
        univ.join(obs, ["p_day", "column_name", "bin", "o_total"], "left")
        .join(F.broadcast(base), ["column_name", "bin"], "left")
        .fillna({"o_count": 0, "b_count": 0, "b_total": 0})
    )

    n_bins = F.count(F.lit(1)).over(W.partitionBy("p_day", "column_name"))
    p = (F.col("o_count") + _ALPHA) / (F.col("o_total") + _ALPHA * n_bins)
    # b_total is constant per column; fill rows that joined nothing via max
    b_total = F.max("b_total").over(W.partitionBy("column_name"))
    q = (F.col("b_count") + _ALPHA) / (b_total + _ALPHA * n_bins)
    j = j.withColumn("p", p).withColumn("q", q)

    # ordered-bin CDFs for KS (only meaningful for the ordered text_len bins)
    order_expr = F.array_position(
        F.array(*[F.lit(x) for x in LEN_BIN_LABELS]), F.col("bin")
    )
    wcum = (
        W.partitionBy("p_day", "column_name")
        .orderBy(order_expr)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    j = j.withColumn("cum_p", F.sum("p").over(wcum)).withColumn(
        "cum_q", F.sum("q").over(wcum)
    )

    return j.groupBy("p_day", "column_name").agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
        F.when(
            F.first("column_name") == "text_len",
            F.max(F.abs(F.col("cum_p") - F.col("cum_q"))),
        ).alias("ks"),
    )


# driver bytes per collected histogram row: a six-field Row (day,
# column and bin strings, two counts, a flag) plus its share of the dicts
# the finalize builds from it
_HIST_ROW_BYTES = 256
# lang bins one partition's histogram may carry: language-id labels
# number a few hundred at most (CLD2, which labels Common Crawl, ~160)
_MAX_LANG_BINS = 256


def drift_metrics_driver(obs_rows: list, base_rows: list) -> list:
    """Driver-side finalize of the drift comparison on the collected,
    ALREADY AGGREGATED histograms (observed and baseline rows with
    column_name, bin, count and total; observed rows also p_day): PSI/KS
    in numpy, skipping the ~8 sub-second Spark stages (joins, windows,
    explode) the distributed finalize needs.  Measured: the distributed
    tail cost ~5s of almost-parallelism-independent stage latency per
    run.

    Semantics are identical to drift_metrics (same smoothing, same bin
    universe, same ordered-bin KS) — asserted by
    tests/test_drift_finalize.py.

    Returns list of (p_day, column_name, psi, ks_or_None).
    """
    base: dict[str, dict[str, int]] = {}
    b_total: dict[str, int] = {}
    for r in base_rows:
        base.setdefault(r["column_name"], {})[r["bin"]] = int(r["count"])
        b_total[r["column_name"]] = max(
            b_total.get(r["column_name"], 0), int(r["total"])
        )
    obs: dict[tuple, dict[str, int]] = {}
    o_total: dict[tuple, int] = {}
    for r in obs_rows:
        key = (r["p_day"], r["column_name"])
        obs.setdefault(key, {})[r["bin"]] = int(r["count"])
        o_total[key] = int(r["total"])

    len_order = {lbl: i for i, lbl in enumerate(LEN_BIN_LABELS)}
    out = []
    # bin universe per (p_day, column): the day's own observed bins union
    # the baseline bins (mirrors the distributed per-day universe; see
    # drift_metrics — cross-partition bins must not change a day's
    # smoothing, or a resumed redo of one partition reproduces different
    # numbers than the original full run)
    for (p_day, col), counts in sorted(obs.items()):
        universe = set(counts) | set(base.get(col, {}))
        bins = sorted(universe, key=lambda b: (len_order.get(b, -1), b))
        p = np.array(
            [counts.get(b, 0) for b in bins], dtype=np.float64
        )
        q = np.array(
            [base.get(col, {}).get(b, 0) for b in bins], dtype=np.float64
        )
        k = len(bins)
        p = (p + _ALPHA) / (o_total[(p_day, col)] + _ALPHA * k)
        q = (q + _ALPHA) / (b_total.get(col, 0) + _ALPHA * k)
        psi = float(((p - q) * np.log(p / q)).sum())
        ks = (
            float(np.abs(np.cumsum(p) - np.cumsum(q)).max())
            if col == "text_len"
            else None
        )
        out.append((p_day, col, psi, ks))
    return out


def drift_violations(dist: DataFrame, baseline: DataFrame, suite: CheckSuite,
                     n_partitions: int) -> DataFrame:
    """DistributionDrift rows from the histograms of ``n_partitions``
    partitions.  Sized as n_partitions x (text_len bins + the lang bin
    allowance): within the driver budget both histograms are collected in
    one action and finalized on the driver (drift_metrics_driver), past
    it the distributed drift_metrics runs.  Both routes give the same
    rows (tests/test_drift_finalize.py)."""
    spark = dist.sparkSession
    est = _HIST_ROW_BYTES * n_partitions * (
        len(LEN_BIN_LABELS) + _MAX_LANG_BINS)
    if fits_driver_budget(spark, "drift.histograms", est):
        hist = ("column_name", "bin", F.col("count").cast("long"),
                F.col("total").cast("long"))
        rows = dist.select(
            "p_day", F.lit(False).alias("is_base"), *hist
        ).unionByName(
            baseline.where(F.col("column_name") != BASELINE_SAMPLE_KEY)
            .select(F.lit(None).cast("string").alias("p_day"),
                    F.lit(True).alias("is_base"), *hist)
        ).collect()
        # violation rows built in Python too: a local relation costs the
        # violations job nothing, where the Spark expressions below cost
        # their codegen (0.64-0.81 s vs 0.32-0.49 s to count one call's
        # rows on the 15-category fixture, 4 CPUs)
        out = []
        for p_day, col, psi, ks in drift_metrics_driver(
                [r for r in rows if not r["is_base"]],
                [r for r in rows if r["is_base"]]):
            for metric, value, thr in (
                ("psi", psi, suite.max_psi),
                ("ks_binned", ks, suite.max_ks_stat),
            ):
                if value is None:
                    continue
                conf = (
                    0.95 if value >= 4 * thr
                    else 0.85 if value >= 2 * thr
                    else 0.65 if value > thr
                    else 0.0
                )
                if conf <= 0:
                    continue
                label = "PSI" if metric == "psi" else "binned KS"
                out.append((
                    p_day, "DistributionDrift", col, conf,
                    f"{label} {value:.4f} exceeds {thr:.4f} on {col}",
                    {"metric": metric, "value": repr(value)},
                ))
        return spark.createDataFrame(out, VIOLATION_SCHEMA)
    m = drift_metrics(dist, baseline)
    pk = F.col("p_day")
    psi_v = m.select(
        *violation_row(
            pk,
            "DistributionDrift",
            F.col("column_name"),
            graded_confidence(F.col("psi"), suite.max_psi),
            F.format_string(
                "PSI %.4f exceeds %.4f on %s", F.col("psi"),
                F.lit(suite.max_psi), F.col("column_name"),
            ),
            {"metric": F.lit("psi"), "value": F.col("psi")},
        )
    ).where(F.col("confidence") > 0)
    ks_v = m.where(F.col("ks").isNotNull()).select(
        *violation_row(
            pk,
            "DistributionDrift",
            F.col("column_name"),
            graded_confidence(F.col("ks"), suite.max_ks_stat),
            F.format_string(
                "binned KS %.4f exceeds %.4f on %s", F.col("ks"),
                F.lit(suite.max_ks_stat), F.col("column_name"),
            ),
            {"metric": F.lit("ks_binned"), "value": F.col("ks")},
        )
    ).where(F.col("confidence") > 0)
    return psi_v.unionByName(ks_v)


def trend_violations(stats: DataFrame, suite: CheckSuite) -> DataFrame:
    """Day-over-day trend drift: the regression slope of len_avg across the
    trailing ``trend_window`` crawl days, computed as
    covar_pop(len_avg, day_seq) / var_pop(day_seq) over an ordered window —
    the MFCC-delta window-regression heir (mfcc.rs:276-305: delta features
    are exactly a least-squares slope over a +-N-frame window).

    The slope is normalized by the partition's len_stddev (stddev-based
    confidence, spectral.rs:381-392): a 30-char/day drift matters when
    documents are tightly clustered and is noise when lengths vary wildly.
    Runs over the tiny per-partition stats frame — zero row-level cost.
    Opt-in (suite.check_trend): a trend is only meaningful for a run whose
    partitions form one time series, not for unrelated category days.
    """
    w_full = W.orderBy("p_day")
    seq = F.row_number().over(w_full)
    s = stats.select(
        "p_day", "len_avg", "len_stddev", seq.alias("day_seq")
    ).withColumn("n_days", F.count(F.lit(1)).over(
        W.orderBy("day_seq").rowsBetween(-(suite.trend_window - 1), 0)
    ))
    wr_seq = W.orderBy("day_seq").rowsBetween(-(suite.trend_window - 1), 0)
    slope = F.covar_pop("len_avg", "day_seq").over(wr_seq) / F.var_pop(
        "day_seq"
    ).over(wr_seq)
    s = s.withColumn("slope", slope)
    # total drift across the window, in units of the day's dispersion
    shift = F.abs(F.col("slope")) * (suite.trend_window - 1) / F.greatest(
        F.col("len_stddev"), F.lit(1.0)
    )
    return (
        s.where(F.col("n_days") >= suite.trend_window)
        .select(
            *violation_row(
                F.col("p_day"),
                "TrendDrift",
                "text",
                graded_confidence(shift, suite.max_trend_shift),
                F.format_string(
                    "len_avg trend slope %.3f/day shifts %.3f stddevs over "
                    "%d days (gate %.3f)",
                    F.col("slope"), shift, F.lit(suite.trend_window),
                    F.lit(suite.max_trend_shift),
                ),
                {"slope_per_day": F.col("slope"), "stddev_shift": shift},
            )
        )
        .where(F.col("confidence") > 0)
    )


BASELINE_SAMPLE_KEY = "text_len_sample"

# hard per-day row bound for the exact-KS pandas group; past this the KS
# statistic's precision gain is nil and the group's memory is the cost
_KS_DAY_CAP = 200_000


def exact_ks_violations(features: DataFrame, baseline: DataFrame,
                        suite: CheckSuite) -> DataFrame:
    """Sampled EXACT two-sample KS per partition vs raw baseline lengths —
    the opt-in oracle-grade drift check (suite.check_exact_ks; the binned
    KS above is the scale path).  The baseline snapshot carries a seeded
    raw-length sample under column_name='text_len_sample'; snapshots
    without it (older format) skip the check gracefully.

    Shape: seeded sample of (p_day, text_len) -> per-day hard cap ->
    applyInPandas per p_day computing exact_ks_numpy against the broadcast
    baseline sample.  The cap is enforced BEFORE the pandas group
    materializes: a windowed row_number over a deterministic hash order
    keeps at most _KS_DAY_CAP rows per day (the window sort spills; a
    pandas frame cannot), so per-group memory is bounded at any input
    scale — the in-kernel stride subsample is only a second line of
    defense.
    """
    import pandas as pd
    from pyspark.sql import Window as W

    base_rows = (
        baseline.where(F.col("column_name") == BASELINE_SAMPLE_KEY)
        .select("bin")
        .collect()
    )
    spark = features.sparkSession
    if not base_rows:
        from audio_quality_checker_spark.operators.schema import (
            empty_violations,
        )

        return empty_violations(spark)
    base_sample = np.array([float(r["bin"]) for r in base_rows])
    bcast = spark.sparkContext.broadcast(base_sample)
    thr = suite.max_ks_stat

    # content-hash sampling, NOT df.sample(): Spark's sample() seeds per
    # partition INDEX, so the kept set changes with scan layout — a
    # resumed redo of one partition (different file split) would sample
    # different rows and report a different KS statistic than the
    # original run.  Hashing (url, text_len) keeps the decision a pure
    # row property (text_len mixed in so duplicate urls with different
    # lengths still sample independently).
    frac_mille = int(suite.ks_sample_fraction * 1000)
    sampled = (
        features.select("p_day", "text_len", "url")
        .where(F.col("text_len").isNotNull())
        .where(
            F.pmod(
                F.xxhash64(
                    "url", "text_len", F.lit(suite.extraction_sample_seed)
                ),
                F.lit(1000),
            )
            < frac_mille
        )
    )
    # deterministic per-day cap: order by a url hash (uniform, seed-mixed)
    # so the kept subset is a uniform random — and reproducible — sample;
    # text_len tiebreak pins the value multiset even across duplicate urls
    cap_order = W.partitionBy("p_day").orderBy(
        F.xxhash64("url", F.lit(suite.extraction_sample_seed)), "text_len"
    )
    sampled = (
        sampled.withColumn("_rn", F.row_number().over(cap_order))
        .where(F.col("_rn") <= _KS_DAY_CAP)
        .select("p_day", "text_len")
    )

    def per_day(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.sort(pdf["text_len"].to_numpy(dtype=np.float64))
        if v.size > _KS_DAY_CAP:
            # CDF-preserving stride subsample of the SORTED values: keeps
            # the group bounded at any scale and is deterministic
            # regardless of the arrival order of the sampled rows
            idx = np.linspace(0, v.size - 1, _KS_DAY_CAP).astype(np.int64)
            v = v[idx]
        ks = exact_ks_numpy(v, bcast.value)
        return pd.DataFrame(
            {"p_day": [pdf["p_day"].iloc[0]], "ks_exact": [ks],
             "n_sampled": [len(pdf)]}
        )

    m = sampled.groupBy("p_day").applyInPandas(
        per_day, schema="p_day string, ks_exact double, n_sampled long"
    )
    # sampled-size floor: below it the KS statistic's own sampling noise
    # exceeds the gate and any verdict would be a coin flip
    m = m.where(F.col("n_sampled") >= F.lit(suite.min_ks_sample))
    return m.select(
        *violation_row(
            F.col("p_day"),
            "DistributionDrift",
            "text_len",
            graded_confidence(F.col("ks_exact"), thr),
            F.format_string(
                "exact KS %.4f exceeds %.4f on text_len (%d sampled rows)",
                F.col("ks_exact"), F.lit(thr), F.col("n_sampled"),
            ),
            {"metric": F.lit("ks_exact"), "value": F.col("ks_exact")},
        )
    ).where(F.col("confidence") > 0)


def exact_ks_numpy(a: np.ndarray, b: np.ndarray) -> float:
    """Exact two-sample KS statistic (numpy, no scipy) — the small-scale
    oracle for the binned KS (SURVEY.md §7 known-hard #4)."""
    a = np.sort(np.asarray(a, dtype=np.float64))
    b = np.sort(np.asarray(b, dtype=np.float64))
    allv = np.concatenate([a, b])
    cdf_a = np.searchsorted(a, allv, side="right") / len(a)
    cdf_b = np.searchsorted(b, allv, side="right") / len(b)
    return float(np.abs(cdf_a - cdf_b).max())
