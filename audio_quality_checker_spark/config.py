"""CheckSuite — the engine's plan/config object.

Heir of the reference's ``DetectionConfig`` (detector.rs:143-173) and
``AnalyzerBuilder`` fluent setters (analyzer.rs:98-153): which checks run,
their thresholds, and the global ``min_confidence`` filter
(detector.rs:374-376).  Expensive checks default OFF, mirroring the
reference's ``check_phase: false`` / ``check_mfcc: false`` defaults
(detector.rs:161-173) — here the expensive ones are the extraction
re-derivation sample and the exact-KS oracle.

There is no query IR in the reference; the "plan" is this config struct
and the "optimizer" is the set of ``if config.check_*`` gates
(detector.rs:205,243,262,288).  The engine keeps that shape: the driver
builds the DataFrame DAG conditionally from this dataclass, then Catalyst
optimizes the declared plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class CheckSuite:
    # ---- which checks run (detector.rs:145-152 analog) ----
    check_column_stats: bool = True
    check_schema: bool = True            # declared-vs-observed schema + domains
    check_uniqueness: bool = True
    check_referential: bool = True
    check_drift: bool = True
    check_extraction: bool = True       # byte-identity text vs extractor(html)
    # expensive / opt-in (analog of check_phase/check_mfcc defaults=false,
    # detector.rs:161-173)
    check_extraction_full: bool = False  # re-extract EVERY row, not a sample
    check_exact_ks: bool = False         # exact KS oracle (sorts a sample)
    check_trend: bool = False            # day-over-day trend regression:
    # only meaningful when the run's partitions form ONE time series (a
    # rolling production crawl), not unrelated category days
    check_repetition: bool = False       # Gopher-style within-doc
    # repetition gate (dup-line fraction) — an LLM-training-data filter,
    # not a reference check, so opt-in
    check_near_dup: bool = False         # cross-doc near-dup rate per
    # partition (guarded MinHash surface) — template-spam crawl slices;
    # pair search over the corpus, so opt-in like check_repetition

    # ---- thresholds (detector.rs:153-159 analog) ----
    max_null_rate: float = 0.05          # per column
    max_dup_rate: float = 0.02           # 1 - distinct(url)/count
    max_unknown_host_rate: float = 0.01  # referential misses / rows
    max_psi: float = 0.2                 # industry-standard PSI alert level
    max_ks_stat: float = 0.15            # sup |CDF_a - CDF_b| on binned CDFs
    max_extraction_mismatch_rate: float = 0.01
    max_extraction_error_rate: float = 0.02
    max_schema_violation_rate: float = 0.01  # declared-domain nonconformance
    trend_window: int = 7                # trailing days in the trend slope
    max_trend_shift: float = 0.5         # stddev-normalized drift across window
    max_doc_dup_line_frac: float = 0.30  # a doc above this is "repetitive"
    max_repetitive_doc_rate: float = 0.05  # partition gate on such docs
    near_dup_jaccard: float = 0.7        # pair threshold for check_near_dup
    max_near_dup_doc_rate: float = 0.05  # partition gate: fraction of docs
    # that are members of at least one within-partition near-dup pair
    ks_sample_fraction: float = 0.10     # sample for the exact-KS oracle
    # below this sampled-row floor the exact-KS statistic is noise (the
    # two-sample critical value 1.36*sqrt(1/n+1/m) exceeds max_ks_stat
    # around n~90 at m=2000), so small partitions are skipped, not judged
    min_ks_sample: int = 150
    min_text_len_p50: float = 64.0       # median extracted-text length floor

    # extraction re-derivation sample fraction (upsampling null-test analog,
    # upsampling.rs:174-175 caps work at 5 s of audio; we cap at a seeded
    # sample fraction)
    extraction_sample_fraction: float = 0.10
    extraction_sample_seed: int = 42

    # task width for the fused single-scan pass (None = derive from the
    # cluster: 4 waves of tasks per slot — with a single wave any
    # straggler idles its core for the whole stage tail; measured 21.3s
    # -> 13.6s at a 16-CPU budget and scaling efficiency 0.64 -> 0.90.
    # See operators/fused.py for the full policy and counter-measurements)
    fused_task_width: int | None = None

    # ---- verdict assembly (detector.rs:360-376 analog) ----
    min_confidence: float = 0.5          # final violation filter
    # corroboration gate (detector.rs:341-358): a violation at the weakest
    # reportable tier survives only when ANOTHER violation fires on the
    # same partition — prefer false negatives over lone borderline signals
    corroboration_gate: bool = True
    corroboration_weak_tier: float = 0.65
    # agreement boost (upsampling.rs:351-398): same-type detections from
    # independent checks on one partition corroborate each other
    agreement_boost: float = 0.10
    max_boosted_confidence: float = 0.95
    pass_score_threshold: float = 0.7    # detector.rs:362-371
    # penalty per violation type for the multiplicative score fold
    # (detector.rs:744-772); types absent here default to `default_penalty`
    # sized so one confirmed violation at the weakest reportable confidence
    # (0.65) already sinks the score below the 0.7 pass gate:
    # 1 - 0.5*0.65 = 0.675 — a partition fails on any violation that
    # survives min_confidence, matching the qualification suite's hard-fail
    # semantics (qualification_test.rs:101)
    penalties: dict[str, float] = field(
        default_factory=lambda: {
            "NullRateExceeded": 0.50,
            "LengthDistributionAnomaly": 0.50,
            "UniquenessViolation": 0.55,
            "ReferentialViolation": 0.50,
            "DistributionDrift": 0.50,
            "ExtractionMismatch": 0.60,
            "ExtractionError": 0.50,
            "SchemaViolation": 0.60,
            "TrendDrift": 0.40,
        }
    )
    default_penalty: float = 0.50
    # violation types that fail a partition outright regardless of score
    # (analog of the hard defect classes in detector.rs:362-371)
    critical_types: tuple[str, ...] = ("ExtractionMismatch", "SchemaViolation")

    def with_(self, **kwargs) -> "CheckSuite":
        """Fluent override, the AnalyzerBuilder analog (analyzer.rs:98-153)."""
        return replace(self, **kwargs)


QUICK = CheckSuite(
    check_drift=False,
    check_extraction=False,
)
"""Quick mode: cheap structural checks only (main.rs:194-196 --quick analog)."""

FULL = CheckSuite(check_extraction_full=True, check_exact_ks=True)
"""Everything on, full-corpus extraction identity (regression-suite analog)."""
