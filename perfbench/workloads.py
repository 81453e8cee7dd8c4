"""The benchmark workloads: what one pass runs, on what, and its checks.

A job pass is one call of the job's ``main`` with the flags a ``spark-submit``
user would give it, inside the benchmark's long-lived session (``main``
fetches that session through ``get_spark``); its stdout is captured, and
corpus_prep's counters line feeds its checks.  The near_dup pass calls the
operator the way the registry's ``near_dup_members`` query does.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
from dataclasses import dataclass
from typing import Callable

import checks

BLOCK_CAP = 40
PAIR_THRESHOLD = 0.5
# star hot-route recall floor of scripts/check_oracles.py
MEMBERS_RECALL_FLOOR = 0.9
THRESHOLD = 0.8
MIN_QUALITY = 0.5
MAX_DUP_LINE_FRAC = 0.30
# per-lang BPE budget: trims the larger languages, keeps the rest whole
TOKEN_BUDGET = 6_000


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: str                    # input family in inputs.py
    run: Callable[[str, str, str, int], str]   # (root, inputs, out, cores)
    check: Callable[[str, str, int, str], list[tuple]]


def _job_pass(job: str, argv: Callable[[str, str, int], list[str]]):
    """A pass that runs jobs/<job>.py's main (loaded once per process)."""
    cache = {}

    def run(root: str, inputs: str, out: str, cores: int) -> str:
        if job not in cache:
            cache[job] = load_job(root, job)
        return run_job(cache[job], argv(inputs, out, cores))

    return run


def _validate_argv(inputs: str, out: str, cores: int) -> list[str]:
    return ["--pages", f"{inputs}/pages", "--ref-hosts", f"{inputs}/ref_hosts",
            "--baseline", f"{inputs}/baseline_snapshot", "--out", out,
            "--cores", str(cores)]


def _corpus_argv(inputs: str, out: str, cores: int) -> list[str]:
    return ["--docs", f"{inputs}/documents", "--out", out,
            "--block-cap", str(BLOCK_CAP), "--threshold", str(THRESHOLD),
            "--min-quality", str(MIN_QUALITY),
            "--max-dup-line-frac", str(MAX_DUP_LINE_FRAC),
            "--token-budget", str(TOKEN_BUDGET), "--cores", str(cores)]


def _near_dup_pass(root: str, inputs: str, out: str, cores: int) -> str:
    """The registry's near_dup_members surface, written to parquet."""
    from pyspark.sql import SparkSession

    from audio_quality_checker_spark.operators import dedup

    spark = SparkSession.getActiveSession()
    docs = spark.read.parquet(f"{inputs}/documents")
    members = dedup.near_dup_members_guarded(
        docs, threshold=PAIR_THRESHOLD, block_cap=BLOCK_CAP)
    members.write.mode("overwrite").parquet(f"{out}/members")
    members.unpersist()
    return ""


def _corpus_check(inputs: str, out: str, seed: int, stdout: str):
    return checks.check_corpus_prep(
        inputs, out, checks.corpus_counters(stdout), THRESHOLD, MIN_QUALITY,
        MAX_DUP_LINE_FRAC, TOKEN_BUDGET)


WORKLOADS = {
    "validate": Workload(
        "validate", "validate", _job_pass("validate", _validate_argv),
        lambda inputs, out, seed, stdout: checks.check_validate(
            inputs, out, seed)),
    "near_dup": Workload(
        "near_dup", "documents", _near_dup_pass,
        lambda inputs, out, seed, stdout: checks.check_near_dup(
            inputs, out, PAIR_THRESHOLD, BLOCK_CAP, MEMBERS_RECALL_FLOOR)),
    # not in BENCHMARK.json: one run takes 80-130 s on 4 CPUs (see README)
    "corpus_prep": Workload(
        "corpus_prep", "documents", _job_pass("corpus_prep", _corpus_argv),
        _corpus_check),
}


def load_job(root: str, job: str):
    path = os.path.join(root, "jobs", f"{job}.py")
    spec = importlib.util.spec_from_file_location(f"_bench_job_{job}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_job(mod, argv: list[str]) -> str:
    """Run the job's main; return its captured stdout."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf), \
            contextlib.redirect_stderr(io.StringIO()):
        rc = mod.main(argv)
    if rc:
        raise RuntimeError(f"job exited with {rc}")
    return buf.getvalue()
