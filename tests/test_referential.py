"""Bloom filter: no false negatives ever, FPP within bound, merge
equivalence, and the Spark probe agrees with the left_anti exact oracle."""

import logging

import numpy as np
from pyspark.sql import functions as F

from audio_quality_checker_spark.operators.referential import (
    BloomFilter,
    build_bloom,
    referential_violations,
    unknown_hosts_exact,
    with_membership,
)
from audio_quality_checker_spark.operators.stats import derive_row_features
from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.sources.pages import gen_pages_pdf, ref_hosts_pdf


def test_no_false_negatives_and_fpp():
    keys = [f"host{i:05d}.example.net" for i in range(10_000)]
    bf = BloomFilter.sized_for(len(keys), fpp=0.01)
    bf.add_many(keys)
    assert bf.contains_many(keys).all(), "false negative!"
    probes = [f"absent{i:06d}.other.net" for i in range(20_000)]
    fp_rate = bf.contains_many(probes).mean()
    assert fp_rate < 0.03, f"observed FPP {fp_rate}"


def test_merge_equals_single_build():
    a_keys = [f"a{i}" for i in range(5000)]
    b_keys = [f"b{i}" for i in range(5000)]
    single = BloomFilter.sized_for(10_000)
    single.add_many(a_keys + b_keys)
    pa = BloomFilter(single.m_bits, single.n_hashes)
    pa.add_many(a_keys)
    pb = BloomFilter(single.m_bits, single.n_hashes)
    pb.add_many(b_keys)
    merged = pa.merge(pb)
    assert bytes(merged.bits) == bytes(single.bits)


def test_spark_probe_matches_exact_oracle(spark):
    pages = spark.createDataFrame(gen_pages_pdf(300, categories=["UnknownHost"]))
    hosts = spark.createDataFrame(ref_hosts_pdf())
    features = derive_row_features(pages)
    bloom = build_bloom(hosts, "host")
    probed = with_membership(features, bloom, "host")
    bloom_misses = probed.where(
        F.col("host").isNotNull() & ~F.col("host_known")
    ).count()
    exact = unknown_hosts_exact(features, hosts).collect()
    exact_misses = sum(r["n_unknown"] for r in exact)
    # Bloom has false positives (membership=yes for an absent key) but no
    # false negatives, so bloom-reported misses <= exact misses, and with
    # fpp=1% on 200 keys they should be equal here
    assert bloom_misses == exact_misses
    v = referential_violations(features, hosts, CheckSuite(), bloom=bloom).collect()
    assert len(v) == 1 and v[0]["violation_type"] == "ReferentialViolation"


def test_bloom_build_refuses_unbroadcastable_filter(spark, monkeypatch):
    """A dimension whose Bloom would not fit the driver budget must
    refuse loudly with guidance, not OOM the driver (round-5 verdict:
    documented-bound-plus-refusal, the bounds_simhash precedent)."""
    import pytest as _pytest

    from audio_quality_checker_spark import session

    dim = spark.createDataFrame(
        [(f"host{i}",) for i in range(64)], "host string"
    )
    monkeypatch.setattr(session, "driver_budget_bytes", lambda spark: 8)
    with _pytest.raises(ValueError,
                        match="driver budget of 8 bytes.*left_anti"):
        build_bloom(dim, "host")


def test_bloom_distributed_build_tree_merges(spark, monkeypatch, caplog):
    """A budget that holds the filter but not the keys forces the
    distributed build: it must produce the driver build's filter, bit
    for bit."""
    from audio_quality_checker_spark import session

    hosts = [f"h{i}.example.com" for i in range(500)]
    dim = spark.createDataFrame([(h,) for h in hosts], "host string")
    driver_bf = build_bloom(dim, "host")
    budget = BloomFilter.sized_for(len(hosts)).m_bits // 8
    monkeypatch.setattr(session, "driver_budget_bytes",
                        lambda spark: budget)
    with caplog.at_level(logging.INFO, logger=session.__name__):
        bf = build_bloom(dim, "host")
    assert "bloom.keys" in caplog.text and "over driver budget" in caplog.text
    assert (bf.m_bits, bf.n_hashes) == (driver_bf.m_bits, driver_bf.n_hashes)
    assert np.array_equal(bf.bits, driver_bf.bits)
    assert all(bf.contains_many(hosts))
