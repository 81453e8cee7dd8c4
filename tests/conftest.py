import os

import pytest

from audio_quality_checker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # one task slot per CPU the run was given: more concurrent Python
    # workers than cores only share the same memory
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    s = get_spark(app_name="aqcs-tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def golden(spark):
    """The golden fixture set: pages (every category in
    sources.pages.CATEGORIES), ref_hosts, baseline snapshot, expected
    verdicts — generated once per session."""
    from audio_quality_checker_spark.sources.pages import (
        baseline_snapshot_pdf,
        expected_verdicts_pdf,
        gen_pages_pdf,
        ref_hosts_pdf,
    )

    pages_pdf = gen_pages_pdf(rows_per_category=200)
    return {
        "pages_pdf": pages_pdf,
        "pages": spark.createDataFrame(pages_pdf).cache(),
        "ref_hosts": spark.createDataFrame(ref_hosts_pdf()),
        "baseline": spark.createDataFrame(baseline_snapshot_pdf()),
        "expected": expected_verdicts_pdf(),
    }
