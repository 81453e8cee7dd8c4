"""The url/host cardinality sketch of the stats pass
(stats.sketch_count_distinct): the same estimate whatever the input
partitioning, in coupon mode (hundreds of distinct values) and in HLL
mode (tens of thousands), exact at small cardinality, nulls ignored."""

import pytest
from pyspark.sql import functions as F

from audio_quality_checker_spark.operators.stats import (
    URL_SKETCH_LGK,
    sketch_count_distinct,
)


def _estimates(df, n_parts: int) -> dict:
    return {
        r["g"]: r["d"]
        for r in df.repartition(n_parts).groupBy("g").agg(
            sketch_count_distinct("u", URL_SKETCH_LGK).alias("d")
        ).collect()
    }


@pytest.mark.parametrize("per_group", [400, 50_000],
                         ids=["coupon", "hll"])
def test_estimate_independent_of_input_partitions(spark, per_group):
    # three groups of `per_group` distinct urls, each url seen twice
    n = 3 * per_group
    df = spark.range(2 * n).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("https://h/"), (F.col("id") % n).cast("string"))
        .alias("u"),
    )
    got = [_estimates(df, p) for p in (1, 3, 8)]
    assert got[0] == got[1] == got[2]
    for d in got[0].values():
        assert abs(d - per_group) <= 0.03 * per_group, got[0]


def test_exact_at_small_cardinality_and_nulls_ignored(spark):
    rows = [(g, f"u{i}" if i % 5 else None)
            for g, n in ((0, 1), (1, 37), (2, 400), (3, 1000))
            for i in range(n)]
    rows += [(4, None)] * 3
    df = spark.createDataFrame(rows, "g int, u string")
    got = df.groupBy("g").agg(
        sketch_count_distinct("u", URL_SKETCH_LGK).alias("d"),
        F.count_distinct("u").alias("exact"),
    ).collect()
    assert {r["g"]: r["d"] for r in got} == \
        {r["g"]: r["exact"] for r in got}
    assert {r["g"]: r["d"] for r in got}[4] == 0
