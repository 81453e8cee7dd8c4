"""Row-feature derivation + the single wide per-partition stats aggregation.

The reference computes every per-file statistic by re-walking the sample
buffer once per analysis module (spectral.rs, bit_depth.rs, true_peak.rs
each re-scan `samples`).  At 100 TB a re-scan per check is the difference
between one shuffle and eight, so the engine inverts that: ONE narrow
projection derives all row-level features, then ONE groupBy(partition)
computes every scalar statistic in a single partial+final hash
aggregation — the `analyze_loudness` one-pass shape (true_peak.rs:143-164)
generalized to the whole suite.  Checks are then cheap expressions over
the tiny stats frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from audio_quality_checker_spark.sources.pages import LEN_BIN_EDGES, LEN_BIN_LABELS

SHORT_TEXT_LEN = 200     # suspicious-short gate (TruncatedText detector)
LONG_TEXT_LEN = 16384    # suspicious-long gate (PaddedText detector)


def with_partition_key(df: DataFrame, col: str = "p_day") -> DataFrame:
    """Ensure the crawl-day partition key exists as a STRING (derive from
    warc_ts; partitioned-parquet reads infer `p_day=` dirs as DATE, so the
    cast normalizes both sources to one type)."""
    if col in df.columns:
        return df.withColumn(col, F.col(col).cast("string"))
    return df.withColumn(col, F.date_format("warc_ts", "yyyy-MM-dd"))


def derive_row_features(df: DataFrame) -> DataFrame:
    """Narrow projection adding every derived column the checks consume.

    No shuffle, no Python: pure Catalyst expressions, fully inside
    whole-stage codegen.  `host` via parse_url (url->host parsing, the
    filename->genre dispatch analog, regression_genre_test.rs:257-289);
    `len_bin` via a when-ladder over the fixed log-spaced edges.
    """
    df = with_partition_key(df)
    text_len = F.when(F.col("text").isNull(), F.lit(None)).otherwise(
        F.length("text")
    )
    len_bin = F.when(F.col("text").isNull(), F.lit(None).cast("string"))
    lo = LEN_BIN_EDGES[1:]
    for edge, label in zip(lo, LEN_BIN_LABELS[:-1]):
        len_bin = len_bin.when(text_len < edge, F.lit(label))
    len_bin = len_bin.otherwise(F.lit(LEN_BIN_LABELS[-1]))
    return (
        df.withColumn("text_len", text_len)
        .withColumn("len_bin", len_bin)
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withColumn("lang_bin", F.coalesce(F.col("lang"), F.lit("__null__")))
        # payload-derived FLAGS so the payload columns themselves can be
        # dropped before caching: Spark's in-memory columnar cache is ~30x
        # slower materializing multi-KB binary columns than the flags
        # (measured 111s vs 3.7s at 1.2M rows / 32 cores) — and at 100 TB
        # you could never cache payloads anyway.  Everything the stats agg
        # needs about html/text is condensed to these few bytes per row.
        .withColumn("html_is_null", F.col("html").isNull())
        .withColumn("text_is_null", F.col("text").isNull())
        .withColumn(
            "html_bad_utf8",
            F.col("html").isNotNull() & ~F.expr("is_valid_utf8(html)"),
        )
        .withColumn("html_len", F.length("html"))
    )


def light_features(features: DataFrame) -> DataFrame:
    """The cache-friendly projection: every derived column, no payloads."""
    return features.drop("html", "text")


# lgK of the url/host cardinality sketch: ~0.8% relative standard error,
# what HLL++ gave at rsd 0.01
URL_SKETCH_LGK = 14


def sketch_count_distinct(col: str | Column, lg_k: int) -> Column:
    """Approximate distinct count of ``col`` (nulls ignored, 0 for an
    all-null group) with Spark's DataSketches HLL sketch: one compact
    binary field per group, where HLL++ at rsd 0.01 carries 1,639 longs
    whose projection code every task regenerates.

    The estimate reads the sketch's self-union, not the aggregate
    itself.  The aggregate's estimate carries an update-history
    accumulator, so it moves with how many partial sketches a group's
    rows were split across; the union estimates from the registers
    alone, which are the same at any input partitioning.  The
    per-partition resume contract (plans/lineage.py) needs that."""
    s = F.hll_sketch_agg(col, lg_k)
    return F.hll_sketch_estimate(F.hll_union(s, s))


def partition_stats(features: DataFrame, exact: bool = False) -> DataFrame:
    """One shuffle, every scalar statistic.

    ``exact=False`` counts url and host cardinality with the DataSketches
    HLL sketch at lgK 14 (`sketch_count_distinct`) — the direct heir of
    the unique-values-ratio bit-depth method (bit_depth.rs:199-250) and
    the north rule's uniqueness check.  ``exact=True`` is the small-scale
    oracle (`count_distinct`).
    """
    distinct_urls = (
        F.count_distinct("url") if exact
        else sketch_count_distinct("url", URL_SKETCH_LGK)
    )
    distinct_hosts = (
        F.count_distinct("host") if exact
        else sketch_count_distinct("host", URL_SKETCH_LGK)
    )
    cond = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    extra = []
    if "host_known" in features.columns:
        # Bloom-probe misses counted in the SAME pass — the referential
        # check costs zero extra scans (SURVEY.md §2.3: fact side is never
        # joined, only probed)
        extra.append(
            cond(F.col("host").isNotNull() & ~F.col("host_known")).alias(
                "n_unknown_hosts"
            )
        )
    if "ex_compared" in features.columns:
        # fused single-scan mode: extraction-identity counts already ride
        # the feature rows (operators/fused.py)
        extra.append(cond(F.col("ex_compared")).alias("n_ex_compared"))
        extra.append(cond(F.col("ex_mismatch")).alias("n_ex_mismatch"))
    for c in features.columns:
        # schema-conformance flags (operators/schema_check.py) counted in
        # the SAME single wide pass — the namesake check costs no extra scan
        if c.startswith("sv_"):
            extra.append(cond(F.col(c)).alias(f"n_{c}"))
    return features.groupBy("p_day").agg(
        *extra,
        F.count(F.lit(1)).alias("n_rows"),
        distinct_urls.alias("n_urls_distinct"),
        distinct_hosts.alias("n_hosts_distinct"),
        cond(F.col("url").isNull()).alias("url_nulls"),
        cond(F.col("html_is_null")).alias("html_nulls"),
        cond(F.col("text_is_null")).alias("text_nulls"),
        cond(F.col("lang").isNull()).alias("lang_nulls"),
        cond(F.col("warc_ts").isNull()).alias("warc_ts_nulls"),
        # full-coverage undecodable-payload count via the precomputed
        # is_valid_utf8 flag: the ExtractionError gate is exact over ALL
        # rows at zero Python cost — the corrupt-packet count
        # (decoder.rs:138-143) without running the extractor.
        cond(F.col("html_bad_utf8")).alias("n_html_bad_utf8"),
        cond(F.col("text_len") < SHORT_TEXT_LEN).alias("n_short_text"),
        cond(F.col("text_len") > LONG_TEXT_LEN).alias("n_long_text"),
        F.min("text_len").alias("len_min"),
        F.max("text_len").alias("len_max"),
        F.avg("text_len").alias("len_avg"),
        # dispersion + cross-column agreement in the SAME pass:
        # stddev_pop is the consistency statistic (stddev-based confidence,
        # spectral.rs:381-392) and Pearson corr(html_len, text_len) is the
        # two-channel correlation heir (stereo.rs:142-166) — extracted text
        # length should track its html source; decorrelation marks a
        # partition whose payloads and text columns disagree
        F.stddev_pop("text_len").alias("len_stddev"),
        # Pearson corr spelled as covar_pop/(std*std): identical to F.corr
        # (the n-1 factors cancel) but try_divide-safe — ANSI mode makes
        # F.corr raise DIVIDE_BY_ZERO on a zero-variance partition, and a
        # degenerate partition must yield null, not kill the run
        F.try_divide(
            F.covar_pop("html_len", "text_len"),
            F.stddev_pop("html_len") * F.stddev_pop("text_len"),
        ).alias("corr_html_text"),
        F.percentile_approx("text_len", [0.5, 0.95], 2_000).alias("len_p50_p95"),
        F.max("html_len").alias("html_len_max"),
        F.min("warc_ts").alias("ts_min"),
        F.max("warc_ts").alias("ts_max"),
    ).select(
        "*",
        F.col("len_p50_p95")[0].alias("len_p50"),
        F.col("len_p50_p95")[1].alias("len_p95"),
    ).drop("len_p50_p95")


def distribution_counts(features: DataFrame, column: str) -> DataFrame:
    """(p_day, column_name, bin, count, total) for one binned column."""
    from pyspark.sql import Window as W

    bin_col = {"lang": "lang_bin", "text_len": "len_bin"}[column]
    counts = features.groupBy("p_day", F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).alias("count")
    )
    w = W.partitionBy("p_day")
    return counts.select(
        "p_day",
        F.lit(column).alias("column_name"),
        F.coalesce(F.col("bin"), F.lit("__null__")).alias("bin"),
        "count",
        F.sum("count").over(w).alias("total"),
    )


def distribution_counts_all(features: DataFrame) -> DataFrame:
    """Both drift histograms (lang + text_len) in ONE shuffle via
    GROUPING SETS — the reference's per-band bucketed aggregations
    (stereo.rs:169-265) generalized; SURVEY.md §2.4 names rollup/grouping
    sets as the engine's sub-report mechanism.  Output schema matches
    unioned distribution_counts()."""
    from pyspark.sql import Window as W

    grouped = (
        features.groupingSets(
            [["p_day", "lang_bin"], ["p_day", "len_bin"]],
            "p_day", "lang_bin", "len_bin",
        ).agg(
            F.count(F.lit(1)).alias("count"),
            # grouping() is only legal inside the agg; 1 = the column was
            # aggregated away in this grouping set
            F.grouping("len_bin").alias("_g_len"),
        )
    )
    column_name = F.when(F.col("_g_len") == 1, F.lit("lang")).otherwise(
        F.lit("text_len")
    )
    bin_col = F.when(F.col("_g_len") == 1, F.col("lang_bin")).otherwise(
        F.col("len_bin")
    )
    counts = grouped.select(
        "p_day",
        column_name.alias("column_name"),
        F.coalesce(bin_col, F.lit("__null__")).alias("bin"),
        "count",
    )
    w = W.partitionBy("p_day", "column_name")
    return counts.withColumn("total", F.sum("count").over(w))


def weighted_delta(df: DataFrame, value_col: str, part_cols: list[str],
                   order_cols: list[str], half_width: int = 2) -> DataFrame:
    """MFCC-style WEIGHTED delta-regression window (mfcc.rs:276-305): the
    reference's delta coefficient is a weighted least-squares slope over
    a ±N frame window,

        delta[t] = sum_{n=1..N} n * (x[t+n] - x[t-n]) / (2 * sum n^2)

    with replicate-edge padding at sequence boundaries.  Also emits the
    triangular-weighted window mean sum(w·x)/sum(w) with w = N+1-|n| —
    the weighted-window aggregation shape itself.

    Spark expression: each relative offset is its own lead/lag column
    (built-in window functions, whole-stage codegen — weights that depend
    on the relative position inside the frame are not expressible with a
    frame-aggregate like avg(), but a fixed ±N window unrolls into 2N
    offset columns over ONE Window spec, so the whole kernel costs one
    shuffle-and-sort and no UDF).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*part_cols).orderBy(*order_cols)
    x = F.col(value_col)

    def off(n: int):
        if n == 0:
            return x
        shifted = (
            F.lead(value_col, n).over(w) if n > 0
            else F.lag(value_col, -n).over(w)
        )
        return F.coalesce(shifted, x)  # replicate-edge padding

    norm = 2 * sum(n * n for n in range(1, half_width + 1))
    delta = sum(
        (F.lit(float(n)) * (off(n) - off(-n)) for n in range(1, half_width + 1)),
        F.lit(0.0),
    ) / F.lit(float(norm))
    wsum = sum(
        (F.lit(float(half_width + 1 - abs(n))) * off(n)
         for n in range(-half_width, half_width + 1)),
        F.lit(0.0),
    )
    wtot = float(sum(half_width + 1 - abs(n)
                     for n in range(-half_width, half_width + 1)))
    return df.select(
        *part_cols,
        *order_cols,
        F.round(delta, 6).alias("delta_w"),
        F.round(wsum / F.lit(wtot), 6).alias("tri_wmean"),
    )
