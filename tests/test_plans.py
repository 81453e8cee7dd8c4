"""Plan-shape regression tests: the load-bearing physical-plan
invariants that PLANS.md documents, asserted in CI so a Catalyst-plan
regression fails a test instead of silently aging the doc (round-3
verdict #8).  Shapes, not sizes: each test greps `explain("formatted")`
output for the structural property the operator's scale story depends
on."""

import io
import re
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Distinct Exchange NODES (formatted explain prints each node twice:
    once in the tree as `Exchange (4)`, once as the `(4) Exchange`
    detail header)."""
    return len(set(re.findall(r"Exchange \((\d+)\)", plan)))


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from audio_quality_checker_spark.sources.pages import gen_pages_pdf

    root = str(tmp_path_factory.mktemp("plans") / "pages")
    spark.createDataFrame(gen_pages_pdf(40)).write.mode(
        "overwrite"
    ).partitionBy("p_day").parquet(root)
    return root


def test_partition_pruning_reaches_the_scan(spark, pages_parquet):
    """A p_day predicate must appear as PartitionFilters (file-granular
    skip — the resume path's prune), not merely a post-scan Filter."""
    pages = spark.read.parquet(pages_parquet)
    plan = fmt(pages.where(F.col("p_day") == "2025-11-01").select("url"))
    lower = plan.lower()
    assert "partitionfilters" in lower
    # the partition filter block actually carries the p_day predicate
    seg = lower.split("partitionfilters", 1)[1][:200]
    assert "p_day" in seg, plan


def test_payload_scan_is_column_pruned(spark, pages_parquet):
    """The extraction-identity path reads only (p_day, html, text):
    ReadSchema must not include url/lang/warc_ts — payloads never ride
    a wider scan."""
    pages = spark.read.parquet(pages_parquet)
    plan = fmt(pages.select("p_day", "html", "text"))
    seg = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "html" in seg and "text" in seg
    for col in ("url", "lang", "warc_ts"):
        assert col not in seg, f"{col} leaked into the payload scan: {seg}"


def test_partition_stats_single_exchange(spark, pages_parquet):
    """Every scalar stat of the one-pass agg rides ONE shuffle: exactly
    one Exchange (partial+final HashAggregate around it)."""
    from audio_quality_checker_spark.operators.stats import (
        derive_row_features,
        light_features,
        partition_stats,
    )

    pages = spark.read.parquet(pages_parquet)
    plan = fmt(partition_stats(light_features(derive_row_features(pages))))
    assert n_exchanges(plan) == 1, plan


def test_grouping_sets_histograms_single_agg_exchange(spark, pages_parquet):
    """Both drift histograms come from ONE Expand + ONE aggregation
    Exchange — not two separate groupBy scans.  (A second Exchange
    legitimately feeds the normalization Window's sort; anything beyond
    those two is a regression.)"""
    from audio_quality_checker_spark.operators.stats import (
        derive_row_features,
        distribution_counts_all,
        light_features,
    )

    pages = spark.read.parquet(pages_parquet)
    plan = fmt(
        distribution_counts_all(light_features(derive_row_features(pages)))
    )
    assert len(set(re.findall(r"Expand \((\d+)\)", plan))) == 1, plan
    assert n_exchanges(plan) <= 2, plan


def test_chunk_explode_zero_exchange(spark):
    """Chunked per-row expansion is a streaming Generate — NO shuffle
    anywhere in the plan."""
    from audio_quality_checker_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a " * 500, "b " * 900]})
    )
    plan = fmt(chunk_documents(df))
    assert "Generate" in plan
    assert n_exchanges(plan) == 0, plan


def test_price_band_join_broadcasts_the_tiny_dimension(spark):
    """The band dimension is literal-sized: the join must be a broadcast
    (no shuffle of the big side on a join key)."""
    from audio_quality_checker_spark.entry_queries import q_price_band_join

    plan = fmt(q_price_band_join(spark, "/root/testdata/sf0.001"))
    assert "Broadcast" in plan, plan


def test_lsh_candidate_join_is_bucket_keyed(spark):
    """The LSH candidate join must be an equi-join keyed on the band
    bucket — never a nested-loop/cartesian over all pairs (at 10^12 docs
    the quadratic stage must not exist in the plan)."""
    from audio_quality_checker_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(8), "text": [f"w{i} x{i} y{i} z{i}" for i in range(8)]}
        )
    )
    plan = fmt(lsh_candidate_pairs(minhash_signatures(df), n_hashes=128))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan and "band_hash" in plan


def test_guarded_routes_filter_above_block_count(spark):
    """Both guarded routes must carry their block-size filter (<= cap
    exact route, > cap LSH route) INSIDE the plan — the structural
    guarantee that no unguarded block self-join shape exists at any
    input.  The populations reach the plan as a literal (lang, bucket)
    table, so Catalyst applies each route's filter to that table at
    plan time: a route whose filter keeps no bucket plans as an empty
    relation, with no join at all."""
    from audio_quality_checker_spark.operators.dedup import (
        _guarded_routes,
        jaccard_pairs_guarded,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "lang": ["en"] * 6,
                "text": [f"tok{i}a tok{i}b tok{i}c" for i in range(6)],
            }
        )
    )
    # one 6-doc block: over a cap of 3 only the hot route's class table
    # may read a block, within a cap of 6 only the exact route may
    for cap, empty, joined in ((3, "exact_pairs", "classes"),
                               (6, "classes", "exact_pairs")):
        routes = _guarded_routes(df, "doc_id", "text", "lang", 0.5, cap)
        off, on = fmt(getattr(routes, empty)), fmt(getattr(routes, joined))
        for c in routes.caches:
            c.unpersist()
        assert "Join" not in off and "<empty>" in off, (cap, off)
        assert "Join" in on, (cap, on)
    out = jaccard_pairs_guarded(df, threshold=0.5, block_cap=3)
    plan = fmt(out)
    # block populations arrive as a BROADCAST literal (lang, bucket)
    # table counted once on the driver, not a count window over the
    # exploded payload rows (the round-4 shape shuffled every
    # (doc, toks) row twice just to learn its bucket size)
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    out.unpersist()


def test_bq_topk_candidate_cut_is_two_phase(spark):
    """The hamming top-m prefilter must not funnel a query's full corpus
    through one reducer.  Catalyst's rank-limit pushdown plants a
    partial WindowGroupLimit BELOW the Exchange (each map partition
    ships only its per-query top-m; the exact final window sees <= P*m
    survivors) — this test pins that shape, because an expression
    change that blocks the pushdown would silently reintroduce a
    per-query single-reducer sort of the whole corpus."""
    import re

    import numpy as np

    from audio_quality_checker_spark.operators.similarity import bq_topk

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(64)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = fmt(bq_topk(vecs.limit(4), vecs, dim=16, k=3, n_bits=64))
    # the candidate stage: a partial WindowGroupLimit must appear below
    # the (single) hashpartitioning(query_id) Exchange of the hamming
    # window — node ids in formatted explain increase towards the leaves
    # within a subtree, so the partial limit's id is SMALLER than the
    # final (post-Exchange) one and the Exchange sits between them
    wgl = [int(m) for m in re.findall(r"WindowGroupLimit \((\d+)\)", plan)]
    assert len(set(wgl)) >= 2, f"rank-limit pushdown missing:\n{plan}"


def test_shard_by_weight_has_no_single_partition_funnel(spark):
    """The serpentine rank must be the two-phase distributed rank
    (range-partitioned sort + local rank + broadcast offsets), never an
    unpartitioned row_number window — WindowExec with an empty
    partition spec moves EVERY row into one partition (the round-5
    scale-killer; the bench tail printed its `No Partition Defined`
    warning).  Pin: no Window node and no SinglePartition exchange
    anywhere in the plan; the range exchange is present."""
    from audio_quality_checker_spark.operators.sharding import (
        shard_balance_report,
        shard_by_weight,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("bpe_tokens"),
    )
    out = shard_by_weight(df, 8)
    plan = fmt(out)
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # the narrow global sort is either visible as a range exchange or —
    # since round 7, where the sorted frame is localCheckpoint'ed so its
    # blocks are context-cleaned instead of leaking in the CacheManager —
    # as a checkpointed RDD scan (the range shuffle ran at checkpoint
    # materialization; the no-funnel properties above are unchanged)
    low = plan.lower()
    assert "rangepartitioning" in low or "existingrdd" in low, plan
    # the cosmetic twin: shard_balance_report's grand totals ride a
    # broadcast 1-row aggregate, not an empty-partition window
    plan2 = fmt(shard_balance_report(out))
    assert "Window" not in plan2, plan2


def test_stratified_sample_rank_limit_pushes_down(spark):
    """The per-stratum sample must ride Spark 4's rank-limit pushdown:
    a WindowGroupLimit below the final sort-window, so each map
    partition ships only its local top-n per stratum instead of the
    whole corpus through the stratum windows (same pin class as
    bq_topk's two-phase candidate cut)."""
    from audio_quality_checker_spark.operators.mixing import (
        stratified_sample,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
    )
    plan = fmt(stratified_sample(df, "lang", 10))
    assert "WindowGroupLimit" in plan, plan


def test_budget_mix_has_no_window_funnel(spark):
    """budget_mix's per-stratum running total must be the two-phase
    distributed prefix sum — never a per-stratum WindowExec (one task
    per stratum = a 3*10^10-row task at 10^12 rows / ~30 langs) and
    never an unpartitioned one.  Pin: no Window node anywhere, range
    exchange present, and the join-back is a plain hash join."""
    from audio_quality_checker_spark.operators.mixing import budget_mix

    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") % 29 + 1).alias("n_tokens"),
    )
    plan = fmt(budget_mix(df, 300))
    assert "Window" not in plan, plan
    # range exchange or checkpointed-RDD scan — see the shard pin above
    low = plan.lower()
    assert "rangepartitioning" in low or "existingrdd" in low, plan


def test_contamination_corpus_pass_is_map_only(spark):
    """The corpus job must be a single map-only pass: vectorized gram
    build + broadcast-set probe inside one MapInPandas over the scan —
    no Exchange, no join, no Window anywhere in the corpus plan (the
    eval set ships as a Python broadcast, not a join side)."""
    from audio_quality_checker_spark.operators.mixing import (
        contamination_report,
    )

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat_ws(
            " ", F.lit("alpha beta gamma delta"),
            F.col("id").cast("string")).alias("text"),
    )
    rep = contamination_report(df, df.limit(3), n=4)
    plan = fmt(rep)
    assert "MapInPandas" in plan, plan
    for node in ("Exchange", "Join", "Window", "Sort"):
        assert node not in plan, (node, plan)


def test_line_dedup_is_hash_partitioned_no_quadratic(spark):
    """remove_boilerplate_lines must stay hash-partitioned end to end:
    doc-frequency via map-side-partial distinct on (line_hash, doc)
    then count per line_hash, anti-join back, rebuild grouped on doc.
    Pin: a hashpartitioning exchange on the line hash, a partial
    aggregate below it, and NO cartesian/BNLJ/Window anywhere (the
    boiler set must never become an all-pairs or single-task stage)."""
    from audio_quality_checker_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n", F.lit("shared nav line"),
            F.concat(F.lit("body "), F.col("id").cast("string")),
        ).alias("text"),
    )
    plan = fmt(remove_boilerplate_lines(df, min_doc_freq=3))
    assert "hashpartitioning(line_hash" in plan, plan
    assert "partial_count" in plan, plan
    for node in ("CartesianProduct", "BroadcastNestedLoop", "Window"):
        assert node not in plan, (node, plan)


def test_pii_scrub_is_pure_projection(spark):
    """scrub_pii_col + pii_count_cols must stay inside the projection —
    no Exchange, no UDF/Python node: the scrub is whole-stage-codegen
    regexp work that fuses into the feeding scan."""
    from audio_quality_checker_spark.functions.pii import (
        pii_count_cols, scrub_pii_col,
    )

    df = spark.range(20).select(
        F.concat(F.lit("reach me at a"), F.col("id").cast("string"),
                 F.lit("@b.io")).alias("text"),
    )
    counts = pii_count_cols("text")
    plan = fmt(df.select(scrub_pii_col("text").alias("clean"),
                         *[v.alias(k) for k, v in counts.items()]))
    for node in ("Exchange", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython", "Join"):
        assert node not in plan, (node, plan)
