"""Cross-crawl incremental dedup: today's crawl against ALL prior crawls.

The batch dedup family (operators/dedup.py) deduplicates ONE corpus.
Real ingestion is incremental: crawl N must be deduplicated against the
union of crawls 1..N-1 without ever re-joining the historical state
against itself.  This module persists the MinHash signature table as the
durable dedup state and bands only NEW x STATE and NEW x NEW candidate
pairs:

    state table: (doc_id long, sig array<bigint>, crawl_id string)
        partitioned by crawl_id (sources/catalog.write_partitioned —
        Iceberg overwritePartitions when available, dynamic-overwrite
        parquet otherwise)

    dedup_against(state_sigs, new_sigs):
        band both sides with the SAME band hashing as
        lsh_candidate_pairs, join new-banded (small) against
        all-banded on (band_idx, band_hash), and keep a pair only when
        the left side is NEW — state x state pairs are structurally
        excluded from the join output, so each ingest pays
        O(new * bands) explode + one hash join keyed on the band
        bucket, never O(state^2) and never a rescan-join of history
        against itself.

    ingest_crawl(...): the resumable protocol — find dups, drop
        duplicate docs (keep-one within the new crawl via connected
        components, drop anything matching state), append the
        SURVIVORS' signatures under the crawl's partition.  The append
        is a deterministic per-partition overwrite, so a crashed or
        repeated ingest of the same crawl converges to byte-identical
        state (the plans/lineage.py idempotency pattern); re-ingesting
        an already-ingested crawl is a no-op by value.

At 10^12 docs the state table is ~1 KB/doc of signatures partitioned by
crawl; banding the new crawl is linear in its size, and the join
shuffles only band-bucket matches.  Bucketing the state table on
band_hash at write time would co-locate the join at the cost of a 32x
larger state footprint (one row per band) — the signature-per-doc
layout re-bands state per ingest instead, trading CPU for storage;
both are linear, neither is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from audio_quality_checker_spark.operators.dedup import (
    _banded_sigs,
    minhash_signatures,
)


def dedup_against(state_sigs: DataFrame, new_sigs: DataFrame,
                  id_col: str = "doc_id", n_hashes: int = 128,
                  bands: int = 32, threshold: float = 0.7) -> DataFrame:
    """(id_a, id_b, est_jaccard): every near-dup pair involving at least
    one NEW document — new x state and new x new, never state x state.
    Pair ids are canonicalized (id_a < id_b); estimates come from full
    signature agreement exactly as in minhash_near_dups, so the pair
    set equals the batch operator's output restricted to pairs touching
    the new crawl (asserted by the bounds gate)."""
    tagged = state_sigs.select(
        F.col(id_col).alias("_id"), "sig", F.lit(False).alias("_new")
    ).unionByName(
        new_sigs.select(
            F.col(id_col).alias("_id"), "sig", F.lit(True).alias("_new")
        )
    )
    tagged.persist()
    tagged.count()  # eager: banding + both verify sides reference it
    banded = _banded_sigs(tagged, "_id", bands, n_hashes,
                          extra_cols=("_new",))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            # left side is always NEW; right side is state (any id) or a
            # strictly-larger new id — state x state never joins, and
            # new x new pairs appear exactly once
            & F.col("a._new")
            & (~F.col("b._new") | (F.col("a._id") < F.col("b._id")))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
        .distinct()
    )
    sa = tagged.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = tagged.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.size("sig_a")
    )
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )
    # materialize the pair output, then release the tagged-union cache:
    # a long-lived session calls this once per ingested crawl, so a
    # leaked persist here accumulates one cached frame per call for the
    # session's lifetime.  The returned frame is persisted; callers that
    # are done with it may `.unpersist()` it.
    out.persist()
    out.count()
    tagged.unpersist()
    return out


def dedup_against_simhash(state_sigs: DataFrame, new_sigs: DataFrame,
                          id_col: str = "doc_id", max_hamming: int = 6,
                          table_cap: int = 128) -> DataFrame:
    """(id_a, id_b, hamming): every SimHash pair within `max_hamming`
    bits involving at least one NEW document — the SimHash twin of
    `dedup_against` for pipelines whose stored state is the 64-bit
    signature (8 bytes/doc instead of 1 KB of MinHash components).
    Same structural guarantee: state x state pairs cannot appear in the
    join output; recall within the radius is COMPLETE on the
    new-touching universe (Manku multi-table construction, same tables
    both sides)."""
    from audio_quality_checker_spark.operators.dedup import (
        _multitable_banded,
    )

    tagged = state_sigs.select(
        F.col(id_col).alias("_id"), "simhash", F.lit(False).alias("_new")
    ).unionByName(
        new_sigs.select(
            F.col(id_col).alias("_id"), "simhash", F.lit(True).alias("_new")
        )
    )
    banded = _multitable_banded(tagged, "_id", max_hamming, None,
                                table_cap, extra_cols=("_new",))
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.tbl_idx") == F.col("b.tbl_idx"))
            & (F.col("a.key_hash") == F.col("b.key_hash"))
            & F.col("a._new")
            & (~F.col("b._new") | (F.col("a._id") < F.col("b._id")))
            & (F.col("a._id") != F.col("b._id"))
            & (hamming <= max_hamming),
        )
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def read_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The accumulated signature state, or None before the first crawl.
    Probed by reading, not os.path (driver-local paths are wrong on
    HDFS/S3 — same rationale as plans/lineage._read_lineage)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(state_path)
        df.schema
        return df
    except AnalysisException:
        return None


def _check_state_meta(spark: SparkSession, state_path: str,
                      fields: dict) -> None:
    """Pin the similarity metric a signature state was built with.

    First ingest writes `fields` (e.g. shingle_k/shingle_mode/n_hashes)
    to `{state_path}/_metric` (an underscore-prefixed side table, so the
    partitioned state read ignores it); every later ingest re-reads it
    and REFUSES on mismatch — signatures under different shingle
    parameters are numerically comparable but semantically incompatible,
    the exact silent-recall failure class round 5 fixed in the guarded
    surface (candidate metric != verify metric).  The docstring warning
    alone did not enforce this (round-5 ADVICE)."""
    from pyspark.errors import AnalysisException

    meta_path = f"{state_path.rstrip('/')}/_metric"
    try:
        stored = spark.read.parquet(meta_path).collect()
    except AnalysisException:
        stored = []
    if stored:
        got = {k: stored[0][k] for k in fields}
        if got != fields:
            raise ValueError(
                f"state at {state_path} was built with metric {got}; "
                f"this ingest requests {fields} — incompatible "
                "signatures. Use a new state_path (different metric = "
                "different dedup, not a resume)."
            )
    else:
        schema = ", ".join(
            f"{k} {'string' if isinstance(v, str) else 'int'}"
            for k, v in fields.items()
        )
        spark.createDataFrame([tuple(fields.values())], schema) \
            .coalesce(1).write.mode("overwrite").parquet(meta_path)


def ingest_crawl(spark: SparkSession, new_docs: DataFrame, state_path: str,
                 crawl_id: str, id_col: str = "doc_id",
                 text_col: str = "text", n_hashes: int = 128,
                 bands: int = 32, threshold: float = 0.7,
                 shingle_k: int = 5, shingle_mode: str = "word") -> dict:
    """Resumable incremental ingest: dedup `new_docs` against the stored
    state, keep one representative per within-crawl cluster, drop
    anything duplicating history, append survivors' signatures under
    partition crawl_id.  Returns counters.  Deterministic end-to-end,
    and the state append overwrites only this crawl's partition — a
    killed/re-run ingest converges to identical state (tested).

    `shingle_k` / `shingle_mode` pick the similarity metric of the
    stored signatures (see minhash_near_dups' metric note): the
    default 5-word shingles measure sequence overlap (copy detection),
    shingle_k=1 measures token-set jaccard (template/boilerplate
    dedup).  The state table commits to ONE metric — recorded in a
    `_metric` side table on first ingest and ENFORCED on every later
    one (mismatched k/mode/n_hashes raises instead of silently
    comparing incompatible signatures)."""
    from audio_quality_checker_spark.operators.components import (
        connected_components,
    )
    from audio_quality_checker_spark.sources.catalog import write_partitioned

    _check_state_meta(spark, state_path, {
        "shingle_k": shingle_k, "shingle_mode": shingle_mode,
        "n_hashes": n_hashes,
    })
    new_sigs = minhash_signatures(new_docs, id_col, text_col, n_hashes,
                                  shingle_k=shingle_k,
                                  shingle_mode=shingle_mode)
    new_sigs.persist()
    n_new = new_sigs.count()

    state = read_state(spark, state_path)
    if state is None:
        state = spark.createDataFrame(
            [], f"{id_col} long, sig array<bigint>, crawl_id string"
        )
    pairs = dedup_against(
        state, new_sigs, id_col, n_hashes, bands, threshold
    )  # returned persisted + materialized
    n_pairs = pairs.count()

    state_ids = state.select(F.col(id_col).alias("_sid")).distinct()
    # new docs duplicating HISTORY: dropped outright
    vs_state = (
        pairs.select(F.col("id_a").alias("_sid"), F.col("id_b").alias("nid"))
        .join(state_ids, "_sid")
        .select("nid")
        .unionByName(
            pairs.select(
                F.col("id_b").alias("_sid"), F.col("id_a").alias("nid")
            )
            .join(state_ids, "_sid")
            .select("nid")
        )
        .distinct()
    )
    # within-crawl clusters: keep the minimum id of each component
    new_pairs = pairs.join(
        state_ids, pairs.id_a == state_ids._sid, "left_anti"
    ).join(state_ids, pairs.id_b == state_ids._sid, "left_anti")
    comp_losers = (
        connected_components(new_pairs.select("id_a", "id_b"))
        .where(F.col("component") != F.col("doc_id"))
        .select(F.col("doc_id").alias("nid"))
        if new_pairs.limit(1).count()
        else spark.createDataFrame([], "nid long")
    )
    dropped = vs_state.unionByName(comp_losers).distinct()
    # persist + count dropped BEFORE write_partitioned mutates
    # state_path: both the counter and the survivors write plan below
    # would otherwise re-read the just-overwritten state table if any
    # upstream cache were evicted (the write must depend only on
    # materialized inputs: new_sigs and dropped)
    dropped.persist()
    n_dropped = dropped.count()
    survivors = new_sigs.join(
        dropped.select(F.col("nid").alias(id_col)), id_col, "left_anti"
    ).withColumn("crawl_id", F.lit(crawl_id))
    write_partitioned(survivors, state_path, "crawl_id")
    dropped.unpersist()
    pairs.unpersist()
    new_sigs.unpersist()
    return {
        "crawl_id": crawl_id,
        "n_new_docs": n_new,
        "n_dup_pairs": n_pairs,
        "n_dropped": n_dropped,
        "n_survivors": n_new - n_dropped,
    }


def dedup_against_embedding(state_sk: DataFrame, new_sk: DataFrame,
                            vectors: DataFrame, n_bits: int = 128,
                            band_bits: int = 16,
                            threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """(id_a, id_b, cosine): embedding-cosine near-dup pairs touching at
    least one NEW vector — the embedding twin of `dedup_against`.  Both
    sides are (id, sketch) frames of packed sign sketches
    (similarity.binary_signatures — the state stores 16 bytes/vector at
    the 128-bit default); `vectors` supplies raw embeddings for the
    exact-cosine verify (at scale this is the corpus vector table — the
    state never duplicates payloads, same rationale as the ANN index).

    Same structural guarantee as the MinHash/SimHash twins: the banded
    candidate join requires the left side NEW, so state x state pairs
    cannot appear; candidate recall follows the sign-LSH band math of
    embedding_near_dups and every emitted cosine is exact."""
    from audio_quality_checker_spark.operators.similarity import (
        _cos,
        _sketch_bands,
    )

    tagged = state_sk.select(
        F.col(id_col).alias("_id"), "sketch", F.lit(False).alias("_new")
    ).unionByName(
        new_sk.select(
            F.col(id_col).alias("_id"), "sketch", F.lit(True).alias("_new")
        )
    )
    tagged.persist()
    tagged.count()  # both banding sides reference it
    banded = _sketch_bands(
        tagged.withColumnRenamed("_id", id_col), id_col, n_bits,
        band_bits, extra_cols=("_new",)
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & F.col("a._new")
            & (~F.col("b._new") | (F.col("a._vid") < F.col("b._vid")))
            & (F.col("a._vid") != F.col("b._vid")),
        )
        .select(
            F.least("a._vid", "b._vid").alias("id_a"),
            F.greatest("a._vid", "b._vid").alias("id_b"),
        )
        .distinct()
    )
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(_cos("qv", "cv"), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
    out.persist()
    out.count()
    tagged.unpersist()
    return out


def ingest_crawl_embedding(spark: SparkSession, new_vecs: DataFrame,
                           state_path: str, crawl_id: str, dim: int,
                           n_bits: int = 128, band_bits: int = 16,
                           threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           history_vecs: DataFrame | None = None) -> dict:
    """Resumable embedding-dedup ingest: sketch the new crawl's vectors,
    find near-dup pairs against the accumulated sketch state, drop new
    vectors duplicating history (and keep one representative per
    within-crawl cluster), append survivors' sketches under partition
    crawl_id.  `history_vecs` supplies raw vectors for the exact verify
    of NEW x STATE candidates (the corpus vector table; None before the
    first crawl).  Same idempotency contract as ingest_crawl: the state
    append is a deterministic per-partition overwrite."""
    from audio_quality_checker_spark.operators.components import (
        connected_components,
    )
    from audio_quality_checker_spark.operators.similarity import (
        binary_signatures,
    )
    from audio_quality_checker_spark.sources.catalog import write_partitioned

    _check_state_meta(spark, state_path, {
        "dim": dim, "n_bits": n_bits, "band_bits": band_bits,
    })
    new_sk = binary_signatures(new_vecs, dim, n_bits, id_col, vec_col)
    new_sk.persist()
    n_new = new_sk.count()

    state = read_state(spark, state_path)
    if state is None:
        state = spark.createDataFrame(
            [], f"{id_col} long, sketch array<bigint>, crawl_id string"
        )
    vectors = (
        new_vecs.select(id_col, vec_col)
        if history_vecs is None
        else new_vecs.select(id_col, vec_col).unionByName(
            history_vecs.select(id_col, vec_col)
        )
    )
    pairs = dedup_against_embedding(
        state, new_sk, vectors, n_bits, band_bits, threshold, id_col,
        vec_col,
    )  # returned persisted + materialized
    n_pairs = pairs.count()

    state_ids = state.select(F.col(id_col).alias("_sid")).distinct()
    vs_state = (
        pairs.select(F.col("id_a").alias("_sid"), F.col("id_b").alias("nid"))
        .join(state_ids, "_sid")
        .select("nid")
        .unionByName(
            pairs.select(
                F.col("id_b").alias("_sid"), F.col("id_a").alias("nid")
            )
            .join(state_ids, "_sid")
            .select("nid")
        )
        .distinct()
    )
    new_pairs = pairs.join(
        state_ids, pairs.id_a == state_ids._sid, "left_anti"
    ).join(state_ids, pairs.id_b == state_ids._sid, "left_anti")
    comp_losers = (
        connected_components(new_pairs.select("id_a", "id_b"))
        .where(F.col("component") != F.col("doc_id"))
        .select(F.col("doc_id").alias("nid"))
        if new_pairs.limit(1).count()
        else spark.createDataFrame([], "nid long")
    )
    dropped = vs_state.unionByName(comp_losers).distinct()
    dropped.persist()
    n_dropped = dropped.count()
    survivors = new_sk.join(
        dropped.select(F.col("nid").alias(id_col)), id_col, "left_anti"
    ).withColumn("crawl_id", F.lit(crawl_id))
    write_partitioned(survivors, state_path, "crawl_id")
    dropped.unpersist()
    pairs.unpersist()
    new_sk.unpersist()
    return {
        "crawl_id": crawl_id,
        "n_new_docs": n_new,
        "n_dup_pairs": n_pairs,
        "n_dropped": n_dropped,
        "n_survivors": n_new - n_dropped,
    }
