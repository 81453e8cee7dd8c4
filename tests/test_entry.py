"""Driver-contract smoke: entry() returns rows with a stable schema and
every queries() entry runs at sf0.001 (the full DuckDB oracle comparison
lives in scripts/check_oracles.py and the driver's own gate)."""

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"source", "quality_score", "passed"} <= set(df.columns)


def test_queries_and_oracles_aligned():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_all_queries_run(spark):
    for name, fn in E.queries().items():
        df = fn(spark, SF)
        assert df.count() >= 0, name


def test_cosine_pairs_skips_ragged_vectors(spark, tmp_path):
    """A vector of another length has no dot product with the rest of
    its label block (DuckDB's list_dot_product rejects such a pair):
    the kernel must not zero-pad it into a match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from audio_quality_checker_spark.entry_queries import q_cosine_pairs

    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2, 3], pa.int64()),
            "embedding": pa.array([[1.0, 0.0, 0.0], [1.0, 0.0, 0.0],
                                   [1.0, 0.0]], pa.list_(pa.float32())),
            "label": pa.array([7, 7, 7], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    got = {(r["vec_a"], r["vec_b"], r["cosine"])
           for r in q_cosine_pairs(spark, str(tmp_path)).collect()}
    assert got == {(1, 2, 1.0)}
