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


def test_quantiles_fallback_matches_bucket_route(spark, tmp_path,
                                                 monkeypatch):
    """With no driver budget the target buckets are not collected and the
    (value, frequency) percentile route answers instead: same rows."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from audio_quality_checker_spark import session
    from audio_quality_checker_spark.entry_queries import q_quantiles

    rng = random.Random(3)
    rows = [("A", float(rng.randint(1, 50)), round(rng.uniform(1, 1e4), 2))
            for _ in range(400)]
    rows += [("N", 5.0, 7.0)] * 20              # constant price
    rows += [("R", 1.0, None), ("R", 2.0, None)]  # all-null price
    flag, qty, price = zip(*rows)
    pq.write_table(
        pa.table({"l_returnflag": pa.array(flag, pa.string()),
                  "l_quantity": pa.array(qty, pa.float64()),
                  "l_extendedprice": pa.array(price, pa.float64())}),
        tmp_path / "lineitem.parquet",
    )
    want = sorted(q_quantiles(spark, str(tmp_path)).collect())
    monkeypatch.setattr(session, "driver_budget_bytes", lambda spark: 0)
    assert sorted(q_quantiles(spark, str(tmp_path)).collect()) == want
    assert len(want) == 3
