"""The drift finalize takes the driver route when the histograms fit the
driver byte budget and the distributed route past it; both must give the
same violations (same smoothing, bin universe, ordered-bin KS)."""

from audio_quality_checker_spark import session
from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.operators.drift import drift_violations
from audio_quality_checker_spark.operators.stats import (
    derive_row_features,
    distribution_counts_all,
)


def test_driver_finalize_equals_distributed(spark, golden, monkeypatch,
                                            caplog):
    feats = derive_row_features(golden["pages"]).drop("html", "text")
    dist = distribution_counts_all(feats)
    dist.persist()
    n_parts = dist.select("p_day").distinct().count()
    suite = CheckSuite()

    def key(rows):
        return sorted(
            (r["partition_key"], r["violation_type"], r["column_name"],
             r["confidence"], r["evidence"])
            for r in rows
        )

    def run():
        caplog.clear()
        with caplog.at_level("INFO", logger=session.__name__):
            rows = drift_violations(dist, golden["baseline"], suite,
                                    n_parts).collect()
        [route] = [r.message for r in caplog.records
                   if r.message.startswith("drift.histograms")]
        return key(rows), route

    driver, route = run()
    assert " within " in route, route
    monkeypatch.setattr(session, "driver_budget_bytes", lambda spark: 0)
    distributed, route = run()
    assert " over " in route, route
    assert driver == distributed
    assert distributed, "golden corpus must produce drift violations"
    dist.unpersist()
