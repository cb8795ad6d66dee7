"""Grouped-map (applyInPandas) per-key modeling equals the native
regr_slope/regr_intercept formulation — the two paths must agree
exactly (ml/grouped.py docstring contract)."""

from __future__ import annotations

import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.ml.grouped import per_key_linear_forecast
from stock_price_prediction_using_stream_and_batch_processing_spark.plans.core import full_query_map
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_grouped_map_equals_native_regression(spark):
    native = {
        r.user_id: r for r in full_query_map()["trend_forecast_per_user"](spark, SF).collect()
    }
    ev = load_table(spark, SF, "events")
    grouped = {
        r.user_id: r
        for r in per_key_linear_forecast(ev, "user_id", "ts", "value", tiebreak="event_id").collect()
    }
    assert set(native) == set(grouped)
    for uid, n in native.items():
        g = grouped[uid]
        assert g.n_obs == n.n_obs
        # the native query rounds slope/intercept to 4dp (oracle
        # boundary-robustness), so compare at that scale
        assert round(g.slope, 4) == pytest.approx(n.slope, abs=2e-4)
        assert round(g.intercept, 4) == pytest.approx(n.intercept, abs=2e-4)
        assert round(g.forecast_next, 4) == pytest.approx(n.forecast_next, abs=2e-4)


def test_grouped_forecast_tiebreak_equals_ts(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.ml.grouped import per_key_linear_forecast

    df = spark.createDataFrame(
        [("s", float(i), float(i) * 2.0) for i in range(5)], "symbol string, timestamp double, price double"
    )
    out = per_key_linear_forecast(df, "symbol", "timestamp", "price", tiebreak="timestamp").collect()
    assert len(out) == 1 and out[0]["slope"] == pytest.approx(2.0)
