"""Parity tests: the engine's window/scale/predict pipeline vs a NumPy
re-derivation of the reference's exact math (SURVEY §5 strategy 2).

The reference's computation (/root/reference, cited per test) is small
enough to mirror literally: trailing-5 scale→predict→unscale
(stream_consumer.py:50-54) and the sliding-60 window loop
(batch_processor.py:88-101). Both sides use the deterministic
LinearWindowModel so the comparison is exact (the Keras LSTM is an
artifact swap, not a semantic change — ml/predictor.py).
"""

from __future__ import annotations

import numpy as np
import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.functions.scaling import (
    REFERENCE_SCALER_MAX,
    REFERENCE_SCALER_MIN,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.ml.inference import predict_over_windows
from stock_price_prediction_using_stream_and_batch_processing_spark.ml.predictor import LinearWindowModel
from stock_price_prediction_using_stream_and_batch_processing_spark.operators import joins, windows
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import generate_ticks, ticks_dataframe

MN, MX = REFERENCE_SCALER_MIN, REFERENCE_SCALER_MAX


def numpy_predict(prices: list[float], seq_len: int) -> list[float]:
    """Literal mirror of the reference pipeline: min-max scale with
    scaler.pkl constants, slide length-``seq_len`` windows, one batched
    predict, inverse scale (stream_consumer.py:50-54 for seq_len=5,
    batch_processor.py:88-101 for seq_len=60)."""
    arr = (np.asarray(prices, dtype=np.float64) - MN) / (MX - MN)
    if len(arr) < seq_len:
        return []
    wins = np.stack([arr[i : i + seq_len] for i in range(len(arr) - seq_len + 1)])
    model = LinearWindowModel(seq_len)
    preds = model.predict(wins)
    return (preds * (MX - MN) + MN).tolist()


@pytest.mark.parametrize("seq_len,n", [(5, 37), (60, 200)])
def test_sliding_window_predictions_match_numpy(spark, seq_len, n):
    df = ticks_dataframe(spark, n)
    win = windows.trailing_collect(df, "symbol", "timestamp", "price", seq_len)
    pred = predict_over_windows(win, "window_values", seq_len=seq_len)
    got = [
        r.predicted_price
        for r in pred.orderBy("timestamp").select("predicted_price").collect()
    ]
    want = numpy_predict([t["price"] for t in generate_ticks(n)], seq_len)
    assert len(got) == n - seq_len + 1 == len(want)
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_sliding_window_count_matches_reference_loop(spark):
    # batch_processor.py:93 `for i in range(len(scaled) - sequence_length)`
    # produces len-60 windows; our full_only trailing window yields
    # len(prices) - 60 + 1 (the reference loop off-by-one SKIPS the final
    # window — we keep it; parity on contents is checked index-aligned).
    n, seq_len = 150, 60
    df = ticks_dataframe(spark, n)
    win = windows.trailing_collect(df, "symbol", "timestamp", "price", seq_len)
    rows = win.orderBy("timestamp").select("window_values").collect()
    prices = [t["price"] for t in generate_ticks(n)]
    assert len(rows) == n - seq_len + 1
    for i, r in enumerate(rows):
        assert r.window_values == pytest.approx(prices[i : i + seq_len])


def test_trailing5_last_window_matches_stream_semantics(spark):
    # stream_consumer.py:72-76: sort batch by timestamp, take last 5
    # prices, predict once. Equivalent to the FINAL row of our trailing
    # window over the same batch.
    n = 23
    df = ticks_dataframe(spark, n)
    win = windows.trailing_collect(df, "symbol", "timestamp", "price", 5)
    pred = predict_over_windows(win, "window_values", seq_len=5)
    last = pred.orderBy("timestamp").collect()[-1]
    prices = [t["price"] for t in generate_ticks(n)]
    assert last.window_values == pytest.approx(prices[-5:])
    assert last.predicted_price == pytest.approx(numpy_predict(prices, 5)[-1], rel=1e-12)


def test_scaler_roundtrip_constants(spark):
    # scaler.pkl inspected values (FIXTURES.md); scale→unscale must be
    # identity to float precision on representative prices.
    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.functions.scaling import minmax_scale, minmax_unscale

    df = spark.range(1).select(*[F.lit(p).alias(f"p{i}") for i, p in enumerate([170.76, 180.0, 189.02])])
    out = df.select(
        *[minmax_unscale(minmax_scale(F.col(f"p{i}"))).alias(f"r{i}") for i in range(3)]
    ).collect()[0]
    assert list(out) == pytest.approx([170.76, 180.0, 189.02], rel=1e-14)


def test_multi_symbol_windows_are_per_key(spark):
    # The reference is single-symbol (producer.py:12); the engine must
    # partition windows BY symbol so multi-series data never bleeds
    # across keys.
    n = 60
    df = ticks_dataframe(spark, n, symbols=("AAPL", "MSFT", "GOOG"))
    win = windows.trailing_collect(df, "symbol", "timestamp", "price", 5)
    ticks = generate_ticks(n, symbols=("AAPL", "MSFT", "GOOG"))
    by_sym = {}
    for t in ticks:
        by_sym.setdefault(t["symbol"], []).append(t["price"])
    for sym, prices in by_sym.items():
        rows = win.filter(f"symbol = '{sym}'").orderBy("timestamp").select("window_values").collect()
        assert len(rows) == len(prices) - 4
        for i, r in enumerate(rows):
            assert r.window_values == pytest.approx(prices[i : i + 5])


def test_keras_fallback_without_tf(spark):
    # SURVEY §7 hard part iii: TF optional. With keras unavailable (this
    # container), load_model must fall back to the linear model even
    # when an artifact path is supplied.
    from stock_price_prediction_using_stream_and_batch_processing_spark.ml.predictor import (
        LinearWindowModel,
        load_model,
    )

    try:
        import keras  # noqa: F401

        has_keras = True
    except ImportError:
        has_keras = False
    m = load_model(5, keras_path="/root/reference/lstm_model.keras" if not has_keras else None)
    assert isinstance(m, LinearWindowModel)
    import numpy as np

    out = m.predict(np.ones((3, 5)))
    assert out.shape == (3,) and np.allclose(out, 1.0)  # weights sum to 1


def test_asof_join_tie_semantics(spark):
    # A right row at EXACTLY the left row's timestamp must match
    # (inclusive <=), and the latest-not-later right row wins.
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.joins import asof_join
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [("A", ts(10)), ("A", ts(20)), ("A", ts(5))], "k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("A", ts(10), 1.0), ("A", ts(15), 2.0), ("A", ts(25), 3.0)],
        "k string, ts timestamp, rv double",
    )
    out = {r.ts: r.rv for r in asof_join(left, right, "k", "ts", ["rv"]).collect()}
    assert out[ts(5)] is None      # nothing at or before t=5
    assert out[ts(10)] == 1.0      # exact-timestamp match included
    assert out[ts(20)] == 2.0      # latest right row not after t=20


def test_asof_join_attaches_whole_row_atomically(spark):
    """A NULL field in the newest right row must NOT fall back to an
    older row's value (that would synthesize a composite row that never
    existed)."""
    left = spark.createDataFrame([("k", 30, 0)], "key string, ts long, seq long")
    right = spark.createDataFrame(
        [("k", 10, 10.0, 11.0), ("k", 20, None, 5.0)],
        "key string, ts long, bid double, ask double",
    )
    out = joins.asof_join(left, right, "key", "ts", ["bid", "ask"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["bid"] is None and r["ask"] == 5.0  # the t=20 ROW, as-is


def test_asof_join_reserved_column_guard(spark):
    left = spark.createDataFrame([("k", 1, True)], "key string, ts long, _is_left boolean")
    right = spark.createDataFrame([("k", 1, 1.0)], "key string, ts long, v double")
    with pytest.raises(ValueError, match="_is_left"):
        joins.asof_join(left, right, "key", "ts", ["v"])
