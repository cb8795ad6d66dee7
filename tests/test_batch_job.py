"""Batch inference job tests — reference ``batch_processor.py``
semantics: latest-k fetch, row gates, sliding-60 windows, scheduler
metrics (SURVEY §3.2)."""

from __future__ import annotations

import numpy as np
import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark import batch
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import generate_ticks, ticks_dataframe
from tests.test_reference_parity import numpy_predict


@pytest.fixture(scope="module")
def ticks_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ticks") / "raw")
    ticks_dataframe(spark, 300).write.parquet(p)
    return p


def test_run_once_matches_numpy_mirror(spark, ticks_path):
    preds = batch.run_once(spark, ticks_path, k=200, seq_len=60, min_rows=100)
    assert preds is not None
    got = [r.predicted_price for r in preds.orderBy("timestamp").collect()]
    # latest 200 of 300 ticks, then sliding-60
    prices = [t["price"] for t in generate_ticks(300)][-200:]
    want = numpy_predict(prices, 60)
    assert len(got) == 200 - 60 + 1
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_run_once_multi_symbol_matches_per_symbol_mirror(spark, tmp_path):
    # 7 symbols, round-robin ticks: the latest 1003 of 1400 cut the
    # symbols unevenly (144 or 143 ticks each), and the key exchange
    # spreads them over the session's cores; every symbol must still
    # see exactly its own trailing windows
    symbols = ("AAPL", "AMZN", "GOOG", "META", "MSFT", "NVDA", "TSLA")
    n, k = 1400, 1003
    p = str(tmp_path / "multi")
    ticks_dataframe(spark, n, symbols=symbols).write.parquet(p)
    preds = batch.run_once(spark, ticks_path=p, k=k, seq_len=60, min_rows=100)
    got = {}
    for r in preds.orderBy("timestamp").select("symbol", "predicted_price").collect():
        got.setdefault(r.symbol, []).append(r.predicted_price)
    latest = generate_ticks(n, symbols=symbols)[-k:]
    assert sorted(got) == sorted(symbols)
    for sym in symbols:
        want = numpy_predict([t["price"] for t in latest if t["symbol"] == sym], 60)
        assert len(got[sym]) == len(want) > 0, sym
        np.testing.assert_allclose(got[sym], want, rtol=1e-12)


def test_min_rows_gate(spark, ticks_path, tmp_path):
    # reference gate: <100 rows -> no run (batch_processor.py:121-124);
    # the gate is on min(k, input rows), the row count the top-k yields
    def run(path, k):
        m = batch.BatchMetrics()
        preds = batch.run_once(spark, path, k=k, seq_len=60, min_rows=100, metrics=m)
        assert m.runs == 1 and m.failures == 0
        return preds

    # k below min_rows over an input that holds enough rows
    assert run(ticks_path, 50) is None
    assert run(ticks_path, 99) is None
    assert run(ticks_path, 100).count() == 100 - 60 + 1
    # input below min_rows under a k far above it
    short = str(tmp_path / "short")
    ticks_dataframe(spark, 99).write.parquet(short)
    assert run(short, 10_000) is None
    exact = str(tmp_path / "exact")
    ticks_dataframe(spark, 100).write.parquet(exact)
    assert run(exact, 10_000).count() == 100 - 60 + 1
    # k above the input's 300 rows: all of them window
    assert run(ticks_path, 10_000).count() == 300 - 60 + 1


def test_short_series_yields_no_windows(spark, ticks_path):
    # >=100 rows but <60 after windowing constraints is impossible here;
    # instead: k=100 rows with seq_len=60 -> 41 full windows only.
    preds = batch.run_once(spark, ticks_path, k=100, seq_len=60, min_rows=100)
    assert preds.count() == 100 - 60 + 1


def test_run_forever_bounded_and_metrics(spark, ticks_path, tmp_path):
    sink = str(tmp_path / "preds")
    m = batch.run_forever(spark, ticks_path, sink, max_runs=2, k=200, seq_len=60, min_rows=100)
    assert m.runs == 2 and m.failures == 0
    s = m.summary()
    assert s["min_s"] > 0 and s["mean_s"] >= s["min_s"] <= s["max_s"]
    assert spark.read.parquet(sink).count() == 2 * (200 - 60 + 1)


def test_failure_path_counts(spark, tmp_path):
    m = batch.BatchMetrics()
    with pytest.raises(Exception):
        batch.run_once(spark, str(tmp_path / "nonexistent"), metrics=m)
    assert m.failures == 1 and m.runs == 0
