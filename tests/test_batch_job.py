"""Batch inference job tests — reference ``batch_processor.py``
semantics: latest-k fetch, row gates, sliding-60 windows, scheduler
metrics (SURVEY §3.2)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark import batch
from stock_price_prediction_using_stream_and_batch_processing_spark.ml.inference import (
    predict_over_windows,
    predict_trailing,
    trailing_kernel,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import (
    generate_ticks,
    tick_schema,
    ticks_dataframe,
)
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
    # symbols unevenly (144 or 143 ticks each), and one Arrow pass
    # windows them all together; every symbol must still see exactly
    # its own trailing windows
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


def _window_form(spark, path, k, seq_len):
    """The form ``predict_trailing`` replaced in ``run_once``: the top-k
    by key, ``trailing_collect(full_only=True)`` arrays, then the
    ``predict_over_windows`` column fold."""
    ticks = spark.read.schema(tick_schema).parquet(path)
    recent = batch.latest_ticks(ticks, "timestamp", k).repartition(
        spark.sparkContext.defaultParallelism, "symbol"
    )
    win = windows.trailing_collect(recent, "symbol", "timestamp", "price", seq_len, tiebreak="timestamp")
    return predict_over_windows(win, "window_values", seq_len=seq_len)


def _keyed(df):
    rows = df.select("symbol", "timestamp", "volume", "predicted_price").collect()
    return {(r.symbol, r.timestamp, r.volume): r.predicted_price for r in rows}


def test_run_once_matches_trailing_collect_form(spark, tmp_path):
    # uneven symbols (A 200 rows, B 120, C 59 < seq_len), a NULL price
    # (drops every window that covers it), a NaN price (NaN predictions),
    # a NULL timestamp (sorts first, inside the latest k only because k
    # covers the whole table) and a NULL symbol (its own group); volume
    # is a unique row id, since a NULL timestamp cannot key a row
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rng = np.random.default_rng(7)
    rows, vid = [], 0
    for sym, n in (("A", 200), ("B", 120), ("C", 59), (None, 75)):
        for i in range(n):
            rows.append([sym, t0 + dt.timedelta(seconds=vid), float(np.round(180 + rng.normal(), 2)), vid])
            vid += 1
    rows[30][2] = None      # A: windows ending at rows 30..89 drop
    rows[150][2] = float("nan")  # A: windows ending at 150..199 are NaN
    rows[230][1] = None     # B: a NULL timestamp sorts first
    rows[300][2] = None     # B: windows ending at sorted rows 100..119 drop
    p = str(tmp_path / "edge")
    spark.createDataFrame([tuple(r) for r in rows], tick_schema).write.parquet(p)
    k = len(rows)
    got = _keyed(batch.run_once(spark, p, k=k, seq_len=60, min_rows=100))
    want = _keyed(_window_form(spark, p, k, 60))
    assert got.keys() == want.keys()
    assert {s for s, _, _ in got} == {"A", "B", None}  # C is shorter than 60
    assert len(got) == 110 + 41 + 16
    g = np.array([got[key] for key in want])
    w = np.array(list(want.values()))
    assert np.array_equal(np.isnan(g), np.isnan(w)) and np.isnan(w).sum() == 50
    np.testing.assert_allclose(g[~np.isnan(g)], w[~np.isnan(w)], rtol=1e-12)


def test_run_once_runs_only_the_gate_job(spark, tmp_path):
    # the read schema is given, so no footer job infers it: the gate's
    # bounded take is the one job run_once runs before it returns, on
    # one file and on four 75-row files (a take over the scan's own
    # partitions would read one, find too few rows and scale up)
    sc = spark.sparkContext
    for files in (1, 4):
        p = str(tmp_path / f"files_{files}")
        ticks_dataframe(spark, 300).repartition(files).write.parquet(p)
        assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == files
        group = f"run_once_jobs_{files}"
        sc.setJobGroup(group, "run_once job count")
        try:
            preds = batch.run_once(spark, p, k=200, seq_len=60, min_rows=100)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert preds is not None
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, files


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


# --------------------------------------------------------------------------
# predict_trailing's kernel, called on Arrow batches without Spark

_KSCHEMA = pa.schema([("symbol", pa.string()), ("timestamp", pa.int64()), ("price", pa.float64())])


def _kernel(batches, seq_len):
    out = list(trailing_kernel(iter(batches), "symbol", "timestamp", "price", seq_len))
    return pa.Table.from_batches(out) if out else None


def _per_key(tbl):
    got = {}
    for r in tbl.sort_by("timestamp").to_pylist():
        got.setdefault(r["symbol"], []).append((r["timestamp"], r["predicted_price"]))
    return got


def test_kernel_windows_keys_interleaved_across_batches():
    # three keys interleaved row by row, shuffled, cut into uneven
    # batches: each key sees its own ts-ordered windows only
    rng = np.random.default_rng(3)
    keys = ["A", "B", "C"]
    n, seq_len = 90, 7
    rows = [(keys[i % 3], i, float(np.round(180 + rng.normal(), 2))) for i in range(n)]
    shuffled = [rows[i] for i in rng.permutation(n)]
    batches = [pa.RecordBatch.from_pylist([dict(zip(_KSCHEMA.names, r)) for r in shuffled[a:b]], _KSCHEMA)
               for a, b in ((0, 13), (13, 50), (50, 90))]
    got = _per_key(_kernel(batches, seq_len))
    assert sorted(got) == keys
    for k in keys:
        mine = [r for r in rows if r[0] == k]
        assert [t for t, _ in got[k]] == [r[1] for r in mine[seq_len - 1:]], k
        want = numpy_predict([r[2] for r in mine], seq_len)
        np.testing.assert_allclose([p for _, p in got[k]], want, rtol=1e-12)


def test_kernel_no_window_crosses_a_key_boundary():
    # two adjacent keys, seq_len-1 rows each: 2·seq_len-2 rows in all,
    # but no window lies inside one key
    seq_len = 5
    rows = [{"symbol": s, "timestamp": i, "price": 180.0 + i} for i, s in enumerate("AAAABBBB")]
    assert _kernel([pa.RecordBatch.from_pylist(rows, _KSCHEMA)], seq_len) is None


def test_kernel_null_key_is_one_group():
    seq_len = 4
    rows = [{"symbol": None if i % 2 else "A", "timestamp": i, "price": 180.0 + i * i} for i in range(12)]
    got = _per_key(_kernel([pa.RecordBatch.from_pylist(rows, _KSCHEMA)], seq_len))
    assert sorted(got, key=str) == ["A", None]
    for k in ("A", None):
        prices = [r["price"] for r in rows if r["symbol"] == k]
        np.testing.assert_allclose([p for _, p in got[k]], numpy_predict(prices, seq_len), rtol=1e-12)


def test_kernel_zero_batches_or_rows_emit_nothing():
    assert _kernel([], 3) is None
    assert _kernel([pa.RecordBatch.from_pylist([], _KSCHEMA)] * 2, 3) is None


def test_predict_trailing_spread_over_partitions_matches_window_form(spark):
    # repartition(3) spreads every key over partitions: the single
    # coalesced pass must still see each key's whole history
    df = ticks_dataframe(spark, 600, symbols=("A", "B", "C", "D")).repartition(3)
    assert df.rdd.getNumPartitions() == 3
    got = _keyed(predict_trailing(df, "symbol", "timestamp", "price", 60))
    win = windows.trailing_collect(df, "symbol", "timestamp", "price", 60, tiebreak="timestamp")
    want = _keyed(predict_over_windows(win, "window_values", seq_len=60))
    assert got.keys() == want.keys() and len(got) == 4 * (150 - 60 + 1)
    np.testing.assert_allclose([got[k] for k in want], list(want.values()), rtol=1e-12)


def test_predict_trailing_empty_frame(spark):
    df = spark.createDataFrame([], tick_schema)
    assert predict_trailing(df, "symbol", "timestamp", "price", 60).count() == 0
