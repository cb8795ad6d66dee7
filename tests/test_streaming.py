"""Structured Streaming tests (SURVEY §5 strategy 3): file source +
``Trigger.AvailableNow``, exercising the reference stream pipeline
semantics (stream_consumer.py) and the stateful cross-batch extension.
"""

from __future__ import annotations

import os

import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.ml.inference import predict_over_windows
from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import (
    generate_ticks,
    ticks_json_lines,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
    file_tick_source,
    idempotent_epoch_write,
    parse_ticks,
    read_stream_output,
    read_stream_predictions,
    read_stream_ticks,
    run_continuous_prediction_stream,
    run_tick_stream,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.stateful import (
    continuous_trailing_windows,
)


def _write_tick_files(tmp_path, n: int, n_files: int) -> str:
    src = tmp_path / "ticks_in"
    src.mkdir()
    lines = ticks_json_lines(n)
    per = (n + n_files - 1) // n_files
    base_mtime = 1_700_000_000
    for f in range(n_files):
        chunk = lines[f * per : (f + 1) * per]
        if chunk:
            p = src / f"part-{f:03d}.json"
            p.write_text("\n".join(chunk))
            # Strictly increasing mtimes: the file source orders the
            # backlog by modification time, and same-second writes would
            # make micro-batch order (hence stateful-window order)
            # nondeterministic.
            os.utime(p, (base_mtime + f, base_mtime + f))
    return str(src)


def test_parse_ticks_wire_format(spark, tmp_path):
    # from_json over the producer's exact wire format
    # (stream_consumer.py:96-98): schema + values survive the round trip.
    path = _write_tick_files(tmp_path, 17, 1)
    static = spark.read.format("text").load(path)
    parsed = parse_ticks(static).orderBy("timestamp").collect()
    want = generate_ticks(17)
    assert len(parsed) == 17
    assert [r.symbol for r in parsed] == [t["symbol"] for t in want]
    assert [r.price for r in parsed] == pytest.approx([t["price"] for t in want])
    assert [r.volume for r in parsed] == [t["volume"] for t in want]
    assert parsed[0].timestamp is not None


def test_parse_drops_malformed_wire_messages(spark, tmp_path):
    # Broken producer messages (bad JSON, missing fields, garbage types)
    # must not reach the raw table as null rows — null timestamps would
    # sort first in every window. The reference wrote them to MySQL
    # as-is (no handling).
    good = ticks_json_lines(4)
    bad = ["not json at all", '{"symbol":"AAPL"}', "", '{"price":"x","timestamp":"y"}']
    src = tmp_path / "mixed"
    src.mkdir()
    (src / "part-000.json").write_text("\n".join(good + bad))
    sink = str(tmp_path / "raw")
    q = run_tick_stream(
        spark, file_tick_source(spark, str(src)), sink_path=sink, checkpoint_path=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    raw = read_stream_output(spark, sink)
    assert raw.count() == 4
    assert raw.filter("timestamp IS NULL OR price IS NULL OR symbol IS NULL").count() == 0


def test_tick_stream_end_to_end(spark, tmp_path):
    n = 40
    path = _write_tick_files(tmp_path, n, 4)
    sink = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    q = run_tick_stream(
        spark,
        file_tick_source(spark, path, max_files_per_trigger=1),
        sink_path=sink,
        checkpoint_path=ckpt,
        seq_len=5,
    )
    q.awaitTermination(120)
    # Raw view: every tick persisted exactly once (checkpointed append —
    # fixes the reference's missing checkpointLocation, SURVEY §2.8).
    raw = read_stream_ticks(spark, sink)
    assert raw.count() == n
    assert set(raw.columns) == {"symbol", "timestamp", "price", "volume"}
    # Predictions view: per-batch trailing windows (reference cross-batch
    # gap semantics, stream_consumer.py:72-76) — each 10-tick batch
    # yields 10-5+1 = 6 full windows.
    preds = read_stream_predictions(spark, sink)
    assert preds.count() == 4 * 6
    assert preds.filter("predicted_price IS NULL").count() == 0


def test_tick_stream_restart_is_idempotent(spark, tmp_path):
    n = 20
    path = _write_tick_files(tmp_path, n, 2)
    sink = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run: checkpoint says all files consumed
        q = run_tick_stream(
            spark, file_tick_source(spark, path), sink_path=sink, checkpoint_path=ckpt
        )
        q.awaitTermination(120)
    assert read_stream_output(spark, sink).count() == n


def test_epoch_write_retry_is_exactly_once(spark, tmp_path):
    # Simulate a foreachBatch retry: the same epoch written twice (crash
    # between write and checkpoint commit) must NOT duplicate rows; a
    # different epoch must append.
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import ticks_dataframe

    path = str(tmp_path / "sink")
    df = ticks_dataframe(spark, 10)
    idempotent_epoch_write(df, path, epoch_id=0)
    idempotent_epoch_write(df, path, epoch_id=0)  # retry of epoch 0
    assert read_stream_output(spark, path).count() == 10
    idempotent_epoch_write(ticks_dataframe(spark, 7, seed=9), path, epoch_id=1)
    assert read_stream_output(spark, path).count() == 17


def test_driver_arrow_sink_equals_distributed(spark, tmp_path):
    # The tick-scale Arrow epoch sink must produce the same readable
    # output (rows, schema, values) as the distributed parquet writer,
    # and keep the same retry idempotency.
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
        idempotent_epoch_write_arrow,
    )

    n = 20
    path = _write_tick_files(tmp_path, n, 4)
    out = {}
    for mode, flag in (("dist", False), ("arrow", True)):
        sink = str(tmp_path / f"raw_{mode}")
        q = run_tick_stream(
            spark,
            file_tick_source(spark, path, max_files_per_trigger=1),
            sink_path=sink,
            checkpoint_path=str(tmp_path / f"ckpt_{mode}"),
            seq_len=5,
            driver_arrow_sink=flag,
        )
        q.awaitTermination(120)
        df = read_stream_output(spark, sink)
        out[mode] = sorted(df.collect(), key=lambda r: (r.timestamp, r.symbol))
        assert df.count() == n
    assert [r.asDict() for r in out["dist"]] == [r.asDict() for r in out["arrow"]]

    # retry idempotency: same epoch written twice -> no duplicates
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import ticks_dataframe

    p2 = str(tmp_path / "retry")
    df = ticks_dataframe(spark, 10)
    idempotent_epoch_write_arrow(df, p2, epoch_id=0)
    idempotent_epoch_write_arrow(df, p2, epoch_id=0)
    assert read_stream_output(spark, p2).count() == 10
    idempotent_epoch_write_arrow(ticks_dataframe(spark, 7, seed=9), p2, epoch_id=1)
    assert read_stream_output(spark, p2).count() == 17


def test_continuous_windows_span_microbatches(spark, tmp_path):
    # The stateful path (applyInPandasWithState) must produce one full
    # window per tick from the seq_len-th tick on, regardless of
    # micro-batch boundaries — unlike per-batch mode which restarts at
    # each batch (the reference's gap, SURVEY §7 hard part i).
    n, seq_len, n_files = 30, 5, 6
    path = _write_tick_files(tmp_path, n, n_files)
    parsed = parse_ticks(file_tick_source(spark, path, max_files_per_trigger=1))
    cont = continuous_trailing_windows(parsed, seq_len=seq_len)
    q = (
        cont.writeStream.outputMode("append")
        .format("memory")
        .queryName("cont_windows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cont_windows ORDER BY timestamp").collect()
    prices = [t["price"] for t in generate_ticks(n)]
    assert len(rows) == n - seq_len + 1  # no per-batch restart gaps
    for i, r in enumerate(rows):
        assert r.window_values == pytest.approx(prices[i : i + seq_len])


def test_stateful_state_survives_restart(spark, tmp_path):
    # Kill-and-resume: run the stateful window stream over the first
    # files, STOP, add more files, restart with the same checkpoint.
    # The recovered state store must carry the window tail across the
    # restart — total output identical to one uninterrupted run.
    n, seq_len = 20, 5
    src = tmp_path / "ticks_in"
    src.mkdir()
    lines = ticks_json_lines(n)
    base = 1_700_000_000

    def write_file(idx, chunk):
        p = src / f"part-{idx:03d}.json"
        p.write_text("\n".join(chunk))
        os.utime(p, (base + idx, base + idx))

    for i in range(2):  # first half: 2 files x 5 ticks
        write_file(i, lines[i * 5 : (i + 1) * 5])
    preds = str(tmp_path / "preds")
    ckpt = str(tmp_path / "ckpt")
    q = run_continuous_prediction_stream(
        spark, file_tick_source(spark, str(src), 1), preds, ckpt, seq_len=seq_len
    )
    q.awaitTermination(120)
    n_first = read_stream_output(spark, preds).count()
    assert n_first == 10 - seq_len + 1
    for i in range(2, 4):  # second half arrives after the restart
        write_file(i, lines[i * 5 : (i + 1) * 5])
    q = run_continuous_prediction_stream(
        spark, file_tick_source(spark, str(src), 1), preds, ckpt, seq_len=seq_len
    )
    q.awaitTermination(120)
    got = read_stream_output(spark, preds).orderBy("timestamp").collect()
    assert len(got) == n - seq_len + 1  # no gap at the restart boundary
    prices = [t["price"] for t in generate_ticks(n)]
    for i, r in enumerate(got):
        from tests.test_reference_parity import numpy_predict

        assert r.predicted_price == pytest.approx(numpy_predict(prices[: i + seq_len], seq_len)[-1], rel=1e-12)


def test_continuous_equals_batch_windows(spark, tmp_path):
    # Invariant: streaming stateful windows == batch window function over
    # the same data (the batch side is oracle-checked separately).
    n, seq_len = 25, 5
    path = _write_tick_files(tmp_path, n, 5)
    parsed = parse_ticks(file_tick_source(spark, path, max_files_per_trigger=1))
    q = (
        continuous_trailing_windows(parsed, seq_len=seq_len)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cont_eq_batch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = spark.sql(
        "SELECT timestamp, window_values FROM cont_eq_batch ORDER BY timestamp"
    ).collect()
    static = parse_ticks(spark.read.format("text").load(path))
    batch_rows = (
        windows.trailing_collect(static, "symbol", "timestamp", "price", seq_len)
        .orderBy("timestamp")
        .select("timestamp", "window_values")
        .collect()
    )
    assert [(r.timestamp, tuple(r.window_values)) for r in stream_rows] == [
        (r.timestamp, tuple(r.window_values)) for r in batch_rows
    ]


def test_continuous_prediction_stream_gapless(spark, tmp_path):
    # End-to-end stateful path: every tick from the 5th on gets a
    # prediction (no per-batch gaps), and values equal the batch-mode
    # full-series computation.
    n, seq_len = 28, 5
    path = _write_tick_files(tmp_path, n, 4)
    preds_path = str(tmp_path / "preds")
    q = run_continuous_prediction_stream(
        spark,
        file_tick_source(spark, path, max_files_per_trigger=1),
        predictions_path=preds_path,
        checkpoint_path=str(tmp_path / "ckpt"),
        seq_len=seq_len,
    )
    q.awaitTermination(120)
    got = read_stream_output(spark, preds_path).orderBy("timestamp").collect()
    assert len(got) == n - seq_len + 1  # gapless: 4 batches, zero restart loss
    prices = [t["price"] for t in generate_ticks(n)]
    from tests.test_reference_parity import numpy_predict

    want = numpy_predict(prices, seq_len)
    import numpy as np

    np.testing.assert_allclose([r.predicted_price for r in got], want, rtol=1e-12)


def test_metrics_listener_collects_progress(spark, tmp_path):
    # StreamingQueryListener replaces the reference's driver-side Python
    # lists (stream_consumer.py:48,77-79) — works identically on a
    # cluster because it consumes the engine's progress feed.
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.metrics import BatchMetricsListener

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        n = 24
        path = _write_tick_files(tmp_path, n, 3)
        q = run_tick_stream(
            spark,
            file_tick_source(spark, path, max_files_per_trigger=1),
            sink_path=str(tmp_path / "raw"),
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        import time as _t

        for _ in range(50):
            if sum(p["num_input_rows"] for p in listener.progress) >= n:
                break
            _t.sleep(0.2)
        s = listener.summary()
        # numInputRows can over-count under availableNow re-planning;
        # exact once-only DELIVERY is asserted via the parquet sink in
        # test_tick_stream_end_to_end — here we check the feed works.
        assert s["total_rows"] >= n
        assert s["n_batches"] >= 3
        assert s["mean_ms"] is None or s["mean_ms"] >= 0
    finally:
        spark.streams.removeListener(listener)


def test_stream_predictions_match_batch_path(spark, tmp_path):
    # End-to-end: the streaming foreachBatch prediction for a
    # single-batch stream equals the batch predict_over_windows result.
    n = 15
    path = _write_tick_files(tmp_path, n, 1)
    sink = str(tmp_path / "raw")
    q = run_tick_stream(
        spark, file_tick_source(spark, path), sink_path=sink, checkpoint_path=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {
        (r.timestamp, round(r.predicted_price, 9))
        for r in read_stream_predictions(spark, sink).collect()
    }
    static = parse_ticks(spark.read.format("text").load(path))
    win = windows.trailing_collect(static, "symbol", "timestamp", "price", 5, tiebreak="timestamp")
    want = {
        (r.timestamp, round(r.predicted_price, 9))
        for r in predict_over_windows(win, "window_values", seq_len=5).collect()
    }
    assert got == want


def test_stream_scores_with_saved_mllib_model(spark, tmp_path):
    # Retrained-model hot-swap: train + save an MLlib pipeline, point
    # the stream at the artifact, and the streaming predictions must
    # equal batch score_windows over the same windows (JVM-side path).
    from stock_price_prediction_using_stream_and_batch_processing_spark.ml import training
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import (
        ticks_dataframe,
    )

    n, seq_len = 40, 5
    model, _ = training.train_next_value_model(
        ticks_dataframe(spark, 300), "symbol", "timestamp", "price", seq_len=seq_len
    )
    model_path = str(tmp_path / "model")
    training.save_model(model, model_path)

    path = _write_tick_files(tmp_path, n, 1)
    sink = str(tmp_path / "raw")
    q = run_tick_stream(
        spark,
        file_tick_source(spark, path),
        sink_path=sink,
        checkpoint_path=str(tmp_path / "ckpt"),
        seq_len=seq_len,
        mllib_model_path=model_path,
    )
    q.awaitTermination(120)
    got = {
        (r.timestamp, round(r.predicted_price, 9))
        for r in read_stream_predictions(spark, sink).collect()
    }
    static = parse_ticks(spark.read.format("text").load(path))
    win = windows.trailing_collect(static, "symbol", "timestamp", "price", seq_len, tiebreak="timestamp")
    reloaded = training.load_saved_model(model_path)
    want = {
        (r.timestamp, round(r.predicted_price, 9))
        for r in training.score_windows(reloaded, win, "window_values", seq_len=seq_len).collect()
    }
    assert got == want and len(got) == n - seq_len + 1


def test_continuous_ewma_spans_batches_and_matches_batch_fold(spark, tmp_path):
    # Streaming EWMA with state carry == the batch fold over the full
    # series, regardless of micro-batch boundaries.
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.windows import ewma_final
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.stateful import continuous_ewma

    n, alpha = 30, 0.2
    path = _write_tick_files(tmp_path, n, 6)
    parsed = parse_ticks(file_tick_source(spark, path, max_files_per_trigger=1))
    q = (
        continuous_ewma(parsed, alpha=alpha)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cont_ewma")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cont_ewma ORDER BY timestamp").collect()
    assert len(rows) == n
    # python mirror of the recursion
    prices = [t["price"] for t in generate_ticks(n)]
    cur = None
    for r, x in zip(rows, prices):
        cur = x if cur is None else alpha * x + (1 - alpha) * cur
        assert r.ewma == pytest.approx(cur, rel=1e-12)
    # final streaming value == batch fold operator (oracle-checked query path)
    static = parse_ticks(spark.read.format("text").load(path))
    batch_final = ewma_final(static, "symbol", "timestamp", "price", alpha=alpha).collect()[0]
    assert rows[-1].ewma == pytest.approx(batch_final.ewma, rel=1e-12)


def test_stateful_fold_correct_when_key_spans_many_arrow_chunks(spark, tmp_path):
    # applyInPandasWithState delivers one key's micro-batch as MULTIPLE
    # Arrow-sized pandas chunks in no guaranteed row order. Regression
    # for the bug where each chunk was sorted independently: shrink the
    # Arrow batch size so a single-key micro-batch arrives as ~15 chunks,
    # and shuffle the input rows so any per-chunk (or no) sort folds out
    # of time order. Windows AND ewma must still equal the batch fold.
    import random

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.windows import ewma_final
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.stateful import continuous_ewma

    n, seq_len, alpha = 100, 5, 0.2
    src = tmp_path / "ticks_in"
    src.mkdir()
    lines = ticks_json_lines(n)
    random.Random(7).shuffle(lines)  # one file == one micro-batch, time-shuffled
    (src / "part-000.json").write_text("\n".join(lines))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        parsed = parse_ticks(file_tick_source(spark, str(src)))
        for name, sdf in [
            ("chunked_win", continuous_trailing_windows(parsed, seq_len=seq_len)),
            ("chunked_ewma", continuous_ewma(parsed, alpha=alpha)),
        ]:
            q = (
                sdf.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    prices = [t["price"] for t in generate_ticks(n)]
    win_rows = spark.sql("SELECT * FROM chunked_win ORDER BY timestamp").collect()
    assert len(win_rows) == n - seq_len + 1
    for i, r in enumerate(win_rows):
        assert tuple(r.window_values) == pytest.approx(tuple(prices[i : i + seq_len]), rel=1e-12)

    ewma_rows = spark.sql("SELECT * FROM chunked_ewma ORDER BY timestamp").collect()
    assert len(ewma_rows) == n
    cur = None
    for r, x in zip(ewma_rows, prices):
        cur = x if cur is None else alpha * x + (1 - alpha) * cur
        assert r.ewma == pytest.approx(cur, rel=1e-12)


def test_bar_maintenance_stream_equals_batch(spark, tmp_path):
    """The stream-maintained minute-bar table must equal a one-shot
    batch aggregation of all ticks, and a replayed epoch must be a
    no-op (the double-merge guard)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows as W
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
        maintain_bars_batch,
        run_bar_maintenance_stream,
    )

    n = 30
    path = _write_tick_files(tmp_path, n, 3)
    bars_root = str(tmp_path / "bars_root")
    q = run_bar_maintenance_stream(
        spark,
        file_tick_source(spark, path, max_files_per_trigger=1),
        bars_root=bars_root,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    maintained = spark.read.parquet(f"{bars_root}/bars").drop("part_date")
    all_ticks = parse_ticks(spark.read.format("text").load(path))
    direct = W.ohlc_partials(all_ticks, "symbol", "timestamp", "price", "timestamp", "1 minute")
    key_fn = lambda r: (r["symbol"], r["bucket_start"])  # noqa: E731
    assert sorted(maintained.collect(), key=key_fn) == sorted(direct.collect(), key=key_fn)
    assert maintained.agg({"n_ticks": "sum"}).collect()[0][0] == n

    # replay of an already-merged epoch must not double-count; the
    # marker lives with the CHECKPOINT (epoch ids restart with it)
    ckpt = str(tmp_path / "ckpt")
    last_epoch = int(open(f"{ckpt}/_last_epoch").read())
    merged = maintain_bars_batch(spark, bars_root, all_ticks, last_epoch, marker_root=ckpt)
    assert merged is False
    assert spark.read.parquet(f"{bars_root}/bars").agg({"n_ticks": "sum"}).collect()[0][0] == n


def test_driver_arrow_compute_equals_distributed(spark, tmp_path):
    # The driver compute fast path (predict_ticks_arrow: toArrow +
    # driver-side window/predict fold) must be BIT-FOR-BIT identical to
    # the distributed window+linear_predict plan — rows, schema, and
    # exact double predictions, including tied timestamps (tiebreak
    # price, volume) and partial windows (NULL predictions).
    n = 23
    path = _write_tick_files(tmp_path, n, 5)
    out = {}
    for mode, flag in (("dist", False), ("fast", True)):
        sink = str(tmp_path / f"raw_c_{mode}")
        q = run_tick_stream(
            spark,
            file_tick_source(spark, path, max_files_per_trigger=1),
            sink_path=sink,
            checkpoint_path=str(tmp_path / f"ckpt_c_{mode}"),
            seq_len=5,
            driver_arrow_sink=flag,
            driver_arrow_compute=flag,
        )
        q.awaitTermination(120)
        df = read_stream_output(spark, sink)
        assert df.count() == n
        out[mode] = sorted(
            df.collect(), key=lambda r: (r.symbol, r.timestamp, r.price, r.volume)
        )
    dist = [r.asDict() for r in out["dist"]]
    fast = [r.asDict() for r in out["fast"]]
    assert dist == fast  # exact equality, doubles included

    # model-artifact inference must refuse the fast path
    import pytest as _pytest

    with _pytest.raises(ValueError, match="linear fallback"):
        run_tick_stream(
            spark,
            file_tick_source(spark, path),
            sink_path=str(tmp_path / "x"),
            checkpoint_path=str(tmp_path / "xc"),
            driver_arrow_compute=True,
            mllib_model_path="/nonexistent",
        )


def test_predict_ticks_arrow_edge_shapes(spark):
    # Empty batch and all-partial-window batch keep the schema and NULL
    # semantics of the distributed path.
    import pyarrow as pa

    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
        predict_ticks_arrow,
    )

    schema = pa.schema(
        [
            ("symbol", pa.string()),
            ("timestamp", pa.timestamp("us")),
            ("price", pa.float64()),
            ("volume", pa.int64()),
        ]
    )
    empty = pa.table(
        {"symbol": [], "timestamp": [], "price": [], "volume": []}, schema=schema
    )
    out = predict_ticks_arrow(empty, 5)
    assert out.num_rows == 0 and out.column_names[-1] == "predicted_price"

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    small = pa.table(
        {
            "symbol": ["A", "A", "B"],
            "timestamp": [t0, t0, t0],
            "price": [1.0, 2.0, 3.0],
            "volume": [1, 2, 3],
        },
        schema=schema,
    )
    out = predict_ticks_arrow(small, 5)
    assert out.column("predicted_price").to_pylist() == [None, None, None]


def test_parse_ticks_keeps_kafka_metadata_columns(spark):
    """keep_cols carries Kafka provenance (topic/partition/offset/key)
    through the verbatim cast->from_json->data.* parse unchanged, and
    drop-malformed still removes broken frames WITH their metadata."""
    from pyspark.sql import functions as F

    rows = [
        ("t", 0, 1, b"k1", b'{"symbol":"AAPL","timestamp":"2024-01-01T00:00:00","price":1.5,"volume":10}'),
        ("t", 1, 2, b"k2", b'{"symbol":'),  # malformed frame
    ]
    raw = spark.createDataFrame(
        rows, "topic string, partition int, offset long, key binary, value binary"
    )
    out = parse_ticks(raw, keep_cols=("topic", "partition", "offset", "key")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.topic, r.partition, r.offset, bytes(r.key)) == ("t", 0, 1, b"k1")
    assert (r.symbol, r.price, r.volume) == ("AAPL", 1.5, 10)


def test_watermark_bounds_state_rows(spark, tmp_path):
    """State cleanup under watermark advance, pinned via the engine's
    own stateOperators progress: driving the watermarked hourly agg
    over 6 one-hour batches must (a) evict closed windows (rows
    removed > 0), (b) plateau state at ~keys x live-windows while
    cumulative input grows 6x — bounded by (keys x window horizon),
    never by stream length. The probe at 10k->1M keys
    (scripts/state_store_probe.py) shows the same 2.07x-keys plateau."""
    import json

    from pyspark.sql import functions as F

    n_keys, n_batches = 300, 6
    src = tmp_path / "src"
    src.mkdir()
    for b in range(n_batches):
        df = spark.range(n_keys).select(
            F.col("id").alias("user_id"),
            F.timestamp_seconds(F.lit(1_700_000_000 + b * 3600) + F.pmod(F.col("id"), F.lit(3000))).alias("ts"),
        )
        p = str(src / f"part-{b:02d}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + "_tmp")
        import os as _os
        import shutil as _shutil

        f = next(x for x in _os.listdir(p + "_tmp") if x.endswith(".parquet"))
        _shutil.move(_os.path.join(p + "_tmp", f), p)
        _shutil.rmtree(p + "_tmp", ignore_errors=True)
        _os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    states, removed = [], 0
    for p in q.recentProgress:
        d = json.loads(p.json)
        so = (d.get("stateOperators") or [{}])[0]
        if so.get("numRowsTotal") is not None:
            states.append(so["numRowsTotal"])
            removed += so.get("numRowsRemoved") or 0
    assert removed > 0, states  # eviction actually ran
    assert max(states) <= 3 * n_keys, states  # bounded by keys x live windows
    # plateau: once the horizon fills (batch 3+), state stops growing
    plateau = states[3:-1] if len(states) > 4 else states[3:]
    assert plateau and max(plateau) == min(plateau), states


def test_driver_fast_read_differential_and_fallback(spark, tmp_path):
    """The zero-job driver batch read must be semantics-identical to the
    distributed from_json parse on every line shape it CLAIMS (well-
    formed rows, droppable malformed rows), and must REFUSE (return
    None -> caller falls back to Spark) on every shape whose Spark
    semantics are subtler than skip-or-emit."""
    import datetime as dt
    import json as _json

    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
        _driver_read_tick_batch,
        _parse_tick_wire_rows,
    )

    base = '{"symbol": "AAPL", "timestamp": "2024-01-01T00:00:%02d+00:00", "price": 18%d.5, "volume": 1000%d}'
    handled = [
        base % (1, 0, 1),
        "",  # empty line -> dropped both sides
        "not json at all {",  # malformed -> PERMISSIVE null -> dropped
        "42",  # JSON scalar -> null struct -> dropped
        '{"timestamp": "2024-01-01T00:00:02+00:00", "price": 1.0}',  # null symbol -> dropped
        '{"symbol": "AAPL", "price": 1.0}',  # null ts -> dropped
        '{"symbol": "AAPL", "timestamp": "2024-01-01T00:00:03+00:00"}',  # null price -> dropped
        '{"symbol": null, "timestamp": "2024-01-01T00:00:04+00:00", "price": 1.0}',
        base % (5, 1, 2),
        '{"symbol": "MSFT", "timestamp": "2024-01-01T00:00:06.123456+00:00", "price": 7, "volume": null}',
        '{"symbol": "MSFT", "timestamp": "2024-01-01 00:00:07+00:00", "price": 7.25, "extra": "x"}',
    ]
    # driver parse of the handled corpus == Spark's parse_ticks, exactly
    rows = _parse_tick_wire_rows(handled)
    assert rows is not None
    src = tmp_path / "adv"
    src.mkdir()
    (src / "part-0.json").write_text("\n".join(handled))
    got_spark = [
        r.asDict()
        for r in parse_ticks(
            spark.read.text(str(src)).withColumnRenamed("value", "value")
        ).orderBy("timestamp", "price").collect()
    ]
    got_driver = sorted(rows, key=lambda r: (r["timestamp"], r["price"]))
    assert len(got_spark) == len(got_driver) == 4
    for s, d in zip(got_spark, got_driver):
        assert s["symbol"] == d["symbol"]
        assert s["price"] == d["price"]
        assert s["volume"] == d["volume"]
        # Spark returns session-naive datetimes; driver rows are aware UTC
        assert s["timestamp"].replace(tzinfo=dt.timezone.utc) == d["timestamp"]

    # every subtle shape REFUSES (whole batch falls back to Spark)
    for subtle in (
        '{"symbol": 123, "timestamp": "2024-01-01T00:00:01+00:00", "price": 1.0}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01", "price": 1.0}',  # naive ts
        '{"symbol": "A", "timestamp": 1700000000, "price": 1.0}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+00:00", "price": "1.0"}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+00:00", "price": true}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+00:00", "price": 1.0, "volume": 1.5}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+00:00", "price": 1.0, "volume": 99999999999999999999}',
        '{"symbol": "A", "timestamp": "not a time", "price": 1.0}',
        '[{"symbol": "A", "timestamp": "2024-01-01T00:00:01+00:00", "price": 1.0}]',
        # ISO-8601 shapes Python 3.11 fromisoformat ACCEPTS but Spark's
        # timestamp cast rejects (row would drop distributed-side) or
        # treats differently — the strict extended-format gate must
        # refuse every one rather than emit a diverging fast-path row:
        '{"symbol": "A", "timestamp": "20240101T000001+00:00", "price": 1.0}',  # basic format
        '{"symbol": "A", "timestamp": "2024-W01-1T00:00:01+00:00", "price": 1.0}',  # week date
        '{"symbol": "A", "timestamp": "2024-002T00:00:01+00:00", "price": 1.0}',  # ordinal date
        '{"symbol": "A", "timestamp": "2024-01-01X00:00:01+00:00", "price": 1.0}',  # any-sep quirk
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01.1234567+00:00", "price": 1.0}',  # >6 frac digits
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+0000", "price": 1.0}',  # colonless offset
        # offsets Python allows (±23:59) but Java ZoneOffset caps at ±18:00
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+19:00", "price": 1.0}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01-23:30", "price": 1.0}',
        '{"symbol": "A", "timestamp": "2024-01-01T00:00:01+18:01", "price": 1.0}',  # past the ±18:00 cap
    ):
        assert _parse_tick_wire_rows([base % (1, 0, 1), subtle]) is None, subtle

    # end-to-end: a stream whose SECOND batch holds a subtle row still
    # lands bit-identical to the all-distributed run (fallback engages
    # per batch, not per stream)
    subtle_line = '{"symbol": "AAPL", "timestamp": "2024-01-01T00:01:00+00:00", "price": "181.25"}'
    lines = ticks_json_lines(8)
    out = {}
    for mode, flag in (("dist", False), ("fast", True)):
        d = tmp_path / f"e2e_{mode}"
        d.mkdir()
        (d / "a.json").write_text("\n".join(lines[:4]))
        (d / "b.json").write_text("\n".join(lines[4:] + [subtle_line]))
        os.utime(d / "a.json", (1_700_000_000, 1_700_000_000))
        os.utime(d / "b.json", (1_700_000_001, 1_700_000_001))
        q = run_tick_stream(
            spark,
            file_tick_source(spark, str(d), max_files_per_trigger=1),
            sink_path=str(tmp_path / f"sink_{mode}"),
            checkpoint_path=str(tmp_path / f"ckpt_{mode}"),
            seq_len=3,
            driver_arrow_sink=flag,
            driver_arrow_compute=flag,
        )
        q.awaitTermination(120)
        out[mode] = [
            r.asDict()
            for r in read_stream_output(spark, str(tmp_path / f"sink_{mode}"))
            .orderBy("timestamp", "price")
            .collect()
        ]
    assert out["dist"] == out["fast"]
    assert len(out["fast"]) == 8  # the string-priced row was dropped by BOTH

    # anomaly handling: nonexistent checkpoint -> None (never raises)
    assert _driver_read_tick_batch(str(tmp_path / "nope"), 0, "UTC") is None


def test_tick_stream_rejects_async_with_available_now(spark, tmp_path):
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import run_tick_stream

    with pytest.raises(ValueError, match="processing-time"):
        run_tick_stream(
            spark, spark.range(1).selectExpr("CAST(null AS binary) AS value"),
            str(tmp_path / "s"), str(tmp_path / "c"), async_progress=True,
        )


def test_ticks_wire_format_timezone_robust(spark):
    """The JSON wire timestamps carry an explicit UTC offset, so they
    parse identically under ANY session timezone (a naive string would
    land hours away from ticks_dataframe under a non-UTC driver)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import ticks_dataframe, ticks_json_lines
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import parse_ticks

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        lines = ticks_json_lines(5)
        raw = spark.createDataFrame([(l.encode(),) for l in lines], "value binary")
        parsed = parse_ticks(raw).select("symbol", "timestamp", "price").collect()
        expected = {
            (r["symbol"], r["timestamp"], r["price"])
            for r in ticks_dataframe(spark, 5).select("symbol", "timestamp", "price").collect()
        }
        assert {(r["symbol"], r["timestamp"], r["price"]) for r in parsed} == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
