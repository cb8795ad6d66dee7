"""Swap-in seams that the sandbox cannot fully exercise: the Kafka
source (no broker/connector jar) and the Keras model path (no
TensorFlow). Each seam gets as much coverage as the environment allows
— plan construction up to the missing artifact, with skip marks where
the artifact itself is required — so no public code path is
zero-coverage."""

from __future__ import annotations

import importlib.util

import numpy as np
import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.ml.predictor import (
    LinearWindowModel,
    load_model,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.streaming import pipeline

_HAS_KERAS = importlib.util.find_spec("keras") is not None


def test_kafka_tick_source_plan_builds_or_skips(spark):
    # Building the source touches Spark's data-source resolution with
    # our format/options; without the kafka connector jar that's where
    # it stops — assert the failure is exactly the missing connector
    # (proving the wiring), then skip the rest.
    try:
        df = pipeline.kafka_tick_source(spark, "localhost:9092")
    except Exception as e:
        assert "kafka" in str(e).lower()
        pytest.skip(f"kafka connector not on classpath: {str(e)[:120]}")
    # with the jar present: an unstarted streaming plan over the Kafka
    # wire schema that parse_ticks composes on unchanged
    assert df.isStreaming
    assert "value" in df.columns
    parsed = pipeline.parse_ticks(df)
    assert {"symbol", "timestamp", "price", "volume"} <= set(parsed.columns)


@pytest.mark.skipif(_HAS_KERAS, reason="keras installed; fallback branch unreachable")
def test_load_model_falls_back_without_keras():
    m = load_model(5, keras_path="/nonexistent/lstm_model.keras")
    assert isinstance(m, LinearWindowModel)


@pytest.mark.skipif(not _HAS_KERAS, reason="keras/TF not in this container")
def test_load_model_keras_roundtrip(tmp_path):
    # Mirrors the reference artifact contract (lstm_model.keras:
    # Input(5,1) -> LSTM stack -> Dense(1)); a tiny Dense stand-in keeps
    # the test fast while exercising save -> load_model -> predict.
    import keras

    model = keras.Sequential(
        [keras.layers.Input(shape=(5,)), keras.layers.Dense(1)]
    )
    path = str(tmp_path / "model.keras")
    model.save(path)
    loaded = load_model(5, keras_path=path)
    assert not isinstance(loaded, LinearWindowModel)
    out = np.asarray(loaded.predict(np.zeros((3, 5))))
    assert out.reshape(-1).shape == (3,)


def test_linear_fallback_accepts_reference_tensor_shape():
    # (batch, seq, 1) — the reference's reshape contract
    # (stream_consumer.py:52) must predict identically to (batch, seq).
    m = LinearWindowModel(5)
    x2 = np.arange(10, dtype=float).reshape(2, 5)
    x3 = x2[:, :, None]
    assert np.allclose(m.predict(x3), m.predict(x2))


def test_async_progress_unsupported_with_foreachbatch(spark, tmp_path):
    """async_progress is a PRODUCTION lever for the Kafka-sink swap-in:
    Spark's async progress tracking (offset WAL / commit log written off
    the hot path, at-least-once) rejects ForeachBatchSink by design. Pin
    the exact error so the documented limitation stays true — if a Spark
    upgrade starts supporting it, this test fails and the latency bench
    should adopt it."""
    from pyspark.errors.exceptions.captured import IllegalArgumentException

    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming import pipeline

    src = tmp_path / "ticks"
    src.mkdir()
    (src / "t.json").write_text('{"symbol":"A","timestamp":"2024-01-01T00:00:00","price":1.0,"volume":1}')
    with pytest.raises(IllegalArgumentException, match="does not support async progress tracking"):
        pipeline.run_tick_stream(
            spark,
            pipeline.file_tick_source(spark, str(src)),
            sink_path=str(tmp_path / "sink"),
            checkpoint_path=str(tmp_path / "ckpt"),
            available_now=False,
            async_progress=True,
        )


def test_python_datasource_partitions_and_rows(spark):
    """The custom DataSource must plan exactly the requested shards
    (ceil-division: 10 rows / 4 partitions -> 3+3+3+1), cover every row
    id exactly once, and match the closed form row-for-row."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.pysource import (
        register_synthetic_ticks,
        tick_row,
    )

    register_synthetic_ticks(spark)
    df = (
        spark.read.format("synthetic_ticks")
        .option("rows", 10)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    got = sorted(tuple(r) for r in df.collect())
    assert got == [tick_row(i) for i in range(10)]
    # re-registration is idempotent (a second register must not break reads)
    register_synthetic_ticks(spark)
    assert (
        spark.read.format("synthetic_ticks").option("rows", 3).load().count() == 3
    )


def test_python_datasource_empty_source(spark):
    """rows=0 must yield an empty frame (one empty shard), not a
    planner error — the empty-source probe any connector must survive."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.pysource import (
        register_synthetic_ticks,
    )

    register_synthetic_ticks(spark)
    assert spark.read.format("synthetic_ticks").option("rows", 0).load().count() == 0


def test_release_query_scratch_reclaims_blocks_and_tables(spark):
    """After a query's result is materialized, release_query_scratch
    must leave ZERO persistent RDDs, drop tracked memory-sink tables and
    destroy tracked broadcasts (threshold_pairs_matrix's collected side)
    — the guard against long-session storage-memory accretion (the r7
    sweep's late-query GC outlier)."""
    import os

    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark import (
        release_query_scratch,
        session,
    )
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.similarity import (
        threshold_pairs_matrix,
    )

    # _MEMORY_SINK_TABLES is process-global and other tests append to
    # it — drain whatever earlier tests left so the == 1 assertion
    # below is order-independent (ADVICE r8).
    release_query_scratch(spark)
    df = spark.range(1000).withColumn("v", F.col("id") * 2).localCheckpoint(eager=True)
    assert df.count() == 1000
    spark.range(5).createOrReplaceTempView("fake_memory_sink_r8")
    session.track_memory_sink_table("fake_memory_sink_r8")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    pairs = threshold_pairs_matrix(corpus, 0.99)
    bc = session._BROADCASTS[-1]
    assert [tuple(r) for r in pairs.collect()] == [(1, 2)]
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_before >= 1
    stats = release_query_scratch(spark)
    assert stats["rdds"] >= 1
    assert stats["memory_tables"] == 1
    assert stats["broadcasts"] == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert not spark.catalog.tableExists("fake_memory_sink_r8")
    assert not os.path.exists(bc._path)  # destroy() removes its pickled value
    # idempotent on an already-clean session
    stats2 = release_query_scratch(spark)
    assert stats2 == {"rdds": 0, "memory_tables": 0, "broadcasts": 0}
