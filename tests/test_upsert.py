"""Upsert (MERGE) into partitioned parquet (operators/upsert.py):
replace-on-key, insert-new, rewrite only touched partitions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators.upsert import (
    merge_into_parquet,
    snapshot_diff,
)
from stock_price_prediction_using_stream_and_batch_processing_spark.sources import sinks
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import ticks_dataframe


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "ticks")
    df = ticks_dataframe(spark, 72, step_seconds=3600.0)  # 3 days x 24
    sinks.write_partitioned_ticks(df, path)
    return path


def test_upsert_replaces_and_inserts(spark, table):
    before = spark.read.parquet(table)
    victim = before.orderBy("timestamp").limit(2).collect()
    updates = spark.createDataFrame(
        [
            # replace: same (symbol, timestamp), new price
            (victim[0].symbol, victim[0].timestamp, 999.99, victim[0].volume, victim[0].date),
            # insert: brand-new timestamp in an existing partition
            (victim[1].symbol, victim[1].timestamp.replace(minute=30), 555.55, 1, victim[1].date),
        ],
        before.schema,
    )
    merge_into_parquet(spark, table, updates, ["symbol", "timestamp"], partition_col="date")
    after = spark.read.parquet(table)
    assert after.count() == 73  # 72 - 1 replaced + 1 replacement + 1 insert
    assert after.filter(F.col("price") == 999.99).count() == 1
    assert after.filter(F.col("price") == 555.55).count() == 1
    # the replaced row's old price is gone
    assert (
        after.filter(
            (F.col("symbol") == victim[0].symbol)
            & (F.col("timestamp") == victim[0].timestamp)
        ).count()
        == 1
    )


def test_upsert_touches_only_update_partitions(spark, table):
    # files in untouched day-partitions must remain byte-identical
    def files_of(day):
        d = os.path.join(table, f"date={day}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")}

    before_d3 = files_of("2024-01-03")
    row = spark.read.parquet(table).filter("date = DATE'2024-01-01'").limit(1).collect()[0]
    updates = spark.createDataFrame([(row.symbol, row.timestamp, 111.11, row.volume, row.date)],
                                    spark.read.parquet(table).schema)
    merge_into_parquet(spark, table, updates, ["symbol", "timestamp"], partition_col="date")
    assert files_of("2024-01-03") == before_d3  # day 3 untouched
    after = spark.read.parquet(table)
    assert after.count() == 72
    assert after.filter("price = 111.11").count() == 1


def test_snapshot_diff_delimiter_and_sentinel_safe(spark):
    """Delimiter-style encodings collide when cell values shift across
    the boundary. Length-prefixing must catch both the shifted-boundary
    case and the NULL-vs-lookalike case."""
    old = spark.createDataFrame([(1, "ab", "c")], "k long, s string, t string")
    new = spark.createDataFrame([(1, "a", "bc")], "k long, s string, t string")
    assert [r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()] == ["changed"]
    old2 = spark.createDataFrame([(1, None)], "k long, s string")
    new2 = spark.createDataFrame([(1, "N")], "k long, s string")
    assert [r["change_type"] for r in snapshot_diff(old2, new2, ["k"]).collect()] == ["changed"]


def test_snapshot_diff_complex_types(spark):
    # array whose display-string rendering collides must still diff
    old = spark.createDataFrame([(1, ["a, b"])], "k long, a array<string>")
    new = spark.createDataFrame([(1, ["a", " b"])], "k long, a array<string>")
    assert [r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()] == ["changed"]
    m_old = spark.createDataFrame([(1, {"x": 1})], "k long, m map<string,int>")
    with pytest.raises(ValueError, match="map"):
        snapshot_diff(m_old, m_old, ["k"])


# --- snapshot_diff classification ---


def test_snapshot_diff_classifies(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, "d", 4.0)], ["k", "s", "v"]
    )
    out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged -> absent


def test_snapshot_diff_null_vs_empty_and_drift(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "")], "k long, s string")
    assert [r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()] == ["changed"]
    drifted = spark.createDataFrame([(1, "", 0.0)], ["k", "s", "extra"])
    with pytest.raises(ValueError, match="extra"):
        snapshot_diff(old, drifted, ["k"])
