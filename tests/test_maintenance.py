"""Table maintenance + data quality: compaction, retention, schema
evolution, expectation violations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import quality
from stock_price_prediction_using_stream_and_batch_processing_spark.sources import sinks
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.ticks import ticks_dataframe


def _parquet_files(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compact_shrinks_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    # simulate micro-batch accretion: 8 tiny appends
    for i in range(8):
        ticks_dataframe(spark, 10, seed=i).write.mode("append").parquet(path)
    assert len(_parquet_files(path)) >= 8
    n = sinks.compact(spark, path)
    assert n == 80
    assert len(_parquet_files(path)) == 1
    assert spark.read.parquet(path).count() == 80


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    path = str(tmp_path / "ticks")
    sinks.write_partitioned_ticks(ticks_dataframe(spark, 48, step_seconds=3600.0), path)
    # fragment day 1 with extra appends
    extra = ticks_dataframe(spark, 5, seed=3).withColumn("date", F.to_date("timestamp"))
    extra.write.mode("append").partitionBy("date").parquet(path)
    n = sinks.compact(spark, path, partition_col="date")
    assert n == 53
    parts = sorted(d for d in os.listdir(path) if d.startswith("date="))
    assert parts == ["date=2024-01-01", "date=2024-01-02"]
    for p in parts:  # one file per partition after compaction
        assert len(_parquet_files(os.path.join(path, p))) == 1


def test_expire_partitions_retention(spark, tmp_path):
    path = str(tmp_path / "ticks")
    sinks.write_partitioned_ticks(ticks_dataframe(spark, 72, step_seconds=3600.0), path)
    import datetime as dt

    dropped = sinks.expire_partitions(
        spark, path, "date", keep_values=[dt.date(2024, 1, 2), dt.date(2024, 1, 3)]
    )
    assert dropped == [dt.date(2024, 1, 1)]
    left = spark.read.parquet(path)
    assert left.count() == 48
    assert left.select(F.min("date")).collect()[0][0] == dt.date(2024, 1, 2)


def test_schema_evolution_merge(spark, tmp_path):
    # later files add a column; mergeSchema read sees the union schema
    # with nulls for old files — the append-only evolution story.
    path = str(tmp_path / "evolving")
    ticks_dataframe(spark, 5).write.mode("append").parquet(path)
    ticks_dataframe(spark, 5, seed=2).withColumn("venue", F.lit("NYSE")).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "venue" in merged.columns
    assert merged.count() == 10
    assert merged.filter("venue IS NULL").count() == 5


def test_quality_violations_rows(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "ok"), (2, -5.0, "ok"), (3, 7.0, None), (4, -1.0, None)],
        "id long, v double, s string",
    )
    rules = {"v_pos": F.col("v") > 0, "s_present": F.col("s").isNotNull()}
    report = {r.rule: r.n_violations for r in quality.check(df, rules).collect()}
    assert report == {"v_pos": 2, "s_present": 2}
    bad = {r.id: sorted(r.failed_rules) for r in quality.violations(df, rules).collect()}
    assert bad == {2: ["v_pos"], 3: ["s_present"], 4: ["s_present", "v_pos"]}


def test_refresh_histogram_fine_equals_oneshot(spark, tmp_path):
    """The histogram store's incremental refresh (operators/quality.
    refresh_histogram_fine) must reach the one-shot build for any split
    of the input — counts merge by addition — and rewrite only the
    date-partitioned layout it declares."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import (
        quality as q,
    )

    ev = spark.range(3_000).select(
        F.timestamp_seconds(F.lit(1_700_006_400) + F.col("id") * 60).alias("ts"),
        F.pmod(F.hash("id").cast("double"), F.lit(100.0)).alias("v"),
        F.col("id"),
    )
    store = str(tmp_path / "hist_store")
    # adversarial interleave: batch order is not time order
    for b in range(3):
        batch = ev.filter(F.pmod(F.col("id"), F.lit(3)) == b)
        q.refresh_histogram_fine(spark, store, batch, "ts", "v", 0.0, 100.0, 50)
    refreshed = spark.read.parquet(store).drop("part_date")
    oneshot = q.binned_histogram_tables(ev, "ts", "v", 0.0, 100.0, 50, fine="hour")
    assert refreshed.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(refreshed).count() == 0
    # layout: store is date-partitioned
    import os as _os

    assert any(d.startswith("part_date=") for d in _os.listdir(store))


def test_epoch_guarded_skips_replays_and_advances(tmp_path):
    """The shared replay fence for non-idempotent merges: a new epoch
    runs and advances the marker; replaying the same (or an older)
    epoch never re-runs the refresh."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import (
        epoch_guarded,
        read_epoch_marker,
    )

    store = str(tmp_path / "store")
    runs = []
    assert epoch_guarded(store, 0, lambda: runs.append(0)) is True
    assert epoch_guarded(store, 0, lambda: runs.append("replay")) is False
    assert epoch_guarded(store, 1, lambda: runs.append(1)) is True
    assert epoch_guarded(store, 0, lambda: runs.append("stale")) is False
    assert runs == [0, 1]
    assert read_epoch_marker(store + "_marker") == 1


def test_incremental_join_refresh_delta_algebra(spark, tmp_path):
    """Each (a, b) match must be emitted EXACTLY once across the three
    delta terms, in every arrival order: a-before-b, b-before-a,
    same-batch, plus a no-op empty step. Multiplicity checked (a key
    with 2 a-rows x 2 b-rows yields 4 view rows, no more)."""
    from collections import Counter

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.maintenance import (
        incremental_join_refresh,
    )

    store = str(tmp_path / "ivm")

    def A(rows):
        return spark.createDataFrame(rows, "k long, a_val string")

    def B(rows):
        return spark.createDataFrame(rows, "k long, b_val string")

    # step 1: a1 arrives, b for k=2 arrives (a-after-b case pending)
    incremental_join_refresh(spark, store, "k", delta_a=A([(1, "a1"), (3, "a3")]), delta_b=B([(2, "b2")]))
    # step 2: b1 arrives (matches prior a1), a2 arrives (matches prior b2),
    # and k=4 lands on BOTH sides in the same batch
    incremental_join_refresh(
        spark, store, "k",
        delta_a=A([(2, "a2"), (4, "a4")]),
        delta_b=B([(1, "b1"), (4, "b4")]),
    )
    # step 3: second a-row for k=1 (fan-out 2), nothing on b side
    incremental_join_refresh(spark, store, "k", delta_a=A([(1, "a1x")]))
    view = Counter(
        (r.k, r.a_val, r.b_val) for r in spark.read.parquet(f"{store}/view").collect()
    )
    want = Counter(
        [(1, "a1", "b1"), (2, "a2", "b2"), (4, "a4", "b4"), (1, "a1x", "b1")]
    )
    assert view == want  # exactly once each; k=3 unmatched, absent


def test_expire_partitions_type_safe_and_wipe_guard(spark, tmp_path):
    """Typed (date) partition values vs string keep_values must match by
    their directory text — and a keep list matching NOTHING must raise,
    not silently delete the whole table."""
    import datetime as dt
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources import sinks

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1), (dt.date(2024, 1, 2), 2)], "d date, v int"
    )
    df.write.partitionBy("d").parquet(path)
    dropped = sinks.expire_partitions(spark, path, "d", ["2024-01-02"])
    assert [str(v) for v in dropped] == ["2024-01-01"]
    assert os.path.isdir(os.path.join(path, "d=2024-01-02"))
    with pytest.raises(ValueError, match="ALL"):
        sinks.expire_partitions(spark, path, "d", ["1999-01-01"])
