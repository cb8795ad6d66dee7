"""Guard: every physical parquet encoding the driver has shipped for
``events.ts`` (bigint TIMESTAMP(NANOS), timestamp[us] without timezone
→ TIMESTAMP_NTZ, tz-aware timestamp[us]) must come out of
``load_table`` / ``_stream_events`` as a plain Spark TIMESTAMP —
otherwise ``withWatermark`` hard-rejects the column
(EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and the whole watermarked
streaming family breaks, as happened in round 3 when the driver's data
generation switched from nanos to NTZ micros."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import (
    load_table,
)

from .conftest import SF_SMALL

UTC = datetime.timezone.utc
ROWS = [
    (1, datetime.datetime(2024, 1, 1, 0, 0, 5), 10, "view", 1.5, "{}"),
    (2, datetime.datetime(2024, 1, 1, 0, 1, 5), 11, "purchase", 2.5, "{}"),
]


def _write_events(tmp_path, ts_type, tz_aware: bool) -> str:
    d = os.path.join(str(tmp_path), ts_type)
    os.makedirs(d, exist_ok=True)
    if ts_type == "ns":
        arrow_t = pa.timestamp("ns")
    elif ts_type == "ntz":
        arrow_t = pa.timestamp("us")
    else:
        arrow_t = pa.timestamp("us", tz="UTC")
    ts_vals = [t.replace(tzinfo=UTC) if tz_aware else t for _, t, *_ in ROWS]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array(ts_vals, arrow_t),
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
            "props": pa.array([r[5] for r in ROWS], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize("enc,tz_aware", [("ns", False), ("ntz", False), ("ltz", True)])
def test_load_table_ts_always_timestamp(spark, tmp_path, enc, tz_aware):
    sf_dir = _write_events(tmp_path, enc, tz_aware)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", f"encoding {enc} leaked through"
    # Values are identical across encodings (session tz pinned UTC).
    vals = sorted(r["ts"] for r in df.select("ts").collect())
    assert vals == [r[1] for r in ROWS]
    # The watermark gate itself must accept the column.
    df.withWatermark("ts", "10 minutes")


@pytest.mark.parametrize("enc,tz_aware", [("ntz", False), ("ltz", True)])
def test_stream_events_ts_always_timestamp(spark, tmp_path, enc, tz_aware):
    from stock_price_prediction_using_stream_and_batch_processing_spark.plans.streamplans import (
        _stream_events,
    )

    sf_dir = _write_events(tmp_path, enc, tz_aware)
    sdf = _stream_events(spark, sf_dir)
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    sdf.withWatermark("ts", "10 minutes")


def test_driver_testdata_ts_is_timestamp(spark):
    """Whatever encoding the CURRENT driver data uses, it normalizes."""
    df = load_table(spark, SF_SMALL, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    df.withWatermark("ts", "10 minutes")


def test_fixture_preflight_catches_duplicate_keys(spark, tmp_path):
    """The per-table preflight (sources/tables.fixture_preflight) must
    fail LOUDLY at first load when a regenerated fixture violates a
    uniqueness invariant the corpus depends on — not hours later as an
    oracle mismatch (the round-5 rolling_corr incident)."""
    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources import tables

    sf = str(tmp_path / "sfbad")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "o_orderkey long, o_comment string"
    ).write.parquet(os.path.join(sf, "orders.parquet"))
    with pytest.raises(AssertionError, match="duplicate rows over supposedly-unique key"):
        tables.load_table(spark, sf, "orders")

    # a clean table passes and the check is cached per (sf_dir, table)
    sf2 = str(tmp_path / "sfok")
    os.makedirs(sf2)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "o_orderkey long, o_comment string"
    ).write.parquet(os.path.join(sf2, "orders.parquet"))
    tables.load_table(spark, sf2, "orders")
    assert (sf2, "orders") in tables._PREFLIGHTED


def test_fixture_preflight_accepts_driver_fixtures(spark):
    """Every declared invariant holds on the real driver testdata —
    including lineitem's TOTALIZED key (its (l_orderkey, l_linenumber)
    alone is duplicated by design)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources import tables

    from tests.conftest import SF_MED

    for name in tables.TABLES:
        tables.load_table(spark, SF_MED, name)
        assert (SF_MED, name) in tables._PREFLIGHTED


@pytest.mark.parametrize("skip_preflight", ["0", "1"])
def test_load_table_infers_schema_once(spark, tmp_path, monkeypatch, skip_preflight):
    """The first load_table of a table infers its schema (a parquet
    footer job); later loads of the same (sf_dir, table) pass the
    memoized schema to the reader and run no Spark job, with or
    without the fixture preflight."""
    import uuid

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources import tables

    monkeypatch.setenv("SPARK_GRAFT_SKIP_PREFLIGHT", skip_preflight)
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "o_orderkey long, o_comment string"
    ).write.parquet(os.path.join(sf, "orders.parquet"))
    sc = spark.sparkContext
    jobs = []
    try:
        for _ in range(2):
            group = f"load_table_{uuid.uuid4().hex}"
            sc.setJobGroup(group, "load_table")
            df = tables.load_table(spark, sf, "orders")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[0] >= 1 and jobs[1] == 0, jobs
    assert df.schema == tables._SCHEMAS[(sf, "orders")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
