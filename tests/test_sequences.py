"""Unit tests for event-sequence analytics (operators/sequences.py) and
the distributed global row number (operators/ordering.py) on
constructed fixtures where the expected answer is computable by hand.
The corpus-level differential checks live in test_queries_oracle.py."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import ordering, sequences


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


@pytest.fixture()
def funnel_df(spark):
    # u1: full ordered funnel; u2: purchase BEFORE view (must not count
    # past step 1); u3: view+click but click precedes the view;
    # u4: view only.
    rows = [
        (1, _ts(1), 1, "view"),
        (1, _ts(2), 2, "click"),
        (1, _ts(3), 3, "purchase"),
        (2, _ts(1), 4, "purchase"),
        (2, _ts(2), 5, "view"),
        (2, _ts(3), 6, "click"),
        (3, _ts(1), 7, "click"),
        (3, _ts(2), 8, "view"),
        (4, _ts(1), 9, "view"),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")


def test_ordered_funnel_strict_order(spark, funnel_df):
    out = sequences.ordered_funnel(
        funnel_df, "user_id", "ts", "event_type", ["view", "click", "purchase"], tiebreak="event_id"
    ).collect()[0]
    # views: u1..u4 all have one; click-after-view: u1, u2; purchase
    # after a qualifying click: u1 only.
    assert (out["n_step_1"], out["n_step_2"], out["n_step_3"]) == (4, 2, 1)


def test_ordered_funnel_same_timestamp_not_counted(spark):
    # view and click at the IDENTICAL (ts, event_id)-ordered instant:
    # strictly-after means the click at the same ts but later event_id
    # qualifies, the one at an earlier event_id does not.
    rows = [
        (1, _ts(1), 2, "view"),
        (1, _ts(1), 1, "click"),  # earlier tiebreak -> before the view
        (2, _ts(1), 1, "view"),
        (2, _ts(1), 2, "click"),  # later tiebreak -> after the view
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = sequences.ordered_funnel(
        df, "user_id", "ts", "event_type", ["view", "click"], tiebreak="event_id"
    ).collect()[0]
    assert (out["n_step_1"], out["n_step_2"]) == (2, 1)


def test_retention_cohorts_grid(spark):
    d0, d1, d2 = dt.datetime(2024, 1, 1, 5), dt.datetime(2024, 1, 2, 5), dt.datetime(2024, 1, 3, 5)
    rows = [
        (1, d0), (1, d1), (1, d2),  # cohort Jan-1, back on offsets 0,1,2
        (2, d0), (2, d2),           # cohort Jan-1, offsets 0,2
        (3, d1),                    # cohort Jan-2, offset 0
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_users"]
        for r in sequences.retention_cohorts(df, "user_id", "ts").collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 2,
        ("2024-01-02", 0): 1,
    }


def test_transition_matrix_counts_and_probs(spark):
    rows = [
        (1, _ts(1), 1, "a"), (1, _ts(2), 2, "b"), (1, _ts(3), 3, "a"),
        (2, _ts(1), 4, "a"), (2, _ts(2), 5, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = {(r["src"], r["dst"]): (r["n"], r["p"]) for r in
           sequences.transition_matrix(df, "user_id", "ts", "event_type", tiebreak="event_id").collect()}
    assert out == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_global_row_number_total_order(spark):
    df = spark.range(0, 1000).withColumn("k", F.md5(F.col("id").cast("string")))
    out = ordering.global_row_number(df, ["k", "id"], out="rn", num_partitions=8)
    rows = out.orderBy("k", "id").select("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, 1001))


def test_global_row_number_no_single_partition_sort(spark):
    """The big-side row_number Window must be PARTITIONED (by the range
    partition id) — a bare row_number() OVER (ORDER BY ...) compiles to
    a Window with an EMPTY partition spec over a SinglePartition
    exchange of the full input. (The range exchange itself is hidden
    behind the localCheckpoint lineage cut, so assert on the window
    spec, not the exchange.)"""
    import re

    df = spark.range(0, 100).withColumn("k", F.md5(F.col("id").cast("string")))
    out = ordering.global_row_number(df, ["k", "id"], out="rn", num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"Window \[row_number\(\)[^\n]*\], \[(.*?)\], \[", plan)
    assert m, plan
    assert "_pid" in m.group(1), f"row_number window not partitioned: {m.group(0)}"


def test_global_row_number_name_collision_safe(spark):
    df = (
        spark.range(0, 10)
        .withColumn("_pid", F.lit("keepme"))
        .withColumn("k", F.md5(F.col("id").cast("string")))
    )
    out = ordering.global_row_number(df, ["k", "id"], out="rn", num_partitions=4)
    assert "_pid" in out.columns
    assert out.filter(F.col("_pid") != "keepme").count() == 0


def test_hashkey_row_number_matches_general(spark):
    """The hash-bucketed fast path must produce the IDENTICAL total
    order as the sampling-based general operator."""
    df = spark.range(0, 2000).withColumn("k", F.md5(F.col("id").cast("string")))
    fast = ordering.hashkey_row_number(df, "k", ["k", "id"], out="rn")
    general = ordering.global_row_number(df, ["k", "id"], out="rn", num_partitions=8)
    assert fast.exceptAll(general).count() == 0
    assert general.exceptAll(fast).count() == 0


def test_hashkey_row_number_partitioned_window(spark):
    import re

    df = spark.range(0, 100).withColumn("k", F.md5(F.col("id").cast("string")))
    out = ordering.hashkey_row_number(df, "k", ["k", "id"], out="rn")
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"Window \[row_number\(\)[^\n]*\], \[(.*?)\], \[", plan)
    assert m and "_b" in m.group(1), plan[:500]
    # no checkpoint in this path: the scan should still be a FileScan/Range
    assert "ExistingRDD" not in plan


def test_hashkey_row_number_rejects_bad_bits(spark):
    import pytest as _pytest

    df = spark.range(10).withColumn("k", F.md5(F.col("id").cast("string")))
    with _pytest.raises(ValueError):
        ordering.hashkey_row_number(df, "k", ["k", "id"], bucket_bits=0)


def test_touch_attribution_first_last_semantics(spark):
    """Constructed journey: view -> click -> PURCHASE -> email ->
    PURCHASE. First-touch credits 'view' for both conversions; last
    touch is 'click' then 'email'. A user whose only event is a
    purchase earns no credit rows."""
    import datetime as dt

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sequences

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view"),
        (1, t0 + dt.timedelta(minutes=1), 2, "click"),
        (1, t0 + dt.timedelta(minutes=2), 3, "purchase"),
        (1, t0 + dt.timedelta(minutes=3), 4, "email"),
        (1, t0 + dt.timedelta(minutes=4), 5, "purchase"),
        (2, t0, 6, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = {
        (r["attribution"], r["touch_type"]): r["n_conversions"]
        for r in sequences.touch_attribution(ev).collect()
    }
    assert out == {("first", "view"): 2, ("last", "click"): 1, ("last", "email"): 1}


# --- interval_history ---


def _hist_rows(spark, obs):
    df = spark.createDataFrame(obs, ["k", "seq", "ts", "status"])
    out = sequences.interval_history(df, "k", "ts", "status", tiebreak="seq")
    return sorted(
        ((r["k"], r["status"], r["valid_from"], r["valid_to"], r["is_current"]) for r in out.collect()),
        key=lambda t: (t[0], t[1] or "", t[2]),
    )


def test_interval_history_collapses_runs(spark):
    rows = _hist_rows(
        spark,
        [
            ("c1", 1, 10, "O"),
            ("c1", 2, 20, "O"),  # same run
            ("c1", 3, 30, "F"),
            ("c1", 4, 40, "O"),  # status returns -> NEW run, not merged
            ("c2", 5, 15, "P"),
        ],
    )
    assert rows == [
        ("c1", "F", 30, 40, False),
        ("c1", "O", 10, 30, False),
        ("c1", "O", 40, None, True),
        ("c2", "P", 15, None, True),
    ]


def test_interval_history_null_runs_and_guard(spark):
    rows = _hist_rows(
        spark,
        [("k", 1, 1, None), ("k", 2, 2, None), ("k", 3, 3, "A")],
    )
    assert rows == [("k", None, 1, 3, False), ("k", "A", 3, None, True)]
    df = spark.createDataFrame([(1, 2, 3, 4)], ["k", "ts", "a", "_run"])
    with pytest.raises(ValueError, match="_run"):
        sequences.interval_history(df, "k", "ts", "a")


def test_interval_history_single_shuffle_partitioning(spark):
    # both windows and the groupBy key on k: exactly two Exchanges total
    # (observations, runs) and no rangepartitioning anywhere.
    df = spark.createDataFrame(
        [("k%d" % (i % 5), i, i * 10, "s%d" % (i % 3)) for i in range(100)],
        ["k", "seq", "ts", "status"],
    )
    out = sequences.interval_history(df, "k", "ts", "status", tiebreak="seq")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
