"""Time-series query corpus — the reference's analytical core (SURVEY
§2.5 W1/W2) as first-class window queries, plus the §2.10 market-data
extensions (OHLC bars, VWAP, sessionization, as-of join) and the
oracle-checked model-inference path.

The ``events`` table is the tick-stream analogue (ts≈timestamp,
value≈price, user_id≈symbol — FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ml.inference import predict_over_windows
from ..operators import joins, windows
from ..sources.tables import load_table
from .core import register

# Weighted-sum oracle for the linear fallback model with n=5:
# weights i/15 for i=1..5 (ml/predictor.py); scaling cancels (affine).
_PRED5_SQL = """
WITH w AS (
  SELECT event_id, user_id, value,
         LAG(value, 4) OVER win AS x1, LAG(value, 3) OVER win AS x2,
         LAG(value, 2) OVER win AS x3, LAG(value, 1) OVER win AS x4,
         ROW_NUMBER() OVER win AS rn
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       ROUND((x1 * 1 + x2 * 2 + x3 * 3 + x4 * 4 + value * 5) / 15.0, 4) AS predicted_price
FROM w WHERE rn >= 5
"""


@register(
    "trailing_mean_events",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS trailing_mean
    FROM events
    """,
    tags=("window", "timeseries"),
    driver=False,
)
def trailing_mean_events(spark, sf_dir):
    """Reference W1 (trailing-5 over the ordered series,
    ``stream_consumer.py:51``) minus the model: per-key row window."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.trailing_mean(ev, "user_id", "ts", "value", 5, tiebreak="event_id")
    return out.select("event_id", "user_id", F.round("trailing_mean", 6).alias("trailing_mean"))


@register(
    "trailing_mean_events_bucketed",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS trailing_mean
    FROM events
    """,
    tags=("window", "timeseries", "skew"),
    driver=False,  # rotation r7: driver-green r4-r6; predict_next_events keeps the window family's driver evidence
)
def trailing_mean_events_bucketed(spark, sf_dir):
    """The giant-key window strategy (operators/windows.py
    bucketed_trailing_mean): identical semantics to trailing_mean_events
    — same oracle — but partitioned by (key, 7-day bucket) with exact
    cumulative prefix-tail carry, so one dominant key parallelizes
    instead of serializing into a single task's sort."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.bucketed_trailing_mean(
        ev, "user_id", "ts", "value", 5, bucket_seconds=7 * 86400, tiebreak="event_id"
    )
    return out.select("event_id", "user_id", F.round("trailing_mean", 6).alias("trailing_mean"))


@register(
    "sliding60_mean_events",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id,
             AVG(value) OVER win AS m, COUNT(value) OVER win AS wn
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ROUND(m, 6) AS sliding_mean
    FROM w WHERE wn = 60
    """,
    tags=("window", "timeseries"),
    driver=False,
)
def sliding60_mean_events(spark, sf_dir):
    """Reference W2 (length-60 sliding windows with the full-window
    gate, ``batch_processor.py:88-95``) as a native window + size filter."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.trailing_mean(
        ev, "user_id", "ts", "value", 60, out="sliding_mean", tiebreak="event_id", full_only=True
    )
    return out.select("event_id", "user_id", F.round("sliding_mean", 6).alias("sliding_mean"))


@register(
    "lag_returns_events",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, value,
             LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT event_id, user_id, (value - prev) / prev * 100 AS return_pct
    FROM w WHERE prev IS NOT NULL AND prev <> 0
    """,
    tags=("window", "lag", "timeseries"),
    driver=False,
)
def lag_returns_events(spark, sf_dir):
    """Lag features / percent returns per series key."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.lag_returns(ev, "user_id", "ts", "value", tiebreak="event_id")
    return out.filter(F.col("return_pct").isNotNull()).select(
        "event_id", "user_id", "return_pct"
    )


@register(
    "tumbling_ohlc_events",
    oracle="""
    SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           arg_min(value, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, event_id) AS close,
           COUNT(*) AS n_ticks
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    """,
    tags=("window", "ohlc", "groupby", "timeseries"),
    driver=False,
)

def tumbling_ohlc_events(spark, sf_dir):
    """Tumbling 1-hour OHLC bars per key (epoch-aligned ``F.window`` ==
    ``date_trunc`` for 1h); open/close tie-broken by unique event_id."""
    ev = load_table(spark, sf_dir, "events")
    bars = windows.tumbling_ohlc(ev, "user_id", "ts", "value", "1 hour", seq="event_id")
    return bars.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "multi_res_ohlc_events",
    oracle="""
    SELECT '1 minute' AS resolution, user_id,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           arg_min(value, event_id) AS open, MAX(value) AS high,
           MIN(value) AS low, arg_max(value, event_id) AS close,
           COUNT(*) AS n_ticks
    FROM events GROUP BY user_id, date_trunc('minute', ts)
    UNION ALL
    SELECT '1 hour', user_id,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           arg_min(value, event_id), MAX(value), MIN(value),
           arg_max(value, event_id), COUNT(*)
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    UNION ALL
    SELECT '1 day', user_id,
           strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
           arg_min(value, event_id), MAX(value), MIN(value),
           arg_max(value, event_id), COUNT(*)
    FROM events GROUP BY user_id, date_trunc('day', ts)
    """,
    tags=("window", "ohlc", "rollup", "timeseries"),
    driver=False,  # rotation r7: driver-green r4-r6; family keeps other driver rows
)
def multi_res_ohlc_events(spark, sf_dir):
    """Minute/hour/day OHLC bars where each coarser level rolls up the
    previous level's bars (operators/windows.ohlc_rollup_levels) — raw
    ticks are scanned once; the oracle computes every level DIRECTLY
    from raw events, so the differential proves the mergeable-partial
    rollup is exact."""
    ev = load_table(spark, sf_dir, "events")
    bars = windows.ohlc_rollup_levels(ev, "user_id", "ts", "value", seq="event_id")
    return bars.select(
        "resolution",
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "hopping_counts_events",
    oracle="""
    WITH occ AS (
      SELECT user_id, date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS ws, value
      FROM events CROSS JOIN (SELECT unnest(range(2)) AS k)
    )
    SELECT user_id, strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM occ GROUP BY user_id, ws
    """,
    tags=("window", "hopping", "groupby", "timeseries"),
    # rotated to extended in r4 (driver-green r1-r3; tumbling/session
    # keep driver rows for the time-agg family).
    driver=False,
)
def hopping_counts_events(spark, sf_dir):
    """Hopping (sliding) time-window aggregation: 2-hour windows every
    hour — each event lands in exactly 2 windows. ``F.window`` expands
    rows window-side BEFORE the hash agg, so partial aggregation still
    applies (shuffle carries one row per (user, window) per partition)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "range_join_purchase_windows",
    oracle="""
    WITH iv AS (
      SELECT event_id AS iv_id, CAST(ts AS TIMESTAMP) AS iv_start,
             CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS iv_end
      FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0
    )
    SELECT iv.iv_id, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS sum_value
    FROM iv JOIN events e
      ON CAST(e.ts AS TIMESTAMP) >= iv.iv_start AND CAST(e.ts AS TIMESTAMP) < iv.iv_end
    GROUP BY iv.iv_id
    """,
    tags=("join", "range", "timeseries"),
    driver=False,
)
def range_join_purchase_windows(spark, sf_dir):
    """Pure range join (no equi key): all activity inside the 30 minutes
    after each sampled purchase event. A bare theta join would plan as a
    nested-loop cross product; ``joins.interval_join`` buckets time at
    the interval length so it becomes an equi-join on bucket + residual
    filter — O(candidates) with a bucket-keyed shuffle
    (operators/joins.py). Oracle casts ns→μs to mirror Spark timestamp
    precision."""
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 20 == 0))
        .select(
            F.col("event_id").alias("iv_id"),
            F.col("ts").alias("iv_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("iv_end"),
        )
    )
    j = joins.interval_join(
        ev.select("ts", "value"), iv, point="ts", start="iv_start", end="iv_end", bucket_seconds=1800
    )
    return j.groupBy("iv_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


@register(
    "vwap_lineitem",
    oracle="""
    SELECT l_partkey, ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 2) AS vwap,
           ROUND(SUM(l_quantity), 2) AS total_weight
    FROM lineitem GROUP BY l_partkey
    """,
    tags=("vwap", "groupby", "timeseries"),
    driver=False,
)
def vwap_lineitem(spark, sf_dir):
    """Volume-weighted average price per key — one shuffle, map-side
    combine."""
    li = load_table(spark, sf_dir, "lineitem")
    out = windows.vwap(li, "l_partkey", "l_extendedprice", "l_quantity")
    return out.select(
        "l_partkey",
        F.round("vwap", 2).alias("vwap"),
        F.round("total_weight", 2).alias("total_weight"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ts - LAG(ts) OVER win IS NULL
                       OR ts - LAG(ts) OVER win > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT event_id, user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
    tags=("session", "window", "timeseries"),
    driver=False,
)
def sessionize_events(spark, sf_dir):
    """Sessionization (30-min inactivity gap): lag + running sum, then
    per-session row counts."""
    ev = load_table(spark, sf_dir, "events")
    s = windows.sessionize(ev, "user_id", "ts", 30.0, tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


@register(
    "asof_join_purchase_error",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         e AS (SELECT user_id, ts, MAX(value) AS err_value
               FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.value, e.err_value
    FROM p ASOF JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
    """,
    tags=("asof-join", "timeseries"),
    # rotation r11: promoted — no driver row since the r4 all-query era
    driver=True,
)
def asof_join_purchase_error(spark, sf_dir):
    """As-of (backward) join: each purchase picks up the most recent
    prior error value for the same user. Implemented as union +
    last-ignoring-nulls window — ONE shuffle on user_id, no range
    cross-join (operators/joins.py)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = joins.asof_join(p, e, key="user_id", ts="ts", right_value_cols=["err_value"])
    return out.filter(F.col("err_value").isNotNull()).select(
        "event_id", "user_id", "value", "err_value"
    )


@register("predict_next_events", oracle=_PRED5_SQL, tags=("inference", "window", "timeseries"))
def predict_next_events(spark, sf_dir):
    """The full inference path (reference W1+E4): trailing-5 window ->
    min-max scale -> linear model -> unscale, all as one native column
    expression (``predict_over_windows``' column path; no Python
    boundary). The linear fallback model makes it oracle-checkable; a
    ``keras_path`` swaps the model step for the Arrow-batched UDF."""
    ev = load_table(spark, sf_dir, "events")
    win = windows.trailing_collect(ev, "user_id", "ts", "value", 5, tiebreak="event_id")
    pred = predict_over_windows(win, "window_values", seq_len=5)
    return pred.select("event_id", "user_id", F.round("predicted_price", 4).alias("predicted_price"))


@register(
    "session_window_stats",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER win IS NULL
                       OR ts - LAG(ts) OVER win > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
      FROM g
    )
    SELECT user_id,
           strftime(CAST(MIN(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(CAST(MAX(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
    tags=("session", "window", "groupby", "timeseries"),
    # rotation r11: promoted — no driver row since the r4 all-query era
    driver=True,
)
def session_window_stats(spark, sf_dir):
    """Native ``F.session_window`` gap sessions (30 min) — Spark's
    built-in merging session aggregation (works identically in
    Structured Streaming with a watermark). The oracle derives the same
    sessions via the lag+cumsum composition, proving the two
    formulations agree. Session end = last event + gap, per Spark's
    session_window contract."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "predict_sliding60_events",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS win,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(list_dot_product(win, list_transform(range(1, 61), i -> 2.0 * i / 3660.0)), 4) AS predicted_price
    FROM w WHERE rn >= 60
    """,
    tags=("inference", "window", "timeseries"),
    driver=False,
)
def predict_sliding60_events(spark, sf_dir):
    """The reference's BATCH inference length (W2: sliding-60 windows,
    ``batch_processor.py:88-101``) through the same distributed path as
    ``predict_next_events``. Oracle exploits the affine identity
    unscale(model(scale(v))) == Σ wᵢ·vᵢ of the linear fallback, so the
    column path is value-checked at the reference's real window length."""
    ev = load_table(spark, sf_dir, "events")
    win = windows.trailing_collect(ev, "user_id", "ts", "value", 60, tiebreak="event_id")
    pred = predict_over_windows(win, "window_values", seq_len=60)
    return pred.select("event_id", "user_id", F.round("predicted_price", 4).alias("predicted_price"))


@register(
    "trend_forecast_per_user",
    oracle="""
    WITH x AS (
      SELECT user_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS t
      FROM events
    )
    SELECT user_id,
           ROUND(regr_slope(value, t), 4) AS slope,
           ROUND(regr_intercept(value, t), 4) AS intercept,
           ROUND(regr_intercept(value, t) + regr_slope(value, t) * COUNT(*), 4) AS forecast_next,
           COUNT(*) AS n_obs
    FROM x GROUP BY user_id
    """,
    tags=("regression", "forecast", "timeseries"),
    driver=False,
)

def trend_forecast_per_user(spark, sf_dir):
    """Per-key OLS trend + next-step forecast with NATIVE regression
    aggregates (``regr_slope``/``regr_intercept``) — no Python. The
    grouped-map (applyInPandas) equivalent lives in ml/grouped.py and is
    asserted equal in tests/test_grouped.py; at scale the native form
    wins (one hash agg, no Arrow hop), the grouped-map form generalizes
    to models SQL can't express."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select("user_id", "value", (F.row_number().over(w) - 1).cast("double").alias("t"))
    return x.groupBy("user_id").agg(
        F.round(F.expr("regr_slope(value, t)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(value, t)"), 4).alias("intercept"),
        F.round(
            F.expr("regr_intercept(value, t)") + F.expr("regr_slope(value, t)") * F.count("*"), 4
        ).alias("forecast_next"),
        F.count("*").alias("n_obs"),
    )


@register(
    "ewma_final_per_user",
    oracle="""
    WITH o AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           ROUND(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma,
           CAST(len(vals) AS INTEGER) AS n_obs
    FROM o
    """,
    tags=("ewma", "fold", "timeseries"),
    driver=False,
)

def ewma_final_per_user(spark, sf_dir):
    """Final EWMA (alpha=0.2) per key — a RECURSIVE per-key statistic no
    window frame expresses; computed as one ordered fold per key via
    ``F.aggregate`` (operators/windows.ewma_final). Oracle folds the
    same list with DuckDB's list_reduce."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.ewma_final(ev, "user_id", "ts", "value", alpha=0.2, tiebreak="event_id")
    return out.select("user_id", F.round("ewma", 6).alias("ewma"), F.col("n_obs").cast("int").alias("n_obs"))


@register(
    "returns_volatility_per_user",
    oracle="""
    WITH w AS (
      SELECT user_id, value,
             LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    r AS (
      SELECT user_id, (value - prev) / prev * 100 AS ret
      FROM w WHERE prev IS NOT NULL AND prev <> 0
    )
    SELECT user_id, ROUND(stddev_samp(ret), 4) AS volatility,
           ROUND(AVG(ret), 4) AS mean_return, COUNT(*) AS n_returns
    FROM r GROUP BY user_id
    """,
    tags=("volatility", "window", "groupby", "timeseries"),
    # rotated to extended in r4 (driver-green r1-r3; trend/ewma keep
    # driver rows for the per-key statistics family) to free a slot for
    # the composed near-dup pipeline.
    driver=False,
)
def returns_volatility_per_user(spark, sf_dir):
    """Return volatility (sample stddev of lag-1 percent returns) per
    series key — the canonical risk metric, composed from the
    lag-returns operator + one grouped aggregation (window shuffle and
    agg shuffle share the same key partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    r = windows.lag_returns(ev, "user_id", "ts", "value", tiebreak="event_id").filter(
        F.col("return_pct").isNotNull()
    )
    return r.groupBy("user_id").agg(
        F.round(F.stddev_samp("return_pct"), 4).alias("volatility"),
        F.round(F.avg("return_pct"), 4).alias("mean_return"),
        F.count("*").alias("n_returns"),
    )


@register(
    "hll_rollup_daily_users",
    oracle="""
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS union_tracks_direct,
           TRUE AS est_within_5se
    FROM events GROUP BY 1
    """,
    tags=("sketch", "rollup", "approx", "timeseries", "invariant-oracle"),
    # rotation r6: extended; the value-checkable CMS rollup twin carries
    # the family's driver slot (cms_rollup_daily_tokens)
    # promoted r9: the r8 invariant-oracle upgrade has zero driver evidence
    # rotation r11: twice driver-green (r9, r10) — demoted per discipline
    driver=False,
)
def hll_rollup_daily_users(spark, sf_dir):
    """Daily distinct-user HyperLogLog rollup with an INVARIANT value
    oracle (formerly rows-only — DataSketches estimates have no DuckDB
    twin, but the sketch's DEFINING PROPERTIES do): the registered
    output is the exact per-day distinct count (differentially checked
    against DuckDB) carrying two booleans the oracle pins TRUE —
    ``union_tracks_direct`` (the day estimate derived by UNIONING the
    hourly sketch partials stays within max(0.5%·exact, 4) of the
    estimate from sketching the raw day directly — the merge-soundness
    bound; register values merge exactly by max, but the union-result
    and direct-built sketches take different ESTIMATOR paths once
    dense mode kicks in, measured ≤0.3% apart at sf0.1's ~1.3k
    distincts/day and exactly equal in the sparse regime, where
    tests/test_approx.py pins strict equality) and ``est_within_5se``
    (|estimate − exact| ≤ max(5·1.04/√4096·exact, 4): the lgK=12 error
    bound with a 5σ acceptance margin — the diagnostic tests pin 3σ;
    the registered bound is looser so fixture regeneration never
    flakes the row). If either property ever breaks, the boolean flips
    and the value hash fails. The raw estimate face remains
    ``operators.sketches.hll_rollup``. Scale shape unchanged: raw
    scanned once into hour sketches, the day level unions kilobyte
    partials (the exact count here is the verification face's cost,
    not the operator's)."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    fine = sketches.hll_fine_sketches(ev, "ts", "user_id", fine="hour")
    rolled = sketches.hll_rollup(fine, coarse="day").select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        F.col("approx_distinct").alias("_est_rollup"),
    )
    # the direct arm must NOT route through hll_union_agg (a union of a
    # single day sketch would put both arms on the union estimator path
    # and weaken the invariant to a tautology — ADVICE r8): sketch at
    # day granularity and estimate straight off hll_sketch_agg, the
    # same construction tests/test_approx.py pins.
    direct = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket_start")).agg(
        F.round(F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user_id"), F.lit(12))))
        .cast("long")
        .alias("_est_direct")
    ).select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        "_est_direct",
    )
    exact = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    se = 1.04 / (4096.0 ** 0.5)
    return (
        exact.join(rolled, "day")
        .join(direct, "day")
        .select(
            "day",
            "exact_distinct",
            (
                F.abs(F.col("_est_rollup") - F.col("_est_direct"))
                <= F.greatest(F.lit(0.005) * F.col("exact_distinct"), F.lit(4.0))
            ).alias("union_tracks_direct"),
            (
                F.abs(F.col("_est_rollup") - F.col("exact_distinct"))
                <= F.greatest(F.lit(5.0 * se) * F.col("exact_distinct"), F.lit(4.0))
            ).alias("est_within_5se"),
        )
    )


@register(
    "kmv_overlap_daily_users",
    oracle="""
    WITH du AS MATERIALIZED (
      SELECT DISTINCT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS seg,
             user_id
      FROM events
      WHERE strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') < '2024-01-08'
    ),
    dh AS MATERIALIZED (
      SELECT DISTINCT seg,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM du
    ),
    loc AS (
      SELECT seg, h, ROW_NUMBER() OVER (PARTITION BY seg, h % 64 ORDER BY h) AS rn FROM dh
    ),
    parts AS (
      SELECT seg, list_sort(list(h)) AS part FROM loc WHERE rn <= 128 GROUP BY seg, h % 64
    ),
    sk AS MATERIALIZED (
      SELECT seg, list_sort(flatten(list(part)))[1:128] AS kmin FROM parts GROUP BY seg
    ),
    pr AS (
      SELECT a.seg AS day_a, b.seg AS day_b, a.kmin AS ka, b.kmin AS kb,
             list_sort(list_distinct(a.kmin || b.kmin)) AS uf
      FROM sk a JOIN sk b ON a.seg < b.seg
    ),
    est AS (
      SELECT day_a, day_b,
        ROUND((len(list_intersect(list_intersect(uf[1:128], ka), kb)) / len(uf[1:128]))
        * (CASE WHEN len(uf) < 128 THEN CAST(len(uf) AS DOUBLE)
                ELSE 545460846592.0 / CAST(uf[128] AS DOUBLE) END), 6) AS overlap_est
      FROM pr
    ),
    ex AS (
      SELECT a.seg AS day_a, b.seg AS day_b, CAST(COUNT(*) AS BIGINT) AS exact_overlap
      FROM du a JOIN du b ON a.user_id = b.user_id AND a.seg < b.seg
      GROUP BY 1, 2
    )
    SELECT e.day_a, e.day_b, x.exact_overlap, e.overlap_est, TRUE AS est_within_bound
    FROM est e JOIN ex x ON e.day_a = x.day_a AND e.day_b = x.day_b
    """,
    tags=("sketch", "kmv", "approx", "set-intersection", "timeseries"),
    # r12 rotation: >=2 straight driver greens; slot goes to the
    # partitioned-snapshot face (still oracle-checked every local run)
    driver=False,
)
def kmv_overlap_daily_users(spark, sf_dir):
    """Distinct-user OVERLAP between day segments estimated from KMV
    (bottom-k) sketches — the set-operation capability HLL lacks
    (sketches can INTERSECT: merge two kmin lists, re-take the k
    smallest = the exact KMV of the union; the fraction of those
    present in both inputs estimates Jaccard; overlap = jaccard x
    union-estimate). The engine's 6th mergeable-sketch family, and the
    only approximate-distinct face with a FULL SQL differential: every
    step is deterministic md5 integer/float algebra, so the DuckDB
    oracle replays the sketch construction, merge and estimator
    BIT-FOR-BIT (operators/sketches.kmv_sketches — k=128, shard-merged
    bottom-k, never a whole-segment sort in one task). The estimate is
    hash-compared at ROUND(., 6); ``est_within_bound`` additionally pins
    |est − exact| ≤ max(0.35·exact, 15) — ≈4σ at k=128 (measured max
    rel err 0.054 at sf0.01 / 0.131 at sf0.1). At 100 TB the exact
    self-join here is the verification face's cost, not the
    operator's: sketches are kilobytes per segment, pairs combine
    sketches only."""
    from ..operators import sketches

    K = 128
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    base = ev.select(day.alias("seg"), "user_id").filter(F.col("seg") < "2024-01-08")
    sk = sketches.kmv_sketches(base, "seg", "user_id", k=K, n_shards=64)
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(b, F.col("a.seg") < F.col("b.seg")).select(
        F.col("a.seg").alias("day_a"),
        F.col("b.seg").alias("day_b"),
        F.col("a.kmin").alias("ka"),
        F.col("b.kmin").alias("kb"),
    )
    o = sketches.kmv_overlap("ka", "kb", K)
    # ROUND(., 6) both arms (oracle-portability convention): the raw
    # double is byte-identical today, but unrounded float hash-compares
    # are fragile to engine/version repr drift; est_within_bound below
    # stays the semantic check.
    est = pairs.select(
        "day_a", "day_b", F.round(o["overlap_est"], 6).alias("overlap_est")
    )
    du = base.distinct()
    exact = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id")) & (F.col("x.seg") < F.col("y.seg")),
        )
        .groupBy(F.col("x.seg").alias("day_a"), F.col("y.seg").alias("day_b"))
        .agg(F.count("*").cast("long").alias("exact_overlap"))
    )
    return est.join(exact, ["day_a", "day_b"]).select(
        "day_a",
        "day_b",
        "exact_overlap",
        "overlap_est",
        (
            F.abs(F.col("overlap_est") - F.col("exact_overlap"))
            <= F.greatest(F.lit(0.35) * F.col("exact_overlap"), F.lit(15.0))
        ).alias("est_within_bound"),
    )


@register(
    "linear_count_daily_users",
    oracle="""
    WITH b AS (
      SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 4096 AS bucket
      FROM events
    ),
    d AS (
      SELECT strftime(day, '%Y-%m-%d') AS day,
             CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_occupied
      FROM b GROUP BY 1
    )
    SELECT day, n_occupied,
           -4096.0 * ln(1.0 - LEAST(n_occupied, 4095) / 4096.0) AS est_distinct
    FROM d
    """,
    tags=("sketch", "rollup", "approx", "linear-counting", "timeseries"),
    # r12 rotation: 5 straight driver greens (r7-r11); slot goes to
    # snapshot_analyze_orders, which drives the SAME md5 bucket scheme
    # through the lakehouse metadata path — still oracle-checked locally
    driver=False,
)
def linear_count_daily_users(spark, sf_dir):
    """LINEAR-COUNTING distinct rollup — the first approximate-distinct
    face with a FULL value oracle (the HLL twin is rows-only by nature:
    DataSketches has no DuckDB replay; this sketch is md5-deterministic
    so BOTH engines rebuild the identical bitmap). The 5th mergeable-
    partial family: hourly partials are DISTINCT (hour, bucket) rows —
    kilobytes per hour at any corpus size, since the bitmap is bounded
    by m=4096 regardless of traffic — and the day level merges by set
    UNION (idempotent, replay-safe like HLL, unlike the addition-based
    CMS/histogram stores). Estimate = −m·ln(1−V) with V the occupied
    fraction: the division is one exact int/int op, and ln differs
    across engines by ≤1 ulp — raw output, NO rounding, absorbed by the
    comparator's 1e-9 relative tolerance (per the portability rule:
    never round per-row doubles — a 4dp grid would CREATE repr-boundary
    risk, not remove it). Full occupancy (V=1, where the estimator is
    undefined and DuckDB's ln(0) raises) clamps to (m−1)/m on both
    engines — the saturation value a linear counter reports when it
    needs a bigger m. Standard-error ~ sqrt(m·(e^V−V−1))/m bounds are
    pinned vs exact distincts in tests/test_approx.py."""
    from ..functions.hashing import hex32_to_long

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.pmod(hex32_to_long(F.md5(F.col("user_id").cast("string"))), F.lit(4096)).alias("bucket"),
    ).distinct()
    d = b.groupBy("day").agg(
        F.countDistinct("bucket").cast("long").alias("n_occupied")
    )
    v = F.least(F.col("n_occupied"), F.lit(4095)) / F.lit(4096.0)
    return d.select(
        "day",
        "n_occupied",
        (F.lit(-4096.0) * F.log(F.lit(1.0) - v)).alias("est_distinct"),
    )


@register(
    "cms_rollup_daily_tokens",
    oracle="""
    WITH hrows AS (SELECT unnest(range(4)) AS hrow),
    ex AS MATERIALIZED (
      SELECT CAST(user_id AS VARCHAR) AS token,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT token, SUM(n) AS tn FROM ex GROUP BY token),
    probes AS (SELECT token FROM tot ORDER BY tn DESC, token LIMIT 10),
    cms AS MATERIALIZED (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, hrow,
             ('0x' || substr(md5(CAST(hrow AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket,
             COUNT(*) AS n
      FROM events CROSS JOIN hrows GROUP BY 1, 2, 3
    ),
    pb AS (
      SELECT p.token, r.hrow,
             ('0x' || substr(md5(CAST(r.hrow AS VARCHAR) || ':' || p.token), 1, 8))::BIGINT % 256 AS bucket
      FROM probes p CROSS JOIN hrows r
    ),
    est AS (
      SELECT d.day, pb.token, MIN(COALESCE(c.n, 0)) AS cms_count
      FROM (SELECT DISTINCT day FROM cms) d
      CROSS JOIN pb
      LEFT JOIN cms c ON c.day = d.day AND c.hrow = pb.hrow AND c.bucket = pb.bucket
      GROUP BY d.day, pb.token
    )
    SELECT e.day, e.token, CAST(e.n AS BIGINT) AS exact_count,
           CAST(est.cms_count AS BIGINT) AS cms_count
    FROM ex e
    JOIN est ON est.day = e.day AND est.token = e.token
    """,
    tags=("sketch", "count-min", "rollup", "timeseries"),
    # rotation r12: driver-green r6-r11 (6 straight); the sketch family
    # keeps cms_token_counts + quantile_rollup + kmv + linear_count rows
    driver=False,
)
def cms_rollup_daily_tokens(spark, sf_dir):
    """DAILY count-min point estimates derived from HOURLY CMS counter
    partials (operators/sketches.cms_fine_tables → cms_rollup_tables →
    cms_bucket_estimates) — the value-oracled twin of
    ``hll_rollup_daily_users``: raw events are scanned ONCE into hourly
    d×w counter tables; the day level SUMS counters (addition is the
    CMS merge, exact for any split), so the coarse estimates are
    bit-identical to a direct day-level build — which is exactly what
    the DuckDB oracle computes. Probes are the global top-10 users
    (tie-broken by token); output compares each probe's per-day exact
    count with its rolled-up CMS estimate. At 100 TB the rollup reads
    kilobyte partials, never the raw history; the query face scans raw
    events twice (exact per-day counts — the comparison column — and
    the fine counter build), with the probe list RE-aggregated from the
    per-day exact counts rather than a third corpus scan, exactly as
    the oracle's ``tot`` derives from ``ex``."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("string").alias("token")
    )
    exact_day = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "token"
    ).agg(F.count(F.lit(1)).alias("exact_count"))
    probes = (
        exact_day.groupBy("token")
        .agg(F.sum("exact_count").alias("_tn"))
        .orderBy(F.col("_tn").desc(), "token")
        .limit(10)
        .select("token")
    )
    fine = sketches.cms_fine_tables(ev, "ts", "token", fine="hour", depth=4, width=256)
    daily = sketches.cms_rollup_tables(fine, coarse="day")
    est = sketches.cms_bucket_estimates(daily, probes, "token", depth=4, width=256)
    est = est.select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"), "token", "cms_count"
    )
    return exact_day.join(est, ["day", "token"]).select(
        "day",
        "token",
        F.col("exact_count").cast("long").alias("exact_count"),
        F.col("cms_count").cast("long").alias("cms_count"),
    )


# ONE quantile-rollup oracle + ONE Spark read-out tail, shared by the
# one-shot rollup query and the incremental-refresh face: both must
# verify against the IDENTICAL definition (same bins, same q×total
# rule), so — like _INC_NEAR_DUP_ORACLE — there is exactly one copy.
_QUANTILE_ROLLUP_ORACLE = """
    WITH b AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 500.0 * 200.0), 0), 199) AS INTEGER) AS bin,
             COUNT(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT day, bin, n,
             SUM(n) OVER (PARTITION BY day ORDER BY bin) AS cum,
             SUM(n) OVER (PARTITION BY day) AS total
      FROM b
    )
    SELECT day,
           CAST(MAX(total) AS BIGINT) AS n_events,
           0.0 + MIN(CASE WHEN cum >= 0.5 * total THEN bin END) * 2.5 AS p50_est,
           0.0 + MIN(CASE WHEN cum >= 0.95 * total THEN bin END) * 2.5 AS p95_est
    FROM c GROUP BY day
    """


def _daily_quantiles_from_fine(fine):
    """Day rollup + p50/p95 read-out of an hourly histogram table, with
    the output shape both quantile queries share (parameters here are
    the literals baked into _QUANTILE_ROLLUP_ORACLE)."""
    from ..operators import quality

    daily = quality.histogram_rollup(fine, coarse="day")
    est = quality.binned_quantiles(daily, (0.5, 0.95), lo=0.0, hi=500.0, n_bins=200)
    return est.select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        F.col("n_rows").alias("n_events"),
        "p50_est",
        "p95_est",
    )


@register(
    "quantile_rollup_daily_values",
    oracle=_QUANTILE_ROLLUP_ORACLE,
    tags=("sketch", "quantile", "histogram", "rollup", "timeseries"),
    # rotation r12: driver-green r6-r11 (6 straight); the sketch family
    # keeps cms_token_counts + kmv + linear_count + stream_quantile rows
    driver=False,
)
def quantile_rollup_daily_values(spark, sf_dir):
    """DAILY quantile estimates (p50/p95 of events.value) derived from
    HOURLY binned-histogram partials (operators/quality.
    binned_histogram_tables → histogram_rollup → binned_quantiles) —
    the fourth mergeable-partial family after OHLC bars, HLL sketches,
    and CMS counters: exact COUNT-based quantiles cannot roll up, but
    fixed-bin histogram counts merge by ADDITION, so one raw scan
    builds hourly 200-bin tables and every coarser level reads
    kilobyte partials. The estimate (lower edge of the first bin whose
    cumulative count reaches q×total; error ≤ bin width 2.5, pinned in
    tests/test_rollup.py) is deterministic integer+literal arithmetic —
    unlike t-digest/KLL it hash-matches an exact SQL twin, which
    rebuilds the day level directly and must agree because addition is
    exact for any split."""
    from ..operators import quality

    ev = load_table(spark, sf_dir, "events")
    fine = quality.binned_histogram_tables(
        ev, "ts", "value", lo=0.0, hi=500.0, n_bins=200, fine="hour"
    )
    return _daily_quantiles_from_fine(fine)


@register(
    "histogram_incremental_refresh_events",
    oracle=_QUANTILE_ROLLUP_ORACLE,
    tags=("maintenance", "quantile", "histogram", "continuous-aggregate", "incremental-refresh"),
    # rotation r7: promoted for a first driver row (the refresh face was
    # the only member of its family never driver-checked)
)
def histogram_incremental_refresh_events(spark, sf_dir):
    """BATCH incremental refresh of the binned-histogram store
    (operators/quality.refresh_histogram_fine), oracle-checked: events
    arrive as THREE batches (``event_id % 3`` — adversarial interleave,
    so nearly every (day, bin) cell receives counts from all three
    refreshes and every refresh after the first is a late-data merge);
    each batch's hourly bin counts ADD into exactly the affected
    (bucket_start, bin) rows of the materialized store, rewriting only
    touched date partitions. Counts merge exactly for any split, so the
    daily quantile estimates read from the refreshed store are
    IDENTICAL to the one-shot build the oracle computes — the fourth
    store on the shared maintenance scaffold (bars, HLL, CMS,
    histograms)."""
    from ..operators import quality
    from .workdirs import fresh_result_dir

    ev = load_table(spark, sf_dir, "events")
    store = fresh_result_dir("hist_refresh")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for b in range(3):
            batch = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            quality.refresh_histogram_fine(
                spark, store, batch, "ts", "value", lo=0.0, hi=500.0, n_bins=200,
                fine="hour",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    fine = spark.read.parquet(store).drop("part_date")
    return _daily_quantiles_from_fine(fine)


@register(
    "gapfill_hourly_events",
    oracle="""
    WITH bars AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket, AVG(value) AS v
      FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM bars GROUP BY user_id),
    grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM spans),
    j AS (
      SELECT g.user_id, g.bucket, bars.v
      FROM grid g LEFT JOIN bars ON g.user_id = bars.user_id AND g.bucket = bars.bucket
    )
    SELECT user_id,
           TIMESTAMP '1970-01-01' + (bucket * 3600) * INTERVAL 1 SECOND AS bucket_start,
           ROUND(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled,
           (v IS NULL) AS gap_filled
    FROM j
    """,
    tags=("timeseries", "gapfill", "locf", "resample"),
    driver=False,  # rotation r7: driver-green r4-r6; family keeps other driver rows
)
def gapfill_hourly_events(spark, sf_dir):
    """Hourly per-user grid with LOCF gap filling (hypertable
    ``time_bucket_gapfill`` shape, operators/windows.gapfill_locf):
    every hour between a user's first and last event gets a row; empty
    hours carry the last seen hourly mean and are flagged."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.gapfill_locf(ev, "user_id", "ts", "value", bucket_seconds=3600)
    return out.select(
        "user_id", "bucket_start", F.round("value_filled", 6).alias("value_filled"), "gap_filled"
    )


@register(
    "rolling_corr_lineitem",
    oracle="""
    WITH s AS (
      SELECT l_suppkey, l_shipdate, l_orderkey * 8 + l_linenumber AS seq,
             l_quantity, l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT l_suppkey, seq,
           ROUND(corr(l_quantity, l_extendedprice) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, seq, l_quantity, l_extendedprice, l_discount
             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 6) AS qty_price_corr
    FROM s
    """,
    tags=("timeseries", "window", "correlation"),
    driver=False,  # rotation r7: driver-green r4-r6; the timeseries window family keeps ample driver evidence
)
def rolling_corr_lineitem(spark, sf_dir):
    """Trailing-30 Pearson correlation of quantity vs price per supplier
    (operators/windows.rolling_corr) — co-movement drift over each
    supplier's shipment history; one key shuffle, external per-key
    sort.

    Tiebreak note: the fixture's lineitem carries DUPLICATE
    (l_orderkey, l_linenumber) pairs (up to 6 copies with different
    values at sf0.1), so ``seq`` alone does not totalize the window
    order — engines were free to order tied rows differently and the
    trailing frames diverged (~350 rows at sf0.1). The order therefore
    extends through the value columns; rows still tied after that are
    identical in every column the window reads, which makes the
    remaining ambiguity value-invariant."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_shipdate",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("seq"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    out = windows.rolling_corr(
        li, "l_suppkey", "l_shipdate", "l_quantity", "l_extendedprice",
        n=30, out="qty_price_corr",
        tiebreak=["seq", "l_quantity", "l_extendedprice", "l_discount"],
    )
    return out.select(
        "l_suppkey", "seq", F.round("qty_price_corr", 6).alias("qty_price_corr")
    )


@register(
    "ohlc_incremental_refresh_events",
    oracle="""
    SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           arg_min(value, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, event_id) AS close,
           COUNT(*) AS n_ticks
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    """,
    tags=("maintenance", "ohlc", "continuous-aggregate", "incremental-refresh"),
    # rotation r12: driver-green r5-r11 (7 straight); the incremental-
    # refresh family keeps histogram_incremental + stream_ohlc driver rows
    driver=False,
)
def ohlc_incremental_refresh_events(spark, sf_dir):
    """BATCH incremental continuous-aggregate refresh, oracle-checked:
    the events table arrives as THREE deterministic batches (split by
    ``event_id % 3`` — an adversarial interleave where nearly every
    (user, hour) bar receives rows from all three refreshes, and batch
    order is NOT time order, i.e. every refresh after the first is a
    late-data merge). Each batch drives
    ``operators.windows.refresh_ohlc_fine`` against a materialized
    hourly-bar store: only the batch's partial bars are computed, only
    the affected (key, bucket) bars are merged, and only the touched
    date partitions are rewritten. Because bars are exactly mergeable
    (seq-carried open/close), the final store is IDENTICAL to the
    one-shot tumbling aggregation the oracle computes — for ANY split
    of the input. This is the batch face of the maintenance surface
    whose streaming face is ``stream_ohlc_maintenance``; refresh cost
    at 100 TB is O(batch + affected partitions), never O(history).
    The store is private per invocation (plans/workdirs.py — a
    deterministic shared path would let a concurrent run's bootstrap
    rmtree land between this run's refreshes, silently losing bars;
    stale run dirs are swept there)."""
    from ..operators.windows import refresh_ohlc_fine
    from .workdirs import fresh_result_dir

    ev = load_table(spark, sf_dir, "events")
    store = fresh_result_dir("ohlc_refresh")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for b in range(3):
            batch = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            refresh_ohlc_fine(
                spark, store, batch,
                key="user_id", ts="ts", value="value", seq="event_id",
                duration="1 hour",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(store).select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "twap_hourly_events",
    oracle="""
    WITH seg AS (
      SELECT user_id, date_trunc('hour', ts) AS bkt, value,
             epoch(LEAD(ts) OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id)) - epoch(ts) AS dt
      FROM events
    )
    SELECT user_id,
           strftime(bkt, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           ROUND(SUM(value * dt) / SUM(dt), 4) AS twap,
           CAST(COUNT(dt) AS BIGINT) AS n_segments
    FROM seg GROUP BY user_id, bkt HAVING SUM(dt) > 0
    """,
    tags=("timeseries", "twap", "time-weighted", "window"),
)
def twap_hourly_events(spark, sf_dir):
    """TIME-weighted average price per user per hour (operators/
    windows.time_weighted_average) — the irregular-sampling companion
    of VWAP/OHLC: each tick holds until the next tick in the bucket
    and is weighted by that duration, so a burst of identical ticks
    cannot drag the average the way a row-weighted mean lets it
    (the standard market-data/sensor TWAP, right-open segments,
    zero-duration buckets dropped). One lead() shuffle keyed
    (user, hour) + a partial-aggregating groupBy; the oracle replays
    segments, weights, and the degenerate-bucket filter in SQL."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.time_weighted_average(
        ev, "user_id", "ts", "value", bucket="hour", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.round("twap", 4).alias("twap"),
        "n_segments",
    )


@register(
    "rolling_median_events",
    oracle="""
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6) AS rolling_median
    FROM events
    """,
    tags=("timeseries", "percentile", "median", "robust", "window"),
)
def rolling_median_events(spark, sf_dir):
    """EXACT rolling median over the trailing 25 ticks per user
    (operators/windows.rolling_percentile) — the robust-statistics
    complement of the trailing mean: a handful of outlier ticks drag a
    mean arbitrarily but move a median by at most one rank. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the continuous-
    interpolation definition, so the differential is exact (rounded at
    6 for the interpolation arithmetic). Per-key O(frame) state — the
    honest cost of exactness at this frame size; unbounded frames
    switch to the mergeable binned-histogram family (quantile_rollup
    faces), which is why both live in this engine."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.rolling_percentile(
        ev, "user_id", "ts", "value", 0.5, 25,
        out="rolling_median", tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", F.round("rolling_median", 6).alias("rolling_median")
    )


@register(
    "seasonal_decompose_events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bkt, AVG(value) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    tr AS (
      SELECT *, AVG(v) OVER (PARTITION BY event_type ORDER BY bkt
                             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS trend
      FROM hourly
    ),
    se AS (
      SELECT *, AVG(v - trend) OVER (PARTITION BY event_type, hour(bkt)) AS seasonal
      FROM tr
    )
    -- +1e-9 before rounding: 2-decimal source values make these plain
    -- averages land EXACTLY on 4th-decimal halves, where engine sum
    -- order decides the side; the shared nudge moves both engines off
    -- the half by the same margin (invisible at 4 dp otherwise)
    SELECT event_type, strftime(bkt, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           ROUND(v + 1e-9, 4) AS v, ROUND(trend + 1e-9, 4) AS trend,
           ROUND(seasonal + 1e-9, 4) AS seasonal,
           ROUND(v - trend - seasonal + 1e-9, 4) AS resid
    FROM se
    """,
    tags=("timeseries", "seasonal", "decomposition", "window"),
    driver=False,  # extended tier: evidence via the full-suite sweep
)
def seasonal_decompose_events(spark, sf_dir):
    """NAIVE SEASONAL DECOMPOSITION per event_type (operators/windows.
    seasonal_decompose, r13): hourly means split into trailing-24h
    trend + hour-of-day seasonal profile + residual — the triage verb
    that separates "daily rhythm" from "genuinely anomalous" in a
    metric series. One raw-data pass builds the hourly grid; both
    decomposition windows run over the grid (ROWS framing, engine-
    reproducible on gaps). Completes the TS family's analysis axis
    (OHLC/TWAP = levels, EWMA/trend = smoothing/forecast, gapfill =
    regularization, THIS = structure attribution)."""
    ev = load_table(spark, sf_dir, "events")
    from ..operators import windows as W

    out = W.seasonal_decompose(ev, "event_type", "ts", "value")
    eps = F.lit(1e-9)  # off-the-half nudge, mirrored in the oracle
    return out.select(
        "event_type",
        F.date_format("bkt", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.round(F.col("v") + eps, 4).alias("v"),
        F.round(F.col("trend") + eps, 4).alias("trend"),
        F.round(F.col("seasonal") + eps, 4).alias("seasonal"),
        F.round(F.col("resid") + eps, 4).alias("resid"),
    )
