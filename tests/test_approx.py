"""Approximate-aggregate error bounds vs exact answers (the sketch ops
are rows-only in the oracle corpus — this is their correctness check)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.plans.core import full_query_map
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def test_approx_within_bounds(spark):
    """approx_agg_stats' r8 rewrite folded the raw estimates into
    invariant booleans the oracle pins TRUE; this diagnostic asserts
    the registered schema (exact counts recomputed independently, all
    three sketch-bound booleans true for every group)."""
    got = {r.event_type: r for r in full_query_map()["approx_agg_stats"](spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for et, e in exact.items():
        g = got[et]
        assert g.n_rows == e.n  # count is exact
        assert g.exact_users == e.users  # distinct count face is exact
        assert g.users_within_4rsd, (et, g)  # HLL rsd=0.02, 4·rsd band
        assert g.p50_rank_ok and g.p95_rank_ok, (et, g)  # GK rank bound


def test_hll_rollup_union_equals_direct_and_bounds(spark):
    """Union of hourly sketches must give the IDENTICAL estimate as a
    sketch built directly at the day level, and land within HLL error
    bounds of the exact distinct count. Strict equality is a
    SPARSE-REGIME property (holds at sf0.01's per-day cardinalities);
    in dense mode the union-result and direct-built estimator paths
    diverge ≤0.3% (measured at sf0.1) — the registered query faces pin
    that bounded form (see operators/sketches.py module docstring)."""
    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    fine = sketches.hll_fine_sketches(ev, "ts", "user_id", fine="hour")
    rolled = {str(r["bucket_start"]): r["approx_distinct"] for r in sketches.hll_rollup(fine, "day").collect()}

    direct = {
        str(r["bucket_start"]): r["approx_distinct"]
        for r in sketches.hll_rollup(
            sketches.hll_fine_sketches(ev, "ts", "user_id", fine="day"), "day"
        ).collect()
    }
    assert rolled == direct  # lossless merge: same sketch algebra

    exact = {
        str(r["d"]): r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rolled) == set(exact)
    for d, est in rolled.items():
        assert abs(est - exact[d]) <= max(3, 0.05 * exact[d]), (d, est, exact[d])


def test_streaming_sketch_maintenance_equals_batch(spark, tmp_path):
    """Stream-maintained fine-sketch table == one-shot batch sketching,
    for an arbitrary micro-batch split — the lossless-merge guarantee —
    and replaying an epoch changes nothing (HLL union idempotency)."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    split_dir = os.path.join(tmp_path, "src")
    ev.repartition(4).write.parquet(split_dir)
    schema = spark.read.parquet(split_dir).schema
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(split_dir)
    store = os.path.join(tmp_path, "sketches")

    def maint(batch_df, epoch_id):
        sketches.refresh_hll_fine(spark, store, batch_df, "ts", "user_id")

    q = (
        s.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_path, "ckpt"))
        .foreachBatch(maint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def daily(df):
        return {
            (r["bucket_start"], r["approx_distinct"])
            for r in sketches.hll_rollup(df, "day").collect()
        }

    streamed = daily(spark.read.parquet(store))
    direct = daily(sketches.hll_fine_sketches(ev, "ts", "user_id"))
    assert streamed == direct and streamed
    # replay: merging the whole input AGAIN must not move any estimate
    sketches.refresh_hll_fine(spark, store, ev, "ts", "user_id")
    assert daily(spark.read.parquet(store)) == direct


def test_cms_guarantees_and_mergeability(spark):
    # Count-min invariants on a corpus with known counts: estimate >= exact
    # for EVERY token (not just probes), the overestimate is bounded by
    # eps*N with eps = e/width at the default width, and sketch partials
    # merge by addition (sum of per-half counters == full-corpus sketch).
    import math

    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [(i, words[i % 5]) for i in range(2000)] + [(9000 + i, "alpha") for i in range(500)]
    toks = spark.createDataFrame(rows, ["i", "tok"])
    depth, width = 4, 256
    cms = sketches.cms_table(toks, "tok", depth=depth, width=width)
    probes = toks.select("tok").distinct()
    est = {r.tok: r.cms_count for r in sketches.cms_estimates(cms, probes, "tok", depth, width).collect()}
    exact = {r.tok: r.n for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = sum(exact.values())
    eps = math.e / width
    for t, n in exact.items():
        assert est[t] >= n, (t, est[t], n)
        assert est[t] <= n + eps * n_total * 3, (t, est[t], n)  # generous slack

    # mergeability: counters of the halves sum to the full sketch
    h1 = sketches.cms_table(toks.filter(F.col("i") % 2 == 0), "tok", depth, width)
    h2 = sketches.cms_table(toks.filter(F.col("i") % 2 == 1), "tok", depth, width)
    merged = (
        h1.unionByName(h2).groupBy("row", "bucket").agg(F.sum("n").alias("n"))
    )
    full = {(r.row, r.bucket): r.n for r in cms.collect()}
    got = {(r.row, r.bucket): r.n for r in merged.collect()}
    assert got == full


def test_linear_counting_estimate_tracks_exact_distincts(spark):
    """The linear-counting estimate −m·ln(1−V) must track the exact
    per-day distinct-user counts within a few standard errors
    (se ≈ sqrt(m·(e^V − V − 1))/1 for the raw count estimate), and the
    occupied-bucket count can never exceed the exact distinct count."""
    import math

    from stock_price_prediction_using_stream_and_batch_processing_spark.plans.core import get
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.01"
    est = {r.day: (r.n_occupied, r.est_distinct)
           for r in get("linear_count_daily_users").fn(spark, SF).collect()}
    exact = {
        r.day: r.nd
        for r in load_table(spark, SF, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(est) == set(exact) and est
    m = 4096.0
    for day, (occ, e) in est.items():
        nd = exact[day]
        assert occ <= nd  # collisions only ever shrink the bitmap
        v = occ / m
        se = math.sqrt(m * (math.exp(v) - v - 1.0))
        assert abs(e - nd) <= max(4 * se, 2.0), (day, e, nd, se)


def _kmv_day_segments(spark, n_days: int):
    """(seg, user_id) rows for the first ``n_days`` day segments."""
    ev = load_table(spark, SF, "events")
    seg = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    cutoff = f"2024-01-{n_days + 1:02d}"
    return ev.select(seg.alias("seg"), "user_id").filter(F.col("seg") < cutoff)


def test_kmv_merge_equals_direct_build(spark):
    """Bottom-k property: merging two segments' KMV sketches
    (concatenate-dedup-sort-cut) yields EXACTLY the sketch built
    directly over the combined data — the mergeability claim in
    operators/sketches.kmv_merge, bit-for-bit."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    K = 64
    base = _kmv_day_segments(spark, 2)
    sk = sketches.kmv_sketches(base, "seg", "user_id", k=K)
    a, b = sk.alias("a"), sk.alias("b")
    merged = (
        a.join(b, F.col("a.seg") < F.col("b.seg"))
        .select(sketches.kmv_merge("a.kmin", "b.kmin", K).alias("kmin"))
        .collect()
    )
    assert len(merged) == 1
    direct = (
        sketches.kmv_sketches(
            base.withColumn("seg", F.lit("all")), "seg", "user_id", k=K
        )
        .select("kmin")
        .collect()
    )
    assert merged[0].kmin == direct[0].kmin


def test_kmv_estimate_exact_below_k(spark):
    """When a segment holds fewer than k distinct values the sketch IS
    the segment and the estimator must return the exact distinct count
    (the size() arm of operators/sketches.kmv_estimate)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    K = 1 << 20  # far above any sf0.01 day-segment cardinality
    base = _kmv_day_segments(spark, 3)
    est = {
        r.seg: (r.n_sketch, r.est)
        for r in sketches.kmv_sketches(base, "seg", "user_id", k=K)
        .select(
            "seg",
            F.size("kmin").alias("n_sketch"),
            sketches.kmv_estimate("kmin", K).alias("est"),
        )
        .collect()
    }
    exact = {
        r.seg: r.nd
        for r in base.groupBy("seg")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(est) == set(exact) and est
    for seg, nd in exact.items():
        n_sketch, e = est[seg]
        assert n_sketch == nd, (seg, n_sketch, nd)
        assert e == float(nd), (seg, e, nd)


def test_kmv_shard_merge_equals_single_task(spark):
    """Shard-merged construction (the scale path: per-(seg, hash%n)
    local bottom-k, then a bounded array merge) must equal the
    single-shard build — n_shards is a parallelism knob, never a
    semantics knob (operators/sketches.kmv_sketches)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    K = 128
    base = _kmv_day_segments(spark, 4)
    sharded = {
        r.seg: r.kmin
        for r in sketches.kmv_sketches(base, "seg", "user_id", k=K, n_shards=64).collect()
    }
    single = {
        r.seg: r.kmin
        for r in sketches.kmv_sketches(base, "seg", "user_id", k=K, n_shards=1).collect()
    }
    assert sharded == single and len(sharded) == 4


def test_kmv_estimator_error_bound(spark):
    """(k−1)/t estimates per day-segment must land within ~4σ of the
    exact distinct counts at sf0.01 (σ ≈ 1/sqrt(k−2) ≈ 0.089 at
    k=128 — the same max(0.35·exact, 15) band the registered
    kmv_overlap_daily_users face pins)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    K = 128
    base = _kmv_day_segments(spark, 30)
    est = {
        r.seg: r.est
        for r in sketches.kmv_sketches(base, "seg", "user_id", k=K)
        .select("seg", sketches.kmv_estimate("kmin", K).alias("est"))
        .collect()
    }
    exact = {
        r.seg: r.nd
        for r in base.groupBy("seg")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(est) == set(exact) and len(est) >= 5
    for seg, nd in exact.items():
        assert abs(est[seg] - nd) <= max(0.35 * nd, 15.0), (seg, est[seg], nd)


def test_kmv_refresh_split_invariance_and_replay(spark, tmp_path):
    """The KMV store must be BIT-IDENTICAL for any batch split — merge
    three incremental refreshes vs one-shot — and exactly idempotent
    under replay of already-merged rows (the no-epoch-guard claim in
    operators/sketches.refresh_kmv_fine)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    K = 32
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "kmv_store")
    splits = [
        ev.filter(F.pmod(F.abs(F.col("event_id")), F.lit(3)) == i) for i in range(3)
    ]
    for part in splits:
        sketches.refresh_kmv_fine(spark, path, part, "ts", "user_id", k=K)
    merged = {
        str(r.bucket_start): r.kmin for r in spark.read.parquet(path).collect()
    }
    oneshot = {
        str(r.bucket_start): r.kmin
        for r in sketches.kmv_fine_sketches(ev, "ts", "user_id", k=K).collect()
    }
    assert merged == oneshot and len(merged) >= 5

    # replay: re-merge a subset already in the store; nothing may move
    sketches.refresh_kmv_fine(
        spark, path, ev.filter(F.pmod(F.abs(F.col("event_id")), F.lit(3)) == 0),
        "ts", "user_id", k=K,
    )
    replayed = {
        str(r.bucket_start): r.kmin for r in spark.read.parquet(path).collect()
    }
    assert replayed == merged


def test_refresh_hll_fine_partitioned_layout(spark, tmp_path):
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sketches

    store = str(tmp_path / "sk")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sketches.refresh_hll_fine(spark, store, ev, "ts", "user_id")
    # physically partitioned by UTC date
    assert any(d.startswith("part_date=") for d in os.listdir(store)), os.listdir(store)
    # layout mismatch is an error, not silent corruption
    with pytest.raises(ValueError, match="partitioned"):
        sketches.refresh_hll_fine(spark, store, ev, "ts", "user_id", partition_col=None)
