"""Streaming FROM the snapshot store (sources/snapshot_source.py):
version-offset algebra, delta planning by metadata set difference,
deterministic replay, schema derivation, and the append-only contract
(rewrite commits refused)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_source import (
    SnapshotChangesDataSource,
    SnapshotChangesStreamReader,
    _table_ddl,
)


def _flat(it):
    """Flatten the reader's RecordBatch iterator to row tuples — the
    pre-r16 unit-test view of the stream (the engine consumes the
    batches directly; see snapshot_source._rows)."""
    rows = []
    for b in it:
        rows.extend(zip(*[c.to_pylist() for c in b.columns]))
    return rows


def _build(spark, d, n_commits=3, rows=30):
    for i in range(n_commits):
        snap.snapshot_append(
            spark,
            d,
            spark.range(i * rows, (i + 1) * rows).select(
                F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
            ),
            stats_cols=["k"],
        )


def test_one_commit_per_batch_and_replay(spark, tmp_path):
    d = str(tmp_path / "t")
    _build(spark, d)
    r = SnapshotChangesStreamReader({"table_dir": d})
    assert r.initialOffset() == {"version": 0}
    it, nxt = r.read({"version": 0})
    rows1 = sorted(_flat(it))
    assert nxt == {"version": 1} and [k for k, _ in rows1] == list(range(30))
    it, nxt = r.read({"version": 1})
    rows2 = sorted(_flat(it))
    assert nxt == {"version": 2} and [k for k, _ in rows2] == list(range(30, 60))
    # quiesced: offset at head does not advance
    it, nxt = r.read({"version": 3})
    assert _flat(it) == [] and nxt == {"version": 3}
    # recovery replay over a multi-version range is deterministic
    replay = sorted(_flat(r.readBetweenOffsets({"version": 0}, {"version": 2})))
    assert replay == sorted(rows1 + rows2)


def test_starting_version_skips_history(spark, tmp_path):
    d = str(tmp_path / "t")
    _build(spark, d)
    r = SnapshotChangesStreamReader({"table_dir": d, "startingVersion": 2})
    assert r.initialOffset() == {"version": 2}
    it, nxt = r.read({"version": 2})
    assert sorted(k for k, _ in _flat(it)) == list(range(60, 90))


def test_rewrite_commits_are_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=2)
    snap.snapshot_compact(spark, d, target_files=1)  # v3 = rewrite
    r = SnapshotChangesStreamReader({"table_dir": d})
    assert sorted(k for k, _ in _flat(r.read({"version": 0})[0])) == list(range(30))
    with pytest.raises(ValueError, match="compaction"):
        r.read({"version": 2})
    snap.snapshot_merge(
        spark, d, spark.createDataFrame([(0, 0.0)], "k long, v double"), key="k"
    )  # v4 = merge
    with pytest.raises(ValueError, match="merge"):
        r._delta_paths(3, 4)


def test_schema_derived_from_footer(spark, tmp_path):
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=1)
    assert _table_ddl(d) == "k bigint, v double"
    ds = SnapshotChangesDataSource({"table_dir": d})
    assert ds.schema() == "k bigint, v double"


def test_end_to_end_stream_equals_table(spark, tmp_path):
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_source import (
        register_snapshot_changes,
    )

    d = str(tmp_path / "t")
    _build(spark, d)
    register_snapshot_changes(spark)
    # NOT availableNow: the simple-reader wrapper plans one prefetched
    # batch per poll, so draining the commit history needs the default
    # trigger + processAllAvailable (same pattern as the ticks face)
    q = (
        spark.readStream.format("snapshot_changes")
        .option("table_dir", d)
        .load()
        .writeStream.format("memory")
        .queryName("snap_changes_e2e")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches == [30, 30, 30]  # one micro-batch per commit
    got = {r.k: r.v for r in spark.table("snap_changes_e2e").collect()}
    assert got == {k: k * 2.0 for k in range(90)}


def test_max_commits_per_batch_coalesces_backfill(spark, tmp_path):
    """maxCommitsPerBatch (the maxFilesPerTrigger analog): a stream
    seeded at 0 on a 5-commit table with cap 2 catches up in 3 batches
    (2+2+1 commits), each batch's rows exactly the commits it admitted,
    and offsets still land on commit boundaries (replayable ranges)."""
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=5)
    r = SnapshotChangesStreamReader({"table_dir": d, "maxCommitsPerBatch": "2"})
    it, nxt = r.read({"version": 0})
    assert nxt == {"version": 2}
    assert sorted(k for k, _ in _flat(it)) == list(range(60))
    it, nxt = r.read({"version": 2})
    assert nxt == {"version": 4}
    assert sorted(k for k, _ in _flat(it)) == list(range(60, 120))
    it, nxt = r.read({"version": 4})
    assert nxt == {"version": 5}  # partial tail: never overshoots head
    assert sorted(k for k, _ in _flat(it)) == list(range(120, 150))
    # replay of a coalesced range is bit-identical
    replay = sorted(_flat(r.readBetweenOffsets({"version": 0}, {"version": 2})))
    assert [k for k, _ in replay] == list(range(60))
    with pytest.raises(ValueError, match="maxCommitsPerBatch"):
        SnapshotChangesStreamReader({"table_dir": d, "maxCommitsPerBatch": "0"})


def test_rewrite_inside_coalesced_range_refuses(spark, tmp_path):
    """A compaction commit anywhere inside an admitted range refuses
    the whole batch — coalescing must not smuggle a rewrite through."""
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=2)
    snap.snapshot_compact(spark, d, target_files=1)  # v3 rewrite
    _build_more = spark.range(60, 70).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    snap.snapshot_append(spark, d, _build_more, stats_cols=["k"])  # v4
    r = SnapshotChangesStreamReader({"table_dir": d, "maxCommitsPerBatch": "10"})
    with pytest.raises(ValueError, match="compaction"):
        r.read({"version": 2})


def test_change_feed_merge_and_delete(spark, tmp_path):
    """CDF reader semantics across the commit taxonomy: appends emit
    synthesized inserts; a change_feed=True MERGE emits preimages for
    matched keys, postimages for its update rows, inserts for new
    keys; a change_feed=True equality delete emits the deleted rows;
    a compaction emits NOTHING (rewrite, no logical change); versions
    stamp _commit_version."""
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=1)  # v1: keys 0..29, v = 2k
    upd = spark.range(28, 32).select(
        F.col("id").alias("k"), (F.col("id") * 100.0).alias("v")
    )
    out = snap.snapshot_merge(spark, d, upd, key="k", change_feed=True)  # v2
    assert out["version"] == 2
    snap.snapshot_delete(
        spark, d,
        spark.range(0, 2).select(F.col("id").alias("k")),
        "k", change_feed=True,
    )  # v3
    snap.snapshot_compact(spark, d, target_files=1)  # v4: no logical change
    r = SnapshotChangesStreamReader({"table_dir": d, "readChangeFeed": "true",
                                     "maxCommitsPerBatch": "10"})
    rows = sorted(_flat(r._cdf_rows(0, 4)))
    by_type = {}
    for k, v, ct, ver in rows:
        by_type.setdefault(ct, []).append((k, v, ver))
    inserts_v1 = [(k, v) for k, v, ver in by_type["insert"] if ver == 1]
    assert sorted(inserts_v1) == [(k, k * 2.0) for k in range(30)]
    # merge: keys 28,29 matched (pre+post), 30,31 inserted at v2
    assert sorted((k, v) for k, v, ver in by_type["update_preimage"]) == [
        (28, 56.0), (29, 58.0)
    ]
    assert sorted((k, v) for k, v, ver in by_type["update_postimage"]) == [
        (28, 2800.0), (29, 2900.0)
    ]
    inserts_v2 = [(k, v) for k, v, ver in by_type["insert"] if ver == 2]
    assert sorted(inserts_v2) == [(30, 3000.0), (31, 3100.0)]
    # delete preimages at v3 (rows as of v2: k=0,1 untouched by merge)
    assert sorted((k, v, ver) for k, v, ver in by_type["delete"]) == [
        (0, 0.0, 3), (1, 2.0, 3)
    ]
    # v4 compaction contributed nothing
    assert all(ver <= 3 for rows_ in by_type.values() for _, _, ver in rows_)


def test_change_feed_refuses_unmaterialized_and_rollback(spark, tmp_path):
    d = str(tmp_path / "t")
    _build(spark, d, n_commits=1)
    upd = spark.range(0, 2).select(F.col("id").alias("k"), (F.col("id") * 9.0).alias("v"))
    snap.snapshot_merge(spark, d, upd, key="k")  # NO change feed
    r = SnapshotChangesStreamReader({"table_dir": d, "readChangeFeed": "true"})
    with pytest.raises(ValueError, match="WITHOUT"):
        r._cdf_rows(1, 2)
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    refs.snapshot_rollback(d, 1)  # v3
    with pytest.raises(ValueError, match="rollback"):
        r._cdf_rows(2, 3)


def test_change_feed_end_to_end_stream(spark, tmp_path):
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_source import (
        register_snapshot_changes,
    )

    d = str(tmp_path / "t")
    _build(spark, d, n_commits=2)
    upd = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 100.0).alias("v")
    )
    snap.snapshot_merge(spark, d, upd, key="k", change_feed=True)
    register_snapshot_changes(spark)
    q = (
        spark.readStream.format("snapshot_changes")
        .option("table_dir", d)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_e2e")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table("cdf_e2e")
    assert got.columns == ["k", "v", "_change_type", "_commit_version"]
    assert got.where("_change_type = 'insert' AND _commit_version <= 2").count() == 60
    posts = {
        r.k: r.v for r in got.where("_change_type = 'update_postimage'").collect()
    }
    assert posts == {5: 500.0, 6: 600.0, 7: 700.0}
    pres = {r.k: r.v for r in got.where("_change_type = 'update_preimage'").collect()}
    assert pres == {5: 10.0, 6: 12.0, 7: 14.0}


def test_plain_reader_refuses_rollback_commits(spark, tmp_path):
    """A rollback REMOVES rows from the live view; the plain row-delta
    reader must refuse it loudly (r12 review: the path set-difference
    read as an empty delta and silently stranded already-emitted rows
    downstream)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs

    d = str(tmp_path / "t")
    _build(spark, d, n_commits=2)
    refs.snapshot_rollback(d, 1)  # v3
    r = SnapshotChangesStreamReader({"table_dir": d})
    with pytest.raises(ValueError, match="rollback"):
        r.read({"version": 2})


def test_partition_filter_prunes_deltas_at_metadata_level(spark, tmp_path):
    """partitionFilter delivers ONLY the matching partition's rows
    across commits — pruning decided from entry pv (metadata), with
    pv-less delta files refusing loudly rather than leaking rows."""
    import json

    d = str(tmp_path / "t")
    for lo in (0, 30):
        snap.snapshot_append(
            spark,
            d,
            spark.range(lo, lo + 30).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("p"),
                (F.col("id") * 2.0).alias("v"),
            ),
            stats_cols=["k"],
            partition_by=["p"],
        )
    r = SnapshotChangesStreamReader(
        {"table_dir": d, "partitionFilter": json.dumps({"p": 1})}
    )
    it, nxt = r.read({"version": 0})
    ks = sorted(k for k, _, _ in _flat(it))
    assert ks == [k for k in range(30) if k % 3 == 1]
    it, _ = r.read({"version": 1})
    assert sorted(k for k, _, _ in _flat(it)) == [k for k in range(30, 60) if k % 3 == 1]
    # an unpartitioned commit's files have no pv -> loud refusal
    snap.snapshot_append(
        spark,
        d,
        spark.range(60, 63).select(
            F.col("id").alias("k"), F.lit("1").alias("p"), (F.col("id") * 2.0).alias("v")
        ),
        stats_cols=["k"],
        partition_by=None,
    )
    with pytest.raises(ValueError, match="no partition values"):
        r.read({"version": 2})
    # readChangeFeed + partitionFilter is refused at plan time
    with pytest.raises(ValueError, match="row-delta mode only"):
        SnapshotChangesStreamReader(
            {
                "table_dir": d,
                "partitionFilter": json.dumps({"p": 1}),
                "readChangeFeed": "true",
            }
        )


# --- boolean partition tokens through the partitionFilter option ---


def test_boolean_partition_filter_streaming_source(spark, tmp_path):
    """Same rendering through the streaming CDC source's
    partitionFilter option (JSON booleans)."""
    import json

    d = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("even")
    )
    snap.snapshot_append(spark, d, df, stats_cols=["k"], partition_by=["even"])

    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.snapshot_source import (
        register_snapshot_changes,
    )

    register_snapshot_changes(spark)
    q = (
        spark.readStream.format("snapshot_changes")
        .option("table_dir", d)
        .option("partitionFilter", json.dumps({"even": True}))
        .load()
        .writeStream.format("memory")
        .queryName("bool_pv_filter")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = sorted(r.k for r in spark.table("bool_pv_filter").collect())
    assert got == [0, 2, 4, 6, 8]
