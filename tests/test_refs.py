"""Branches / tags / write-audit-publish / rollback over the snapshot
store (operators/refs.py): staged invisibility, audit reads, atomic
fast-forward publish with rebase over concurrent appends, tag + branch
retention roots, rollback content restoration with history intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import refs
from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _commit(spark, d, lo, hi, **kw):
    return snap.snapshot_append(spark, d, _df(spark, lo, hi), stats_cols=["k"], **kw)


def _keys(df):
    return sorted(r.k for r in df.collect())


def test_wap_stage_audit_publish(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    base = refs.branch_create(d, "audit")
    assert base == 1
    # WRITE: staged rows are invisible to main
    refs.branch_append(spark, d, "audit", _df(spark, 10, 20), stats_cols=["k"])
    assert _keys(snap.read_snapshot(spark, d)) == list(range(10))
    # AUDIT: the branch sees base + staged, with pruning intact
    assert _keys(refs.read_branch(spark, d, "audit")) == list(range(20))
    pruned = refs.read_branch(spark, d, "audit", prune_col="k", lo=15, hi=15)
    assert _keys(pruned.where("k = 15")) == [15]
    # PUBLISH: one atomic append fast-forwards main
    v = refs.branch_publish(d, "audit", drop=True)
    assert v == 2
    assert _keys(snap.read_snapshot(spark, d)) == list(range(20))
    meta = snap.read_snapshot_meta(d, 2)
    assert meta["wap_published_branch"] == "audit"
    assert meta["wap_base_version"] == 1
    assert "audit" not in refs.list_refs(d)["branches"]  # dropped


def test_publish_carries_stats_and_blooms_verbatim(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10, bloom_cols=["k"])
    refs.branch_create(d, "b")
    refs.branch_append(
        spark, d, "b", _df(spark, 10, 20), stats_cols=["k"], bloom_cols=["k"]
    )
    head_entries = {
        e["path"]: e
        for e in snap.snapshot_files(refs.branch_dir(d, "b"))
    }
    refs.branch_publish(d, "b")
    published = {e["path"]: e for e in snap.snapshot_files(d)}
    # every branch entry landed with identical stats + bloom payloads
    new_paths = set(published) - {
        e["path"] for e in snap.snapshot_files(d, 1)
    }
    assert new_paths
    for p in new_paths:
        for key in ("min_k", "max_k", "bloom_k", "n_rows"):
            assert published[p][key] == head_entries[p][key]
    # and the published table point-looks-up through the carried blooms
    got = snap.read_point_lookup(spark, d, "k", 15)
    assert _keys(got.where("k = 15")) == [15]


def test_publish_rebases_over_concurrent_main_append(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    refs.branch_create(d, "b")
    refs.branch_append(spark, d, "b", _df(spark, 100, 110), stats_cols=["k"])
    # main moves underneath the branch: appends commute
    _commit(spark, d, 10, 20)
    v = refs.branch_publish(d, "b", drop=True)
    assert v == 3
    assert _keys(snap.read_snapshot(spark, d)) == list(range(20)) + list(range(100, 110))


def test_branch_refuses_duplicates_and_missing(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 5)
    refs.branch_create(d, "b")
    with pytest.raises(ValueError, match="already exists"):
        refs.branch_create(d, "b")
    with pytest.raises(ValueError, match="no branch"):
        refs.branch_append(spark, d, "nope", _df(spark, 0, 1))
    with pytest.raises(ValueError, match="invalid ref name"):
        refs.branch_create(d, "bad/name")


def test_schema_evolved_branch_needs_merge_schema_to_publish(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 5)
    refs.branch_create(d, "evo")
    wide = _df(spark, 5, 8).withColumn("extra", F.lit("x"))
    refs.branch_append(spark, d, "evo", wide, merge_schema=True)
    with pytest.raises(ValueError, match="merge_schema"):
        refs.branch_publish(d, "evo")
    v = refs.branch_publish(d, "evo", merge_schema=True)
    got = snap.read_snapshot(spark, d, v)
    assert "extra" in got.columns
    # pre-evolution rows NULL-pad the new column
    assert got.where("extra IS NULL").count() == 5


def test_tags_pin_versions_and_survive_retention(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)
    refs.tag_create(d, "eval-7", 1)
    _commit(spark, d, 20, 30)
    with pytest.raises(ValueError, match="already exists"):
        refs.tag_create(d, "eval-7")
    with pytest.raises(ValueError, match="no such snapshot"):
        refs.tag_create(d, "ghost", 99)
    assert refs.tag_version(d, "eval-7") == 1
    # retention keeps the tagged version even with keep_last=1
    out = snap.expire_snapshots(d, keep_last=1)
    assert out["expired_versions"] == 1  # only v2 went; v1 tagged, v3 newest
    assert _keys(refs.read_tag(spark, d, "eval-7")) == list(range(10))
    assert _keys(snap.read_snapshot(spark, d)) == list(range(30))
    # dropping the tag releases it for the next expiry
    refs.tag_drop(d, "eval-7")
    out = snap.expire_snapshots(d, keep_last=1)
    assert out["expired_versions"] == 1
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot_meta(d, 1)


def test_branch_staged_files_survive_main_retention(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    refs.branch_create(d, "wip")
    refs.branch_append(spark, d, "wip", _df(spark, 10, 20), stats_cols=["k"])
    _commit(spark, d, 20, 30)
    # expire everything but the newest main version: branch snapshots
    # are roots, so its staged data files must NOT be deleted
    snap.expire_snapshots(d, keep_last=1)
    assert _keys(refs.read_branch(spark, d, "wip")) == list(range(20))
    v = refs.branch_publish(d, "wip", drop=True)
    assert _keys(snap.read_snapshot(spark, d, v)) == list(range(30))


def test_rollback_restores_content_keeps_history(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    _commit(spark, d, 10, 20)  # the "bad" commit
    v = refs.snapshot_rollback(d, 1)
    assert v == 3
    assert _keys(snap.read_snapshot(spark, d)) == list(range(10))
    # history intact: the bad version is still inspectable
    assert _keys(snap.read_snapshot(spark, d, 2)) == list(range(20))
    assert snap.read_snapshot_meta(d, 3)["rollback_of"] == 1
    # rolling back to the current version is a no-op
    assert refs.snapshot_rollback(d, 3) == 3
    with pytest.raises(ValueError, match="expired or never existed"):
        refs.snapshot_rollback(d, 42)


def test_rollback_carries_epoch_fences_from_head(spark, tmp_path):
    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    # simulate a streaming sink's fence on the current head
    meta = snap.read_snapshot_meta(d, 1)
    fenced = dict(meta)
    fenced["last_batches"] = {"writer-a": 7}
    fenced.update({"version": 2, "parent": 1})
    snap._publish(d, 2, fenced)
    v = refs.snapshot_rollback(d, 1)
    assert snap.read_snapshot_meta(d, v)["last_batches"] == {"writer-a": 7}


def test_publish_enforces_constraints_added_after_branch(spark, tmp_path):
    """A CHECK constraint added to MAIN after the branch was created
    was never enforced on the staged rows; publish must validate the
    net-new files against it (with a session) or refuse (without one)
    rather than landing violating rows (r12 review)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as s

    d = str(tmp_path / "t")
    _commit(spark, d, 0, 10)
    refs.branch_create(d, "b")
    s.snapshot_set_constraint(spark, d, "v_nonneg", "v >= 0")
    bad = spark.range(10, 15).select(
        F.col("id").alias("k"), (-F.col("id")).alias("v")
    )
    refs.branch_append(spark, d, "b", bad, stats_cols=["k"])  # branch has no constraint yet
    with pytest.raises(ValueError, match="pass spark"):
        refs.branch_publish(d, "b")
    with pytest.raises(s.ConstraintViolationError):
        refs.branch_publish(d, "b", spark=spark)
    refs.branch_drop(d, "b")
    # a clean branch publishes fine through the same validation
    refs.branch_create(d, "ok")
    refs.branch_append(spark, d, "ok", _df(spark, 20, 25), stats_cols=["k"])
    assert refs.branch_publish(d, "ok", drop=True, spark=spark) == 3


# --- positional deletes and partition specs carried by rollback/branch ---


def _pos_deleted_table(spark, tmp_path):
    """v1 = rows 0..9, v2 = positional delete k>=5 (head rows 0..4),
    v3 = append 10..19 (head rows 0..4 + 10..19)."""
    d = str(tmp_path / "t")
    snap.snapshot_append(spark, d, _df(spark, 0, 10), stats_cols=["k"])
    snap.snapshot_position_delete(spark, d, "k >= 5")
    snap.snapshot_append(spark, d, _df(spark, 10, 20), stats_cols=["k"])
    return d


def test_rollback_restores_positional_deletes(spark, tmp_path):
    d = _pos_deleted_table(spark, tmp_path)
    v = refs.snapshot_rollback(d, 2)
    assert v == 4
    # before the fix: pos_delete_files dropped -> 0..9 resurrected
    assert _keys(snap.read_snapshot(spark, d)) == [0, 1, 2, 3, 4]
    assert snap.read_snapshot_meta(d, 4).get("pos_delete_files")
    # history intact: v3 still shows the pre-rollback content
    assert _keys(snap.read_snapshot(spark, d, 3)) == [0, 1, 2, 3, 4] + list(
        range(10, 20)
    )


def test_branch_from_version_with_positional_deletes(spark, tmp_path):
    d = _pos_deleted_table(spark, tmp_path)
    refs.branch_create(d, "b", from_version=2)
    assert _keys(refs.read_branch(spark, d, "b")) == [0, 1, 2, 3, 4]


def test_rollback_restores_partition_spec(spark, tmp_path):
    """partition_by is content too: files restored by a rollback must be
    read under the spec they were written with."""
    d = str(tmp_path / "t")
    pdf = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    snap.snapshot_append(spark, d, pdf, stats_cols=["k"], partition_by=["p"])
    snap.snapshot_append(
        spark,
        d,
        spark.range(10, 14).select(F.col("id").alias("k"), F.lit("0").alias("p")),
        stats_cols=["k"],
        partition_by=["p"],
    )
    refs.snapshot_rollback(d, 1)
    assert snap.read_snapshot_meta(d, snap.current_version(d)).get("partition_by") == [
        "p"
    ]
    got = snap.read_partitions(spark, d, {"p": "1"})
    assert _keys(got) == [1, 3, 5, 7, 9]
