"""Z-order layout (operators/layout.py), mixture resampling, and
percentile binning: properties the oracle differential can't express —
per-file parquet footer bounds after a z-order write, surviving-mix
proportions, bin-population balance."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import layout, quality, sampling


def test_interleave_bits_known_values(spark):
    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (65535, 65535)], "a long, b long")
    out = df.withColumn("z", layout.interleave_bits([F.col("a"), F.col("b")], 16))
    got = {(r["a"], r["b"]): r["z"] for r in out.collect()}
    # dim 0 occupies even bit positions, dim 1 odd.
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_interleave_bits_overflow_guard():
    with pytest.raises(ValueError):
        layout.interleave_bits([F.lit(0)] * 4, 16)


def _file_bounds(path: str, cols: list[str]):
    """Per-file (min, max) of each column from parquet footers — the
    exact stats engine-side file skipping reads."""
    import glob
    import os

    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        bounds = {c: [math.inf, -math.inf] for c in cols}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                name = col.path_in_schema
                if name in bounds and col.statistics is not None:
                    bounds[name][0] = min(bounds[name][0], col.statistics.min)
                    bounds[name][1] = max(bounds[name][1], col.statistics.max)
        if all(b[0] != math.inf for b in bounds.values()):
            out.append(bounds)
    return out


def test_zorder_write_shrinks_bounding_boxes(spark, tmp_path):
    """After a z-order rewrite on (x, y), the average per-file bounding
    box AREA (fraction of the full 2-D domain) must be far below the
    ~1.0 of a hash-distributed layout — that area is exactly the
    probability a point predicate on (x, y) can NOT skip the file."""
    n = 20_000
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 7919) % 1000)
        .withColumn("y", ((F.col("id") * 104729) % 997).cast("double"))
        .repartition(8)  # hash layout: every file spans ~the full domain
    )
    base = str(tmp_path / "plain")
    df.write.mode("overwrite").parquet(base)
    zpath = str(tmp_path / "zorder")
    layout.zorder_write(df, zpath, ["x", "y"], num_files=8)

    def mean_area(path):
        bs = _file_bounds(path, ["x", "y"])
        assert bs, path
        areas = [
            ((b["x"][1] - b["x"][0]) / 999.0) * ((b["y"][1] - b["y"][0]) / 996.0)
            for b in bs
        ]
        return sum(areas) / len(areas)

    plain, z = mean_area(base), mean_area(zpath)
    assert plain > 0.9  # hash layout: every file covers the domain
    assert z < 0.5 * plain, (plain, z)


def test_zorder_write_roundtrip_complete(spark, tmp_path):
    df = spark.range(1000).withColumn("x", F.col("id") % 50).withColumn("y", F.col("id") % 31)
    p = str(tmp_path / "z2")
    layout.zorder_write(df, p, ["x", "y"], num_files=4)
    back = spark.read.parquet(p)
    assert back.count() == 1000
    assert "zval" not in back.columns
    assert back.select(F.sum("id")).collect()[0][0] == 999 * 1000 // 2


def test_mixture_resample_proportions(spark):
    # 4000 'a' + 4000 'b' + 2000 'c', targets 1:1 over a,b only:
    # both kept at the same rate, c dropped entirely.
    df = spark.range(10_000).withColumn(
        "g",
        F.when(F.col("id") < 4000, "a").when(F.col("id") < 8000, "b").otherwise("c"),
    )
    out = sampling.mixture_resample(df, "g", "id", {"a": 1.0, "b": 1.0})
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert "c" not in counts
    # equal counts and equal targets -> both groups keep everything
    assert counts == {"a": 4000, "b": 4000}


def test_mixture_resample_downsamples_majority(spark):
    # 9000 'big' vs 1000 'small', targets 1:1 -> small kept whole,
    # big hash-thinned to ~1000.
    df = spark.range(10_000).withColumn("g", F.when(F.col("id") < 9000, "big").otherwise("small"))
    out = sampling.mixture_resample(df, "g", "id", {"big": 1.0, "small": 1.0})
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 1000
    assert abs(counts["big"] - 1000) < 150  # hash noise around the target
    # determinism: same salt, same survivors
    again = sampling.mixture_resample(df, "g", "id", {"big": 1.0, "small": 1.0})
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_mixture_resample_rejects_empty_targets(spark):
    df = spark.range(10).withColumn("g", F.lit("a"))
    with pytest.raises(ValueError):
        sampling.mixture_resample(df, "g", "id", {})


def test_percentile_bins_balanced_and_ordered(spark):
    df = spark.range(1, 1001).withColumn("s", F.col("id").cast("double"))
    out = quality.percentile_bins(df, "s", out="b")
    stats = {
        r["b"]: (r["n"], r["lo"], r["hi"])
        for r in out.groupBy("b").agg(
            F.count("*").alias("n"), F.min("s").alias("lo"), F.max("s").alias("hi")
        ).collect()
    }
    assert sorted(stats) == list(range(1, 11))
    assert all(n == 100 for n, _, _ in stats.values())
    # bins tile the domain in order
    for k in range(1, 10):
        assert stats[k][2] < stats[k + 1][1]


def test_equi_width_histogram_clamps_and_totals(spark):
    df = spark.createDataFrame([(float(v),) for v in [-5, 0, 1, 9.99, 10, 55, 120]], "v double")
    out = {r["bin"]: r["n"] for r in quality.equi_width_histogram(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0; 120 clamps into bin 9; 10 lands in bin 1
    assert out[0] == 4  # -5, 0, 1, 9.99
    assert out[1] == 1  # 10
    assert out[5] == 1  # 55
    assert out[9] == 1  # 120
    assert sum(out.values()) == 7


def test_equi_width_histogram_rejects_bad_range(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        quality.equi_width_histogram(df, "v", 5.0, 5.0, 10)


def test_referential_orphans_counts_planted(spark):
    child = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c"), (98, "d")], "k long, x string")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    out = quality.referential_orphans([("c->p", child, "k", parent, "k")]).collect()
    assert out[0]["relation"] == "c->p" and out[0]["n_orphans"] == 2


def test_profile_table_counts(spark):
    df = spark.createDataFrame(
        [(1, 2.0, "x"), (2, None, "y"), (3, 2.0, None), (4, 7.5, "x")],
        "id long, v double, s string",
    )
    rows = {r["column"]: r for r in quality.profile_table(df, ["v"], ["s"]).collect()}
    v, s = rows["v"], rows["s"]
    assert (v["n_rows"], v["n_nulls"], v["n_distinct"]) == (4, 1, 2)
    assert (v["min_num"], v["max_num"]) == (2.0, 7.5)
    assert (s["n_nulls"], s["n_distinct"], s["min_str"], s["max_str"]) == (1, 2, "x", "y")


def test_file_manifest_prunes_and_is_lossless(spark, tmp_path):
    path = str(tmp_path / "clustered")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 997).cast("double").alias("v")
    )
    df.repartitionByRange(8, "v").write.parquet(path)
    man = layout.file_minmax_manifest(spark, path, ["v"])
    rows = man.collect()
    assert sum(r["n_rows"] for r in rows) == 1000
    lo, hi = 800.0, 900.0  # upper band: most range-files must be skipped
    paths, n_total = layout.manifest_pruned_paths(man, "v", lo, hi)
    assert n_total == len(rows)
    assert 0 < len(paths) < n_total
    pruned = (
        spark.read.parquet(*paths)
        .where(F.col("v").between(lo, hi))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .first()
    )
    direct = (
        spark.read.parquet(path)
        .where(F.col("v").between(lo, hi))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .first()
    )
    assert pruned["n"] == direct["n"] and pruned["n"] > 0
    assert pruned["s"] == pytest.approx(direct["s"], rel=1e-12)


def test_file_manifest_null_bounds_file_is_skipped_losslessly(spark, tmp_path):
    # a file whose stat column is entirely NULL gets NULL bounds and must
    # be pruned — its rows could never satisfy a range predicate anyway
    path = str(tmp_path / "with_null_file")
    nulls = spark.range(50).select(
        F.col("id"), F.lit(None).cast("double").alias("v")
    )
    vals = spark.range(50, 100).select(
        F.col("id"), F.col("id").cast("double").alias("v")
    )
    nulls.coalesce(1).write.parquet(path)
    vals.coalesce(1).write.mode("append").parquet(path)
    man = layout.file_minmax_manifest(spark, path, ["v"])
    assert man.count() == 2
    paths, n_total = layout.manifest_pruned_paths(man, "v", 60.0, 70.0)
    assert n_total == 2 and len(paths) == 1
    got = sorted(
        r["id"] for r in spark.read.parquet(*paths).where(F.col("v").between(60.0, 70.0)).collect()
    )
    assert got == list(range(60, 71))


def test_percentile_bins_null_scores_stay_null(spark):
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "score double"
    )
    out = quality.percentile_bins(df, "score")
    nulls = out.filter(F.col("score").isNull()).collect()
    assert len(nulls) == 1 and nulls[0]["bin"] is None
    assert out.filter(F.col("bin") == 1).filter(F.col("score").isNull()).count() == 0


# --- zscore_outliers ---


def test_zscore_outliers_flags_planted(spark):
    rows = [("a", float(v)) for v in [10, 11, 9, 10, 11, 9, 10, 11, 9, 100]]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = quality.zscore_outliers(df, "k", "v", z_thresh=2.0)
    got = out.collect()
    assert len(got) == 1 and got[0]["v"] == 100.0
    # z matches a direct computation
    vals = [r[1] for r in rows]
    m = sum(vals) / len(vals)
    sd = math.sqrt(sum((x - m) ** 2 for x in vals) / (len(vals) - 1))
    assert got[0]["zscore"] == pytest.approx((100 - m) / sd)


def test_zscore_outliers_degenerate_groups_silent(spark):
    df = spark.createDataFrame(
        [("const", 5.0), ("const", 5.0), ("const", 5.0), ("single", 42.0)],
        ["k", "v"],
    )
    assert quality.zscore_outliers(df, "k", "v").count() == 0
