"""JDBC interop seam (sources/jdbc.py) — reference S2/S3 parity.

No database exists in the sandbox, so these tests verify the
constructed option plumbing end-to-end short of the socket: the pure
option/subquery builders, and that a ``.load()``/``.save()`` attempt
actually reaches Spark's JDBC source with OUR driver class (it must
fail with ClassNotFound for exactly that class, proving the options
were applied, not silently dropped)."""

from __future__ import annotations

import pytest

from stock_price_prediction_using_stream_and_batch_processing_spark.sources import jdbc


URL = "jdbc:mysql://localhost:3306/stock_prediction"


def test_jdbc_options_block():
    opts = jdbc.jdbc_options(URL, "stock_ticks_raw", "root", "pw", batchsize=500)
    assert opts == {
        "url": URL,
        "driver": "com.mysql.cj.jdbc.Driver",
        "dbtable": "stock_ticks_raw",
        "user": "root",
        "password": "pw",
        "batchsize": "500",  # extras stringified for the option map
    }


def test_pushdown_subquery_matches_reference_shape():
    # batch_processor.py:76 — the exact derived-table fetch shape
    assert (
        jdbc.pushdown_subquery("stock_ticks_raw", order_by="timestamp", limit=10_000)
        == "(SELECT * FROM stock_ticks_raw ORDER BY timestamp DESC LIMIT 10000) as tmp"
    )
    assert jdbc.pushdown_subquery("t") == "(SELECT * FROM t) as tmp"
    assert (
        jdbc.pushdown_subquery("t", order_by="ts", descending=False, limit=5)
        == "(SELECT * FROM t ORDER BY ts ASC LIMIT 5) as tmp"
    )


def test_partitioned_reader_requires_full_bounds(spark):
    with pytest.raises(ValueError, match="num_partitions"):
        jdbc.jdbc_reader(spark, URL, "t", "u", "p", partition_column="id")


def test_reader_options_reach_spark_jdbc_source(spark):
    reader = jdbc.jdbc_reader(
        spark, URL, "stock_ticks_raw", "root", "pw",
        partition_column="id", lower_bound=0, upper_bound=1000, num_partitions=8,
    )
    # constructing the reader is lazy and must not touch the network
    with pytest.raises(Exception) as exc:
        reader.load()
    # missing driver jar -> ClassNotFound for the class WE configured
    assert "com.mysql.cj.jdbc.Driver" in str(exc.value)


def test_writer_options_reach_spark_jdbc_source(spark):
    df = spark.range(3)
    writer = jdbc.configured_jdbc_writer(df, URL, "stock_ticks_raw", "root", "pw")
    with pytest.raises(Exception) as exc:
        writer.save()
    assert "com.mysql.cj.jdbc.Driver" in str(exc.value)


def test_pushdown_subquery_fetch_style_and_quoting():
    """The ANSI variant the live Derby round-trip depends on: FETCH
    FIRST must come AFTER the ORDER BY and identifiers must quote
    (Derby case-folds unquoted names while Spark's writer creates them
    case-exact)."""
    sub = jdbc.pushdown_subquery(
        "orders_rt", order_by="o_orderkey", descending=True, limit=200,
        limit_style="fetch", ident_quote='"',
    )
    assert sub == '(SELECT * FROM orders_rt ORDER BY "o_orderkey" DESC FETCH FIRST 200 ROWS ONLY) as tmp'
    with pytest.raises(ValueError, match="limit_style"):
        jdbc.pushdown_subquery("t", limit=5, limit_style="top")


def test_live_derby_partitioned_read_equals_single(spark, tmp_path):
    """The partitioned-read contract against a LIVE database (embedded
    Derby): a partition_column/bounds/numPartitions read must fan out
    to multiple tasks and return exactly the rows of the plain read."""
    from pyspark.sql import functions as F

    jdbc.quiet_derby_log(spark)
    url = jdbc.derby_url(str(tmp_path / "derby_part"))
    df = spark.range(1_000).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
    )
    jdbc.write_jdbc(df, url, "t_part", user="app", password="", driver=jdbc.DERBY_DRIVER)
    single = jdbc.read_jdbc(spark, url, "t_part", "app", "", driver=jdbc.DERBY_DRIVER)
    parted = jdbc.read_jdbc(
        spark, url, "t_part", "app", "", driver=jdbc.DERBY_DRIVER,
        partition_column='"k"', lower_bound=0, upper_bound=1_000, num_partitions=4,
    )
    assert parted.rdd.getNumPartitions() == 4
    assert parted.count() == 1_000
    assert parted.exceptAll(single).count() == 0
    assert single.exceptAll(parted).count() == 0


def test_shared_derby_concurrent_invocations_no_clobber(spark, tmp_path, monkeypatch):
    """The per-process shared Derby boot isolates invocations by TABLE
    name: two interleaved round-trip invocations must each read back
    their own rows (the workdirs no-clobber contract)."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.plans import jdbcplans

    monkeypatch.setattr(jdbcplans, "_DERBY_DIR", [str(tmp_path / "shared_db")])
    url = jdbc.derby_url(str(tmp_path / "shared_db"))
    from pyspark.sql import functions as F

    a = spark.range(10).select(F.col("id").alias("k"))
    b = spark.range(100, 105).select(F.col("id").alias("k"))
    jdbc.write_jdbc(a, url, "t_a", user="app", password="", driver=jdbc.DERBY_DRIVER)
    jdbc.write_jdbc(b, url, "t_b", user="app", password="", driver=jdbc.DERBY_DRIVER)
    ra = {r.k for r in jdbc.read_jdbc(spark, url, "t_a", "app", "", driver=jdbc.DERBY_DRIVER).collect()}
    rb = {r.k for r in jdbc.read_jdbc(spark, url, "t_b", "app", "", driver=jdbc.DERBY_DRIVER).collect()}
    assert ra == set(range(10)) and rb == set(range(100, 105))


@pytest.mark.parametrize(
    "dialect,want",
    [
        # the reference's ACTUAL deployment target (batch_processor.py:76
        # with backtick-quoted identifiers, MySQL's LIMIT): string-level
        # because no MySQL server exists in the sandbox — the live twin
        # of this exact shape runs against embedded Derby below.
        (
            "mysql",
            "(SELECT * FROM stock_ticks_raw ORDER BY `timestamp` DESC LIMIT 10000) as tmp",
        ),
        (
            "derby",
            '(SELECT * FROM stock_ticks_raw ORDER BY "timestamp" DESC FETCH FIRST 10000 ROWS ONLY) as tmp',
        ),
        (
            "ansi",
            '(SELECT * FROM stock_ticks_raw ORDER BY "timestamp" DESC FETCH FIRST 10000 ROWS ONLY) as tmp',
        ),
        (
            "postgres",
            '(SELECT * FROM stock_ticks_raw ORDER BY "timestamp" DESC LIMIT 10000) as tmp',
        ),
    ],
)
def test_pushdown_subquery_dialects(dialect, want):
    got = jdbc.pushdown_subquery(
        "stock_ticks_raw", order_by="timestamp", limit=10_000, dialect=dialect
    )
    assert got == want


def test_pushdown_subquery_dialect_edges():
    # backtick embedded in a MySQL identifier doubles (the standard
    # escape) instead of breaking out of the quoting
    assert (
        jdbc.pushdown_subquery("t", order_by="we`ird", limit=1, dialect="mysql")
        == "(SELECT * FROM t ORDER BY `we``ird` DESC LIMIT 1) as tmp"
    )
    # explicit knobs override the dialect preset
    assert (
        jdbc.pushdown_subquery("t", order_by="ts", limit=2, dialect="mysql", limit_style="fetch")
        == "(SELECT * FROM t ORDER BY `ts` DESC FETCH FIRST 2 ROWS ONLY) as tmp"
    )
    with pytest.raises(ValueError, match="unknown dialect"):
        jdbc.pushdown_subquery("t", dialect="oracle8")
    # no dialect, no knobs: the reference's literal unquoted-MySQL shape
    assert (
        jdbc.pushdown_subquery("stock_ticks_raw", order_by="timestamp", limit=10_000)
        == "(SELECT * FROM stock_ticks_raw ORDER BY timestamp DESC LIMIT 10000) as tmp"
    )


def test_fresh_result_dir_is_private_per_call(tmp_path):
    from stock_price_prediction_using_stream_and_batch_processing_spark.plans.workdirs import (
        fresh_result_dir,
    )

    a, b = fresh_result_dir("t"), fresh_result_dir("t")
    assert a != b
    import os

    assert not os.path.exists(a) and not os.path.exists(b)  # writer creates
    assert os.path.isdir(os.path.dirname(a)) and os.path.isdir(os.path.dirname(b))
