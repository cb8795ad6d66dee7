"""Parquet table access for the driver-generated test corpus.

Columnar Parquet scans are the engine's batch source of record (the
reference persisted raw ticks to MySQL over JDBC and re-read them with a
hand-pushed ``ORDER BY .. LIMIT`` subquery — ``batch_processor.py:72-79``;
here predicate/limit pushdown and column pruning come from Catalyst for
free, and at 100 TB the scan parallelizes per Parquet row-group instead
of bottlenecking on one JDBC connection).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (they
# scale with the catalog, not the fact data).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# Event-time columns whose parquet physical encoding has varied across
# driver data generations: TIMESTAMP(NANOS) (read as long under the
# legacy conf and truncated to micros, matching DuckDB), timestamp[us]
# WITHOUT timezone (read as TIMESTAMP_NTZ — which ``withWatermark``
# hard-rejects), or a proper tz-aware timestamp. ``normalize_ns``
# canonicalizes all three to TIMESTAMP so downstream batch + streaming
# plans never see the physical encoding.
NS_TIMESTAMP_COLS = {"events": ("ts",)}


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the query corpus depends on, set defensively so
    results are correct even under a caller-owned SparkSession (the
    driver builds its own): UTC rendering (oracle comparability) and
    ns-timestamp parquet reads."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def parquet_table_exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds a COMMITTED parquet table: the directory
    exists and contains at least one visible file (not ``_temporary``
    staging or dot-files). An explicit check for bootstrap-or-merge
    decisions, instead of catching read errors (which would silently
    treat a TRANSIENT read failure as 'table absent') — while a crash
    that left only staging dirs behind still correctly reads as
    'nothing committed yet'. Falls back to a schema-probe read when
    the JVM filesystem API is unavailable (Spark Connect)."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return False
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                return True
        return False
    except AttributeError:  # Spark Connect: no _jvm — probe the reader
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(path).schema
            return True
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Unable to infer schema" in str(e):
                return False
            raise


# Fixture invariants the query corpus SILENTLY depends on — asserted
# once per (sf_dir, table) per process so regenerated driver data that
# drifts fails LOUDLY at first load instead of as an oracle mismatch
# hours later (round-5 precedent: a regeneration added duplicate
# lineitem (l_orderkey, l_linenumber) rows and broke rolling_corr's
# window order mid-round; the fix totalized through the value columns,
# and THIS preflight now pins the totalized key those windows assume).
# Each entry: tuple of columns that must be row-unique in the table.
FIXTURE_UNIQUE_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    # lineitem's (l_orderkey, l_linenumber) is NOT unique by fixture
    # design (up to 6 copies with different values); every window ORDER
    # BY over lineitem totalizes through the value columns, which is
    # only deterministic if THIS widened key is unique:
    "lineitem": (
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    ),
}

_PREFLIGHTED: set[tuple[str, str]] = set()


def fixture_preflight(df: DataFrame, sf_dir: str, name: str) -> None:
    """One aggregate per (sf_dir, table) per process: assert the
    table's declared unique key actually is unique. Disable with
    SPARK_GRAFT_SKIP_PREFLIGHT=1 (perf experiments on huge ad-hoc
    dirs). Cost is one count/count-distinct scan at first touch —
    milliseconds at driver SFs, and amortized to zero after."""
    key = FIXTURE_UNIQUE_KEYS.get(name)
    if key is None or (sf_dir, name) in _PREFLIGHTED:
        return
    if os.environ.get("SPARK_GRAFT_SKIP_PREFLIGHT") == "1":
        return
    any_null = None
    for c in key:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in key]).alias("d"),
        F.sum(any_null.cast("long")).alias("nulls"),
    ).collect()[0]
    # count_distinct drops NULL-key rows, so report nulls as their own
    # defect instead of conflating them with duplicates
    if row["nulls"]:
        raise AssertionError(
            f"fixture preflight: {name} at {sf_dir} has {row['nulls']} rows "
            f"with NULL in supposedly-unique key {key} — the driver testdata "
            "generation drifted; fix the assumption "
            "(sources/tables.FIXTURE_UNIQUE_KEYS) or the data."
        )
    if row["n"] != row["d"]:
        raise AssertionError(
            f"fixture preflight: {name} at {sf_dir} has {row['n'] - row['d']} "
            f"duplicate rows over supposedly-unique key {key} — the driver "
            "testdata generation drifted; queries whose window orders / joins "
            "assume this key would return silently wrong answers. Fix the "
            "assumption (sources/tables.FIXTURE_UNIQUE_KEYS) or the data."
        )
    _PREFLIGHTED.add((sf_dir, name))


# Each table's schema as inferred at its first read, per (sf_dir,
# table) per process like ``_PREFLIGHTED``: inferring it runs a parquet
# footer job on every read, so later reads pass it to ``.schema(...)``
# and run none (the ``tick_schema`` read of ``batch.run_once``). A
# table regenerated under the same path with another schema needs a
# fresh process.
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table as stored (ns-timestamp cols still long)."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMAS.get((sf_dir, name))
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[(sf_dir, name)] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    fixture_preflight(df, sf_dir, name)
    return df


def normalize_ns(df: DataFrame, name: str) -> DataFrame:
    """Canonicalize event-time columns to TIMESTAMP regardless of how
    the parquet file encoded them (bigint nanos, TIMESTAMP_NTZ, or
    already TIMESTAMP). The session timezone is pinned to UTC
    (``ensure_session_confs``), so the NTZ→TIMESTAMP cast is
    value-identity. Works on batch AND streaming DataFrames."""
    dtypes = dict(df.dtypes)
    for c in NS_TIMESTAMP_COLS.get(name, ()):
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return normalize_ns(raw_table(spark, sf_dir, name), name)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so queries can go through
    ``spark.sql`` as well as the DataFrame API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
