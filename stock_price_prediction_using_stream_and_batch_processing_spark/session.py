"""SparkSession factory.

Scale posture: these configs are what we'd ship on a real cluster —
AQE (runtime re-plan, partition coalescing, skew-join splitting),
UTC session time zone (oracle comparability), Arrow for the Python
boundary. Locally we run one JVM with N threads; on a cluster the same
logical plans distribute unchanged because every operator in this
package is expressed declaratively (DataFrame/SQL) and partitions by
its natural key.

Python workers: every session forks its Python tasks from
``worker_daemon`` (``spark.python.daemon.module``), not from
``pyspark.daemon``. Spark puts its zipped pyspark, the py4j zip and the
spark-core jar first on the worker path, and each task's
``importlib.invalidate_caches()`` then re-parses every cached
zipimporter's archive directory: a fixed 0.14-0.25 s per task on a
4-vCPU host. The daemon drops those entries, so tasks import the
installed pyspark, but only when that pyspark is the same build as the
zipped one (byte-equal ``version.py``) and py4j is importable without
them; otherwise it keeps Spark's path and acts as ``pyspark.daemon``.
"""

from __future__ import annotations

import os

from pyspark import Broadcast
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
WORKER_DAEMON_MODULE = f"{__package__}.worker_daemon"


def get_spark(
    app_name: str = "stock_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). On a real cluster, pass ``master=None`` with
    ``spark.master`` preconfigured and these settings still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Larger Arrow batches amortize per-batch Python overhead for the
        # inference UDF (~30% faster at sf0.1); frames crossing the
        # boundary here are narrow (id, key, small array), so 64k rows
        # stays well inside executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Memory-sink temp views created by streaming queries (uuid-named, one
# per invocation). They hold every emitted row in DRIVER memory until
# dropped, so a long session running many stream queries accretes
# driver heap — tracked here so release_query_scratch can reclaim them.
_MEMORY_SINK_TABLES: list[str] = []


def track_memory_sink_table(name: str) -> None:
    _MEMORY_SINK_TABLES.append(name)


# Broadcast variables a query's plan reads from its Python tasks (e.g.
# threshold_pairs_matrix's collected side). The returned lazy
# DataFrame needs them until it is materialized, so the query cannot
# destroy them itself; release_query_scratch does.
_BROADCASTS: list[Broadcast] = []


def track_broadcast(bc: Broadcast) -> None:
    _BROADCASTS.append(bc)


def release_query_scratch(spark: SparkSession) -> dict[str, int]:
    """Release JVM state a COMPLETED query left behind: every cached
    RDD block (this package takes no ``.cache()``/``.persist()``
    anywhere — all persistent RDDs are ``localCheckpoint`` blocks whose
    DataFrames have already been materialized), every tracked
    memory-sink temp view and every tracked broadcast variable.

    Why this is a harness hook and not in-query cleanup: a registered
    query RETURNS a lazy DataFrame whose plan scans its checkpointed
    RDDs / memory table — the blocks must outlive the caller's
    collect. Only the harness knows when materialization finished, so
    bench.py and the oracle sweep call this between queries. Without
    it, one long session running the full 146-query corpus accretes
    130+ queries of storage-memory blocks: the r7 sweep measured
    triangle_counts_parts at 113–233 s late in the sweep vs 6–7 s in a
    fresh session (SCALE.md) — that accumulation, not the query, was
    the cost.

    Safe ONLY after materialization: localCheckpoint CUTS lineage, so
    unpersisting its blocks makes a still-lazy consumer unrecoverable
    (that is the point — eager per-query reclamation, explicit).
    """
    n_rdds = 0
    # py4j presents the JavaSparkContext map as a Python Mapping view
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
        n_rdds += 1
    n_tables = 0
    while _MEMORY_SINK_TABLES:
        if spark.catalog.dropTempView(_MEMORY_SINK_TABLES.pop()):
            n_tables += 1
    n_broadcasts = 0
    while _BROADCASTS:
        bc = _BROADCASTS.pop()
        if bc._sc is spark.sparkContext:  # one of a stopped context died with it
            bc.destroy()
            n_broadcasts += 1
    return {"rdds": n_rdds, "memory_tables": n_tables, "broadcasts": n_broadcasts}
