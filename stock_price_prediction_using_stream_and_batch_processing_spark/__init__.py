"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference stock stream+batch pipeline
(rudranshdas/Stock_price_prediction_using_stream_and_Batch_processing),
re-expressed Spark-first.

Layout:
    sources/    parquet/stream sources, seeded tick generator (parity
                fixture), partitioned/bucketed sinks, compaction/retention
    functions/  column-expression library (text, vectors, scaling, hashing)
    operators/  DataFrame -> DataFrame ops (windows, joins incl. as-of/range,
                top-k, dedup + clustering, similarity/LSH/IVF, set ops,
                text analysis, multimodal plumbing, skew salting, upsert,
                data-quality expectations)
    ml/         inference (Arrow-batched UDF; Keras gated, linear fallback),
                MLlib retraining, grouped-map per-key models
    plans/      the named query registry backing __spark_entry__.py
    streaming/  Structured Streaming pipelines (reference parity, stateful
                cross-batch windows, exactly-once sinks, metrics)
batch.py        the reference batch job as one declarative plan
"""

__all__ = ["get_spark", "release_query_scratch"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): ``python -m <package>.worker_daemon`` imports this
    # package first, and the daemon must import no pyspark before it
    # prunes the worker path (see worker_daemon.py).
    if name in __all__:
        from . import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
