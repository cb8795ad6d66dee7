"""The batch inference job — reference ``batch_processor.py`` semantics,
Spark-first.

Reference shape (SURVEY §3.2): JDBC-read the latest 10 000 ticks (sort+
limit pushed into MySQL, ``batch_processor.py:72-79``), collect to
Pandas, Python-loop length-60 sliding windows, one batched LSTM predict
(``:88-101``), gated on ≥100 rows (``:121-124``) and ≥60 rows per
window. Here the whole thing is ONE declarative plan: Parquet scan
(with the known ``tick_schema``, so no footer job infers it) →
``TakeOrderedAndProject`` top-k, which emits one partition → one Arrow
pass over that partition that sorts it by symbol, cuts every sliding
window and predicts (``ml.inference.predict_trailing``, the reference's
NumPy shape). There is no exchange and one Python task: every Python
task pays a floor (0.34–0.43 s on a 4-vCPU host) that dwarfs the
~20 ms kernel, so one task beats one per core. Nothing is collected to
the driver, the double-execution anti-pattern (``count()`` then
``toPandas`` re-running the query, ``:82,114``) is gone, and the
scheduler loop stays a thin driver concern (``run_forever``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ml.inference import predict_trailing
from .operators import topk
from .sources.ticks import tick_schema


@dataclass
class BatchMetrics:
    """Replaces the reference's module-global counters/lists
    (``batch_processor.py:37-43,141-145``)."""

    runs: int = 0
    failures: int = 0
    durations: list = field(default_factory=list)

    def summary(self) -> dict:
        d = self.durations
        return {
            "runs": self.runs,
            "failures": self.failures,
            "min_s": min(d) if d else None,
            "mean_s": sum(d) / len(d) if d else None,
            "max_s": max(d) if d else None,
        }


def latest_ticks(df: DataFrame, ts: str, k: int = 10000) -> DataFrame:
    """The reference's hand-pushed ``ORDER BY timestamp DESC LIMIT k``
    (``batch_processor.py:76``) as a native plan: Catalyst compiles
    orderBy+limit to ``TakeOrderedAndProject`` (per-partition top-k,
    then a k-row merge — no global sort even at 100 TB)."""
    return topk.latest_k(df, ts, k)


def run_once(
    spark: SparkSession,
    ticks_path: str,
    k: int = 10000,
    seq_len: int = 60,
    min_rows: int = 100,
    metrics: BatchMetrics | None = None,
) -> DataFrame | None:
    """One batch run over a ``tick_schema`` table (symbol, timestamp,
    price, volume): scan → top-k latest → one Arrow pass for every
    symbol's windows and predictions. Returns None when the
    ``min_rows`` gate fails (reference P0e, ``batch_processor.py:121-124``).

    The gate needs the top-k's row count, which is exactly
    ``min(k, rows scanned)``, so it never counts the top-k itself (that
    would run the scan and the sort a second time): it fails at once
    when ``k < min_rows``, and otherwise takes at most ``min_rows``
    column-less rows from the scan coalesced to one partition — one job
    that stops reading once it has them, however many files the table
    has (a plain ``take`` reads one partition, then scales up)."""
    m = metrics or BatchMetrics()
    t0 = time.time()
    try:
        ticks = spark.read.schema(tick_schema).parquet(ticks_path)
        if k < min_rows or len(ticks.select(F.lit(1)).coalesce(1).take(min_rows)) < min_rows:
            preds = None
        else:
            recent = latest_ticks(ticks, "timestamp", k)
            preds = predict_trailing(recent, "symbol", "timestamp", "price", seq_len)
        m.runs += 1
        return preds
    except Exception:
        m.failures += 1
        raise
    finally:
        m.durations.append(time.time() - t0)


def run_forever(
    spark: SparkSession,
    ticks_path: str,
    sink_path: str,
    sleep_ok: float = 60.0,
    sleep_fail: float = 300.0,
    max_runs: int | None = None,
    **kw,
) -> BatchMetrics:
    """The reference's scheduler loop (``batch_processor.py:154-168``,
    60 s on success / 300 s on failure) with the predictions persisted
    instead of printed. ``max_runs`` bounds it for tests."""
    metrics = BatchMetrics()
    while max_runs is None or metrics.runs + metrics.failures < max_runs:
        try:
            preds = run_once(spark, ticks_path, metrics=metrics, **kw)
            if preds is not None:
                preds.write.mode("append").parquet(sink_path)
            time.sleep(min(sleep_ok, 0.01) if max_runs is not None else sleep_ok)
        except Exception:
            time.sleep(min(sleep_fail, 0.01) if max_runs is not None else sleep_fail)
    return metrics
