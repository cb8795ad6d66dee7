"""Top-K operators.

The reference hand-pushed ``ORDER BY timestamp DESC LIMIT 10000`` into
MySQL (``batch_processor.py:76``). Natively, ``orderBy(...).limit(k)``
plans as TakeOrderedAndProject: each partition keeps a k-row heap and
only k rows per partition reach the driver-side merge — no global sort,
scale-safe for k << data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int, *order_cols) -> DataFrame:
    """Global top-k. Pass fully tie-broken order columns for determinism."""
    return df.orderBy(*order_cols).limit(k)


def latest_k(df: DataFrame, ts: str, k: int, tiebreak: str | None = None) -> DataFrame:
    """The reference's 'last 10 000 ticks' fetch, tie-broken by
    ``tiebreak`` when given (otherwise ordered by ``ts`` alone)."""
    order = [F.col(ts).desc()] + ([F.col(tiebreak).desc()] if tiebreak else [])
    return df.orderBy(*order).limit(k)


def top_k_per_group(df: DataFrame, key: str, k: int, *order_cols) -> DataFrame:
    """row_number over a per-key window — per-key heap after one hash
    shuffle; no global sort."""
    w = Window.partitionBy(key).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
