"""Cross-micro-batch trailing windows — the continuity the reference
LACKS (its trailing-5 never spans batch boundaries,
``stream_consumer.py:72-76``; SURVEY §7 hard part i).

``applyInPandasWithState`` keyed by symbol carries the last N-1 prices
between micro-batches, so every tick gets a full trailing window
regardless of how the stream was batched. State per key is O(N)
doubles — at 1000 executors and millions of symbols the state store
shards by key hash, which is exactly Spark's state-store design.

Chunking contract: ``applyInPandasWithState`` delivers ONE KEY's
micro-batch data as an ITERATOR of pandas chunks (Arrow-batch sized —
``spark.sql.execution.arrow.maxRecordsPerBatch``), in no guaranteed
order. Any per-chunk sort would silently fold out of time order the
moment a hot key exceeds one Arrow batch per trigger — so both
operators CONCATENATE the chunks first, then sort ONCE by
(timestamp, price, volume): timestamp is the order key; price/volume
break exact-timestamp ties deterministically (no unique tick id exists
in the wire format). The fold itself is vectorized — a hot key's whole
micro-batch is processed as numpy arrays, not per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "symbol string, timestamp timestamp, price double, window_values array<double>"
STATE_SCHEMA = "tail array<double>"

# Deterministic fold order for a key's micro-batch: event time, then
# value columns as tiebreak (the tick wire format has no unique id).
_ORDER_COLS = ["timestamp", "price", "volume"]


def _gather_sorted(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return pd.DataFrame()
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    by = [c for c in _ORDER_COLS if c in pdf.columns] or list(pdf.columns)
    return pdf.sort_values(by, kind="mergesort", ignore_index=True)


def _fold_windows(
    key, tail: np.ndarray, pdf: pd.DataFrame, seq_len: int
) -> tuple[pd.DataFrame | None, list[float]]:
    """The trailing-window fold: given the carried tail (last seq_len-1
    prices) and a sorted batch frame, return (full-window output rows
    or None, new tail)."""
    prices = pdf["price"].to_numpy(dtype=float)
    allp = np.concatenate([tail, prices])
    n_carry = len(tail)
    # window for batch row j ends at allp index n_carry + j and is
    # full once that index >= seq_len - 1
    first_full = max(seq_len - 1 - n_carry, 0)
    out = None
    if first_full < len(prices):
        wins = np.lib.stride_tricks.sliding_window_view(allp, seq_len)
        # batch row j (j >= first_full) -> window starting at
        # n_carry + j - (seq_len - 1)
        starts = n_carry + np.arange(first_full, len(prices)) - (seq_len - 1)
        out = pd.DataFrame(
            {
                "symbol": key[0],
                "timestamp": pdf["timestamp"].iloc[first_full:].reset_index(drop=True),
                "price": prices[first_full:],
                "window_values": list(wins[starts]),
            }
        )
    return out, allp[-seq_len:].tolist()


def continuous_trailing_windows(parsed: DataFrame, seq_len: int = 5) -> DataFrame:
    """parsed (symbol, timestamp, price, ...) -> rows with full
    trailing-``seq_len`` windows that SPAN micro-batches."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (tail,) = state.get if state.exists else ([],)
        tail = np.asarray(tail, dtype=float)
        pdf = _gather_sorted(pdfs)
        if len(pdf) == 0:
            state.update((list(tail),))
            return
        out, new_tail = _fold_windows(key, tail, pdf, seq_len)
        state.update((new_tail,))
        if out is not None and len(out):
            yield out

    return parsed.groupBy("symbol").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


EWMA_OUTPUT_SCHEMA = "symbol string, timestamp timestamp, price double, ewma double"
EWMA_STATE_SCHEMA = "cur double"


def continuous_ewma(parsed: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-row EWMA stream that SPANS micro-batches: the state store
    carries one double per key (the running ewma). Emits every tick with
    its updated ewma — the streaming face of windows.ewma_final's
    recursive statistic. The recursion is computed by pandas ``ewm``
    (adjust=False is exactly e_t = a*x_t + (1-a)*e_{t-1}); the carried
    state seeds the series so batch boundaries don't reset it."""

    def fn(key, pdfs, state: GroupState):
        (cur,) = state.get if state.exists else (None,)
        pdf = _gather_sorted(pdfs)
        if len(pdf) == 0:
            if cur is not None:
                state.update((cur,))
            return
        prices = pdf["price"].astype(float)
        if cur is None:
            ew = prices.ewm(alpha=alpha, adjust=False).mean()
        else:
            seeded = pd.concat([pd.Series([float(cur)]), prices], ignore_index=True)
            ew = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(drop=True)
        state.update((float(ew.iloc[-1]),))
        yield pd.DataFrame(
            {
                "symbol": key[0],
                "timestamp": pdf["timestamp"].reset_index(drop=True),
                "price": prices.reset_index(drop=True),
                "ewma": ew,
            }
        )

    return parsed.groupBy("symbol").applyInPandasWithState(
        fn, EWMA_OUTPUT_SCHEMA, EWMA_STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
