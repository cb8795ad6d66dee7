"""Distributed batched model inference over window arrays.

Replaces the reference's driver-side ``model.predict`` calls
(``stream_consumer.py:52-53``: one (1,5,1) predict per micro-batch;
``batch_processor.py:97-100``: one big collected tensor) with an
Arrow-batched scalar ``pandas_udf``: each executor vectorizes inference
over its own Arrow batches, the model is constructed lazily once per
worker, and nothing is ever collected to the driver.

Min-max scaling runs as NATIVE column expressions around the UDF
(functions/scaling.py) so only the irreducible model math crosses the
Python boundary.

Two implementations of the linear fallback serve different traffic,
and share nothing beyond ``LinearWindowModel``:

- ``predict_over_windows`` (column path: ``trailing_collect`` arrays
  folded by ``linear_predict_column``) for the registered plans and the
  streams, whose events tables are unbounded and hold many small
  per-key groups;
- ``predict_trailing`` (one Arrow pass over a single partition, not one
  per key) for the batch job, whose input is its k-row top-k.

The Arrow pass holds its whole input in one Python worker, so the
registered plans cannot take it. Its earlier per-key grouped form
(``applyInArrow``) lost there too, at sf0.1 on the events table (100k
rows, 4-vCPU host, median of 5 warm runs): ``predict_next_events``
0.82 s on the column path vs 2.17 s per key; ``predict_sliding60_events``
0.72 vs 1.42 s.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scaling import REFERENCE_SCALER_MAX, REFERENCE_SCALER_MIN, minmax_scale, minmax_unscale
from .predictor import LinearWindowModel


def make_predict_udf(seq_len: int, keras_path: str | None = None):
    """Scalar pandas UDF: array<double> window of SCALED prices ->
    scaled prediction. The model loads lazily per executor process (the
    closure captures only ``seq_len``/``keras_path`` — cheap pickles).

    Partial windows (length != seq_len) predict NaN instead of crashing
    the Arrow batch — the streaming combined sink carries every tick,
    including the first seq_len-1 of a series."""
    state: dict = {}

    @F.pandas_udf(T.DoubleType())
    def predict(windows: pd.Series) -> pd.Series:
        if "model" not in state:
            from .predictor import load_model

            state["model"] = load_model(seq_len, keras_path)
        arrs = windows.to_numpy()
        full = np.fromiter((len(a) == seq_len for a in arrs), dtype=bool, count=len(arrs))
        out = np.full(len(arrs), np.nan)
        if full.any():
            # (batch, seq_len, 1): the 3-D layout the reference LSTM
            # artifact requires (LSTM layers reject 2-D input);
            # LinearWindowModel.predict handles ndim==3 explicitly, so
            # BOTH model paths get the same tensor shape
            x = np.stack(arrs[full])[:, :, None]
            out[full] = np.asarray(state["model"].predict(x), dtype=np.float64).reshape(-1)
        return pd.Series(out)

    return predict


def linear_predict_column(
    window_col,
    seq_len: int,
    mn: float = REFERENCE_SCALER_MIN,
    mx: float = REFERENCE_SCALER_MAX,
) -> Column:
    """``LinearWindowModel`` as a NATIVE column expression: the
    recency-weighted dot product via ``zip_with`` + ``aggregate``, JVM
    arithmetic with no Python boundary. Higher-order functions are
    interpreted (not whole-stage code-generated): each window is folded
    through the lambdas one element at a time.

    Same scale -> dot -> unscale pipeline as the UDF path (the affine
    scaling cancels analytically because the weights sum to 1, but it is
    kept so the two paths agree bit-for-bit in shape and to float
    precision in value). Windows shorter than ``seq_len`` propagate the
    ``zip_with`` null padding to a NULL prediction."""
    from .predictor import LinearWindowModel

    c = F.col(window_col) if isinstance(window_col, str) else window_col
    weights = F.array(*[F.lit(float(w)) for w in LinearWindowModel(seq_len).weights])
    dot = F.aggregate(
        F.zip_with(c, weights, lambda v, w: minmax_scale(v, mn, mx) * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return minmax_unscale(dot, mn, mx)


def predict_over_windows(
    df: DataFrame,
    window_col: str,
    seq_len: int,
    out: str = "predicted_price",
    mn: float = REFERENCE_SCALER_MIN,
    mx: float = REFERENCE_SCALER_MAX,
    keras_path: str | None = None,
) -> DataFrame:
    """Scale (native) -> predict -> unscale (native).

    With a model artifact (``keras_path``) the predict step is the
    Arrow-batched UDF. The default linear fallback is SQL-expressible,
    so it runs as a pure column expression instead — "UDFs are the slow
    path": the Python boundary exists only where a real model makes it
    irreducible. The measured exception is the batch job
    (``predict_trailing``): over a few thousand rows per key, building
    every sliding-60 window in one Arrow kernel beat ``collect_list``
    plus this fold, 1.32 → 0.90 s per 150k-tick, 50-symbol run (median
    of 12 interleaved runs, 4-vCPU host)."""
    if keras_path is None:
        return df.withColumn(out, linear_predict_column(window_col, seq_len, mn, mx))
    scaled = F.transform(F.col(window_col), lambda v: minmax_scale(v, mn, mx))
    udf = make_predict_udf(seq_len, keras_path)
    return df.withColumn(out, minmax_unscale(udf(scaled), mn, mx))


def trailing_kernel(batches: Iterable[pa.RecordBatch], key: str, ts: str, value: str, seq_len: int):
    """``predict_trailing``'s pure-Arrow kernel over one partition's
    record batches: yields the rows that end a full window of one key,
    plus ``predicted_price``."""
    mn, mx = REFERENCE_SCALER_MIN, REFERENCE_SCALER_MAX
    batches = list(batches)
    n = sum(b.num_rows for b in batches)
    if n < seq_len:
        return
    tbl = pa.Table.from_batches(batches)
    tbl = tbl.take(pc.sort_indices(tbl, [(key, "ascending"), (ts, "ascending")], null_placement="at_start"))
    # a key's rows are contiguous now; a NULL key is one more group
    seg = pc.fill_null(pc.dictionary_encode(tbl.column(key).combine_chunks()).indices, -1).to_numpy()
    col = tbl.column(value)
    nulls = np.concatenate([[0], np.cumsum(col.is_null().to_numpy(zero_copy_only=False))])
    # window j covers rows j .. j+seq_len-1: keep those in one key with no NULL
    end = n - seq_len + 1
    keep = np.nonzero((seg[seq_len - 1 :] == seg[:end]) & (nulls[seq_len:] == nulls[:end]))[0]
    x = (col.cast(pa.float64()).to_numpy(zero_copy_only=False) - mn) / (mx - mn)
    pred = LinearWindowModel(seq_len).predict(sliding_window_view(x, seq_len)[keep]) * (mx - mn) + mn
    yield from tbl.take(keep + (seq_len - 1)).append_column("predicted_price", pa.array(pred)).to_batches()


def predict_trailing(df: DataFrame, key: str, ts: str, value: str, seq_len: int) -> DataFrame:
    """Sliding-``seq_len`` linear predictions per ``key`` in ONE Arrow
    pass over ONE partition (``df.coalesce(1).mapInArrow``):
    ``trailing_kernel`` sorts the rows by (key, ts), cuts every key's
    sliding windows with one ``sliding_window_view`` and scores them
    with one batched ``LinearWindowModel.predict`` — the reference batch
    job's NumPy shape (``batch_processor.py:88-101``). Returns the input
    rows that end a full window, plus ``predicted_price``.

    Same answers as ``trailing_collect(full_only=True)`` +
    ``predict_over_windows``:
    - rows sort NULLs first, as the window's ascending ORDER BY does,
      and a NULL key is one group, as under ``groupBy``;
    - a NULL value drops every window that covers it (``collect_list``
      skips NULLs, so the ``size == seq_len`` filter drops those rows);
      Arrow keeps NULL apart from NaN, which pandas would not;
    - a NaN value gives NaN predictions;
    - a key shorter than ``seq_len`` emits nothing.
    Only the summation order differs (BLAS vs a sequential fold):
    O(seq_len·ulp) relative.

    Memory bound: the whole input is one Arrow table in one Python
    worker; ``coalesce(1)`` is what makes the kernel correct on any
    input. Feed it a bounded frame: the batch job's top-k is at most k
    rows, which ``TakeOrderedAndProject`` already holds in one task, so
    the coalesce is free there. On an unbounded history use the column
    path, which streams the window."""
    schema = T.StructType(df.schema.fields + [T.StructField("predicted_price", T.DoubleType())])
    return df.coalesce(1).mapInArrow(lambda it: trailing_kernel(it, key, ts, value, seq_len), schema)
