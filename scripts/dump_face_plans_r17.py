#!/usr/bin/env python
"""Dump `.explain("formatted")` for named faces into plans/r17/
(<face>_<tag>.txt). For operators with no single batch plan (streaming
faces), callers capture the relevant SUBTREE via the --subtree hooks
below instead. Usage:

    python scripts/dump_face_plans_r17.py <tag> <face> [<face> ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_price_prediction_using_stream_and_batch_processing_spark import get_spark, plans

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def subtree_semantic_cells(spark, sf_dir):
    """semantic_dedup's per-cell subtree, isolated: quantizer + cell
    assign + the grouped kernel at the face's parameters — the
    components kernel where the checkout has it, else the intra-cell
    pair enumeration (grouped matmul, or the equi-self-join before it)."""
    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import similarity
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    assigned, _ = similarity.ivf_build(e, 64, 16, "embedding", 42, max_iter=8)
    cell = assigned.select(F.col("vec_id"), F.col("embedding"), "_cell")
    for kernel in ("_cell_components", "_cell_threshold_pairs"):
        if hasattr(similarity, kernel):
            return getattr(similarity, kernel)(cell, 0.4, "vec_id", "embedding")
    from stock_price_prediction_using_stream_and_batch_processing_spark.functions import vectors

    a = cell.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), "_cell")
    b = cell.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), "_cell")
    return (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vectors.cosine("_va", "_vb") >= 0.4)
        .select("id_a", "id_b")
    )


SUBTREES = {
    "semantic_dedup_cells": subtree_semantic_cells,
}


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump_face_plans_r17")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        if name in SUBTREES:
            df = SUBTREES[name](spark, sf_dir)
        else:
            df = plans.get(name).fn(spark, sf_dir)
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
