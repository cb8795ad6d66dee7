#!/usr/bin/env python
"""r17 optimization profiler: run named queries with per-operator wall
timers (monkeypatched around the snapshot/dedup/graph machinery) so each
heavy face's seconds are attributable to phases, per the guide's
"measure first" rule. Usage:

    python scripts/profile_r17.py <query> [<query> ...] [--runs N]

Prints a JSON object per query: total seconds + per-patched-callable
(count, total_s). Not part of the bench contract; diagnostic only.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_price_prediction_using_stream_and_batch_processing_spark import (
    get_spark,
    plans,
    release_query_scratch,
)

ACC: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
# NOTE: nested patched calls are counted in BOTH records (e.g.
# _scan_commit_stats seconds are inside snapshot_append seconds) —
# read the output as a call tree, not a partition.


def wrap(mod, name, label=None):
    fn = getattr(mod, name)
    lbl = label or f"{mod.__name__.split('.')[-1]}.{name}"

    def inner(*a, **kw):
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            rec = ACC[lbl]
            rec[0] += 1
            rec[1] += time.time() - t0

    setattr(mod, name, inner)
    return fn


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_r17")

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import (
        catalog,
        dedup,
        graph,
        layout,
        refs,
        similarity,
        snapshots,
    )
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming import (
        pipeline as stream_pipeline,
    )

    originals = []
    for mod, names in (
        (snapshots, [
            "snapshot_append", "snapshot_merge", "snapshot_delete",
            "snapshot_compact", "read_snapshot", "_scan_commit_stats",
            "_write_commit_files", "snapshot_analyze",
            "snapshot_position_delete", "snapshot_update",
        ]),
        (layout, ["file_minmax_manifest"]),
        (dedup, [
            "minhash_signatures", "minhash_lsh_pairs", "resolve_components",
            "dedup_clusters", "dedup_clusters_doubling", "_pointer_jump",
            "incremental_near_dup", "near_dup_filter", "ngram_jaccard_pairs",
            "exploded_shingles",
        ]),
        (similarity, [
            "ivf_build", "semantic_dedup", "brute_force_topk",
        ]),
        (graph, ["pagerank", "triangle_counts", "k_core", "label_propagation"]),
        (catalog, ["catalog_publish"]),
        (refs, ["branch_append", "branch_publish", "read_branch"]),
        (stream_pipeline, ["parse_ticks"]),
    ):
        for n in names:
            if hasattr(mod, n):
                originals.append((mod, n, wrap(mod, n)))

    # warm the tables once (mirror bench warmup)
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    for qname in args:
        q = plans.get(qname)
        # untimed warmup
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_query_scratch(spark)
        best, best_phases = None, None
        for _ in range(runs):
            ACC.clear()
            spark.sparkContext.setJobDescription(f"profile:{qname}")
            t0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            total = time.time() - t0
            release_query_scratch(spark)
            if best is None or total < best:
                best = total
                best_phases = {k: list(v) for k, v in ACC.items()}
        print(json.dumps({
            "query": qname,
            "total_s": round(best, 3),
            "runs": runs,
            "phases": {
                k: {"n": v[0], "s": round(v[1], 3)}
                for k, v in sorted(best_phases.items(), key=lambda x: -x[1][1])
            },
        }, indent=1))


if __name__ == "__main__":
    main()
