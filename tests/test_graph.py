"""Graph operator mechanics on constructed graphs (the corpus-level
differential checks are the graph queries in test_queries_oracle.py)."""

from __future__ import annotations

import collections
import random
import re
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import graph


def _py_pagerank(edges, damping=0.85, n_iter=5):
    nodes = {u for e in edges for u in e}
    deg = collections.Counter(s for s, _ in edges)
    n = len(nodes)
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(n_iter):
        new = {u: (1.0 - damping) / n for u in nodes}
        for s, d in edges:
            new[d] += damping * rank[s] / deg[s]
        rank = new
    return rank


@pytest.mark.parametrize("n_iter", [1, 5])
def test_pagerank_equals_python(spark, n_iter):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(df, n_iter=n_iter).collect()}
    want = _py_pagerank(edges, n_iter=n_iter)
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-12, (u, got[u], want[u])


def test_pagerank_cycle_is_uniform(spark):
    # a pure cycle: symmetric, so ranks must stay uniform at 1/n
    edges = [(1, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = graph.pagerank(df, n_iter=10).collect()
    for r in out:
        assert abs(r["rank"] - 1.0 / 3) < 1e-12


def test_pagerank_rejects_bad_iter(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        graph.pagerank(df, n_iter=0)


def test_triangle_counts_planted(spark):
    """K4 on {1,2,3,4} (4 triangles; every node in 3), one pendant edge
    4-5 (node 5: degree 1, no triangles), one triangle {6,7,8} hanging
    off nothing else."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    extra = [(4, 5), (6, 7), (6, 8), (7, 8)]
    edges = spark.createDataFrame(k4 + extra, "a long, b long")
    want = {
        1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (4, 3),
        5: (1, 0), 6: (2, 1), 7: (2, 1), 8: (2, 1),
    }
    got = {r.node: (r.degree, r.n_triangles) for r in graph.triangle_counts(edges).collect()}
    assert got == want


def test_triangle_counts_hub_skew(spark):
    """A star hub (node 0 joined to 1..40) with a single rim edge 1-2:
    exactly one triangle {0,1,2}; the hub's degree-41 fan must NOT
    produce hub-pivot wedges (the degree orientation points every star
    edge INTO the hub, so the hub pivots zero wedges — the skew bound).
    Also checks isolated-from-triangles nodes report 0."""
    edges = [(0, i) for i in range(1, 41)] + [(1, 2)]
    df = spark.createDataFrame(edges, "a long, b long")
    out = {r.node: (r.degree, r.n_triangles) for r in graph.triangle_counts(df).collect()}
    assert out[0] == (40, 1)
    assert out[1] == (2, 1) and out[2] == (2, 1)
    assert all(out[i] == (1, 0) for i in range(3, 41))


def _wedge_triangle_counts(edges):
    """The wedge form ``triangle_counts`` replaced, kept as its parity
    reference: each oriented wedge x→y, x→z (y before z in the
    (degree, id) order) closed by the oriented edge y→z."""
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    ed = edges.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a").join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b"
    )
    a_first = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    orient = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.struct(F.col("db").alias("d"), F.col("b").alias("n")))
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
        .alias("rv"),
    )
    e1, e2 = orient.alias("e1"), orient.alias("e2")
    wedges = e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.rv") < F.col("e2.rv"))).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = wedges.join(orient.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return {r.node: (r.degree, r.n_triangles or 0) for r in deg.join(per_node, "node", "left").collect()}


def _triangles(edges):
    return {r.node: (r.degree, r.n_triangles) for r in graph.triangle_counts(edges).collect()}


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    pairs = ((rng.randrange(n), rng.randrange(n)) for _ in range(m))
    return sorted({(min(x, y), max(x, y)) for x, y in pairs if x != y})


_PARITY_GRAPHS = {
    "seeded_random": _random_edges(7, 120, 900),
    "hub_star_with_rim": [(0, i) for i in range(1, 41)] + [(1, 2)],
    "k8": [(x, y) for x in range(8) for y in range(x + 1, 8)],
    "empty": [],
    # both forms drop the NULL-endpoint edge from the orientation joins;
    # its endpoints still count it in their degree
    "null_endpoint": [(1, 2), (1, 3), (2, 3), (3, 4), (3, None)],
}


@pytest.mark.parametrize("name", sorted(_PARITY_GRAPHS))
def test_triangle_counts_match_wedge_reference(spark, name):
    edges = spark.createDataFrame(_PARITY_GRAPHS[name], "a long, b long")
    want = _wedge_triangle_counts(edges)
    assert _triangles(edges) == want
    if name == "k8":
        assert want == {u: (7, 21) for u in range(8)}
    if name == "null_endpoint":
        assert want[None] == (1, 0) and want[3] == (4, 1)


@pytest.mark.parametrize(
    "id_type, to_id, from_id",
    [
        ("string", lambda x: f"n{x}", lambda s: int(s[1:])),
        ("decimal(20,0)", lambda x: Decimal(10**19 + x), lambda d: int(d) - 10**19),
    ],
)
def test_triangle_counts_wide_ids_match_long_ids(spark, id_type, to_id, from_id):
    """The same graph keyed by string and by decimal(20,0) ids gives the
    long-keyed answer once the ids are mapped back, and matches the
    wedge reference on its own keys."""
    pairs = _random_edges(11, 60, 200)
    longs = _triangles(spark.createDataFrame(pairs, "a long, b long"))
    rows = [tuple(sorted((to_id(x), to_id(y)))) for x, y in pairs]
    edges = spark.createDataFrame(rows, f"a {id_type}, b {id_type}")
    got = _triangles(edges)
    assert got == _wedge_triangle_counts(edges)
    assert {from_id(u): v for u, v in got.items()} == longs


def test_triangle_counts_builds_lazily_without_wedge_join(spark):
    """Building the frame runs no Spark job: the first job is the
    caller's action. The plan intersects out-neighbour lists, and every
    join in it is an equi-join: the wedge self-join, whose condition
    carries the (degree, id) rank inequality, is gone."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(_PARITY_GRAPHS["seeded_random"], "a long, b long")
    group = f"triangle_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build triangle_counts")
    try:
        out = graph.triangle_counts(edges)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        plan = out._jdf.queryExecution().analyzed().toString()
        out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) > 0
    assert "array_intersect" in plan, plan
    conditions = re.findall(r"Join \w+, (.*)", plan)
    assert conditions and not any("<" in c for c in conditions), plan


def test_ancestor_closure_deep_chain_and_forest(spark):
    """A 20-deep chain (needs the doubling: 5 rounds cover 2^5=32,
    while 20 > 2^4 proves round 5 genuinely fires), a second 2-node
    tree, and an isolated root. Exact (root, depth) for every node;
    extra rounds must saturate, not overshoot."""
    rows = [(i, i - 1 if i > 1 else None) for i in range(1, 21)]  # chain 1<-2<-...<-20
    rows += [(100, None), (101, 100), (200, None)]
    df = spark.createDataFrame(rows, "node long, parent long")
    for n_iter in (5, 7):  # 7: saturation is a no-op
        out = {r.node: (r.root, r.depth) for r in graph.ancestor_closure(df, n_iter=n_iter).collect()}
        assert out[20] == (1, 19) and out[10] == (1, 9) and out[1] == (1, 0)
        assert out[101] == (100, 1) and out[100] == (100, 0) and out[200] == (200, 0)
        assert len(out) == 23


def test_ancestor_closure_dangling_parent_persists(spark):
    """A node whose parent id has no node row (broken foreign key) must
    SURFACE as an unresolved row — root = the dangling id — never drop
    silently from the output."""
    df = spark.createDataFrame([(5, 99), (1, None)], "node long, parent long")
    out = {r.node: (r.root, r.depth) for r in graph.ancestor_closure(df, n_iter=3).collect()}
    assert out == {5: (99, 1), 1: (1, 0)}


def test_k_core_cascade_and_honest_cap(spark):
    """k-core peeling must CASCADE: node 4 has degree 2 (>= k) at
    round 1 but falls at round 2 once its leaf neighbor is peeled —
    the property a one-shot degree threshold misses. A long chain
    under a tiny max_rounds raises loudly instead of looping."""
    import pytest
    from pyspark.sql import functions as F

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import graph

    # triangle {1,2,3} + tail 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    out = {r.node: r.core_degree for r in graph.k_core(edges, 2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k above the max degree: empty core, no error
    assert graph.k_core(edges, 10).count() == 0
    # chain of 12: peels one layer per round from the ends
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    with pytest.raises(ValueError, match="did not converge"):
        graph.k_core(chain, 2, max_rounds=2)


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: 3 synchronous rounds
    converge each clique onto its smallest member's label; the bridge
    is a sparse cut LPA must not merge across."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
    assert all(got[n] == 1 for n in range(1, 5))
    assert all(got[n] == 10 for n in range(10, 14))


def test_label_propagation_deterministic_tiebreak(spark):
    """A node with equally frequent neighbor labels adopts the
    SMALLEST — the total order that makes synchronous LPA a pure
    function of the graph."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators.graph import label_propagation

    # node 5 sees labels {1, 2} once each after round 1 start: picks 1
    edges = spark.createDataFrame([(1, 5), (2, 5)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(edges, rounds=1).collect()}
    assert got[5] == 1


def test_pagerank_dangling_mass_and_tiebreak(spark):
    """Pins the documented dangling simplification (r13 ask #4): a
    dangling node's mass LEAKS (ranks sum < 1), the dangling node still
    RECEIVES rank, and symmetric nodes tie exactly — verified against
    the hand-computed 1-iteration recurrence on a 3-node graph
    a->c, b->c (c dangling): rank(c) = teleport + d*(r_a + r_b),
    rank(a) = rank(b) = teleport."""
    edges = spark.createDataFrame([("a", "c"), ("b", "c")], "src string, dst string")
    got = {r.node: r.rank for r in graph.pagerank(edges, n_iter=1).collect()}
    teleport = 0.15 / 3
    assert got["a"] == pytest.approx(teleport)
    assert got["b"] == got["a"]  # symmetric tie, exact
    assert got["c"] == pytest.approx(teleport + 0.85 * (2 / 3))
    # dangling leak: total mass < 1 (c's rank had nowhere to go next
    # round — run 2 iterations and the sum drops further)
    assert sum(got.values()) < 1.0
    got2 = {r.node: r.rank for r in graph.pagerank(edges, n_iter=2).collect()}
    assert sum(got2.values()) < sum(got.values())
    # ordering (what centrality consumers use) is stable across iters
    assert got2["c"] > got2["a"]


def test_pagerank_empty_graph_returns_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert graph.pagerank(edges).count() == 0


def test_pagerank_empty_graph(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert graph.pagerank(edges).count() == 0
