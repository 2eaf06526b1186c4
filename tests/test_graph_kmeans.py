"""Unit tests for the iterative operators: connected components
(plain + edge-folding contraction) against a Python union-find golden,
PageRank (uniform + seeded) against a pure-Python replay, the job
count of every graph operator, and k-means determinism/coverage. The
DuckDB recursive-CTE / unrolled-SQL oracles cover these at sf0.01;
here we cover shapes the testdata graph doesn't produce (long chains,
isolated nodes, rings)."""

from __future__ import annotations

import math
import uuid
from collections import Counter, defaultdict

import numpy as np
import pytest

from a_share_data_pipeline_spark.operators import graph
from a_share_data_pipeline_spark.operators.graph import connected_components, pagerank
from a_share_data_pipeline_spark.operators.kmeans import kmeans_assignments


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min node of the set
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


def _run(spark, n_nodes, edges, **kw):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    e = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        e = e.limit(0)
    out = connected_components(nodes, e, id_col="id", **kw)
    return {r.id: r.component for r in out.collect()}


@pytest.mark.parametrize("fold", [False, True])
def test_chain_ring_isolated(spark, fold):
    # chain 0..7, ring 10..13, isolated 20
    edges = [(i, i + 1) for i in range(7)] + [(10, 11), (11, 12), (12, 13), (13, 10)]
    got = _run(spark, 21, edges, fold_edges=fold)
    golden = _union_find(21, edges)
    assert got == golden
    assert got[7] == 0 and got[13] == 10 and got[20] == 20


@pytest.mark.parametrize("fold", [False, True])
@pytest.mark.parametrize("seed", [3, 11])
def test_random_graph_matches_union_find(spark, fold, seed):
    rng = np.random.RandomState(seed)
    n = 60
    edges = [tuple(sorted(map(int, rng.choice(n, 2, replace=False)))) for _ in range(45)]
    got = _run(spark, n, edges, fold_edges=fold)
    assert got == _union_find(n, edges)


def test_no_edges_all_singletons(spark):
    got = _run(spark, 5, [])
    assert got == {i: i for i in range(5)}


def test_kmeans_deterministic_and_total(spark):
    rng = np.random.RandomState(42)
    rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a1 = {r.vec_id: (r.cluster, r.rd) for r in kmeans_assignments(df, k=4, iters=2).collect()}
    a2 = {r.vec_id: (r.cluster, r.rd) for r in kmeans_assignments(df, k=4, iters=2).collect()}
    assert a1 == a2  # deterministic across runs
    assert set(a1) == set(range(50))  # every vector assigned
    assert {c for c, _ in a1.values()} <= set(range(4))
    assert all(rd >= 0 for _, rd in a1.values())


@pytest.mark.parametrize("fold", [False, True])
def test_stray_endpoints_drop_edges(spark, fold):
    """endpoints ⊆ nodes contract: an edge touching a node NOT in the
    nodes frame disappears entirely — its valid endpoint stays a
    singleton, connectivity never flows through the stray node, and
    the output is keyed exactly by the nodes input."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    # (0,1) valid; (2,99) stray endpoint; (3,98),(98,4) would connect
    # 3-4 through stray 98 if the guard leaked
    e = spark.createDataFrame(
        [(0, 1), (2, 99), (3, 98), (98, 4)], "a long, b long"
    )
    out = connected_components(nodes, e, id_col="id", fold_edges=fold)
    got = {r.id: r.component for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}


def test_exhausted_round_budget_raises(spark):
    """A connected 40-node chain needs 39 plain min-label rounds: with
    the default 25 the labels are still changing, and returning them
    would split the chain into many components silently. The loop
    must raise and name the budget; folding edges finishes in
    O(log n) rounds with one component."""
    chain = [(i, i + 1) for i in range(39)]
    with pytest.raises(RuntimeError, match="max_iters=25.*fold_edges=True"):
        _run(spark, 40, chain)
    assert _run(spark, 40, chain, fold_edges=True) == {i: 0 for i in range(40)}


# in-degree <= 2 everywhere, so each in-edge sum has at most two terms
# and is the same double in any shuffle order
_PR_EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]


def _pagerank_replay(edges, damping, iters, round_to, seeds=None):
    """Pure-Python PageRank with the operator's per-round rounding
    (dround: floor(x * 10^n + 0.5) / 10^n on non-negative ranks)."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = Counter(s for s, _ in edges)
    scale = float(10**round_to)
    teleported = {n: seeds is None or n in seeds for n in nodes}
    rank = {n: 1.0 if teleported[n] else 0.0 for n in nodes}
    for _ in range(iters):
        inflow = defaultdict(float)
        for s, d in edges:
            inflow[d] += rank[s] / outdeg[s]
        raw = {
            n: (1.0 - damping if teleported[n] else 0.0) + damping * inflow[n]
            for n in nodes
        }
        rank = {n: math.floor(x * scale + 0.5) / scale for n, x in raw.items()}
    return rank


def _pagerank_spark(spark, **kw):
    e = spark.createDataFrame(_PR_EDGES, "src string, dst string")
    return {r.node: r.rank for r in pagerank(e, **kw).collect()}


def test_pagerank_uniform_matches_replay(spark):
    # hand-walked, d=0.85, 3 decimals: round 1 a=0.15+0.85*(1+1)=1.85,
    # b=0.15+0.85*0.5=0.575, c=0.15+0.85*1.5=1.425, d=0.15; round 2
    # a=0.15+0.85*1.575=1.48875->1.489, b=0.15+0.85*0.925=0.93625->0.936
    assert _pagerank_spark(spark, damping=0.85, iters=2, round_to=3) == {
        "a": 1.489, "b": 0.936, "c": 1.425, "d": 0.15,
    }
    for iters in (1, 4, 9):
        assert _pagerank_spark(spark, damping=0.85, iters=iters, round_to=3) == (
            _pagerank_replay(_PR_EDGES, 0.85, iters, 3)
        )


def test_pagerank_seeded_matches_replay(spark):
    # hand-walked, seed a, d=0.85, 3 decimals: round 1 a=0.15, b=c=0.425,
    # d=0; round 2 a=0.15+0.85*0.425=0.51125->0.511,
    # b=0.85*0.075=0.06375->0.064, c=0.85*(0.075+0.425)=0.425
    want = {"a": 0.511, "b": 0.064, "c": 0.425, "d": 0.0}
    assert (
        _pagerank_spark(spark, damping=0.85, iters=2, round_to=3, seeds=["a"]) == want
    )
    # a seed absent from the graph contributes nothing
    assert _pagerank_spark(
        spark, damping=0.85, iters=2, round_to=3, seeds=["a", "zz"]
    ) == want
    for iters in (1, 4, 9):
        assert _pagerank_spark(
            spark, damping=0.85, iters=iters, round_to=3, seeds=["a", "d"]
        ) == _pagerank_replay(_PR_EDGES, 0.85, iters, 3, seeds={"a", "d"})


# Jobs each operator fires on the fixed graphs below (eager checkpoints,
# convergence counts, broadcasts and the final collect: the driver round
# trips). Counted with AQE off: under AQE the count also holds per-stage
# jobs whose number depends on which shuffle stage finishes first
# (measured 19-20 for pagerank, 59-62 for folded CC on these graphs).
_JOBS = {
    "connected_components": 12,
    "connected_components_fold": 15,
    "pagerank": 3,
    "pagerank_seeded": 3,
    "label_propagation": 2,
    "bfs_hops": 2,
    "sssp": 2,
}


def test_graph_operator_job_counts(spark):
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    cc_e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (5, 6)], "a long, b long")
    de = spark.createDataFrame(_PR_EDGES, "src string, dst string")
    ue = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    we = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("a", "c", 5), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    runs = {
        "connected_components": lambda: graph.connected_components(nodes, cc_e),
        "connected_components_fold": lambda: graph.connected_components(
            nodes, cc_e, fold_edges=True
        ),
        "pagerank": lambda: graph.pagerank(de),
        "pagerank_seeded": lambda: graph.pagerank(de, seeds=["a"]),
        "label_propagation": lambda: graph.label_propagation(ue),
        "bfs_hops": lambda: graph.bfs_hops(de, seeds=["a"]),
        "sssp": lambda: graph.sssp(we, seeds=["a"]),
    }
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, build in runs.items():
            sc.setJobGroup(f"{run_id}-{name}", name)
            try:
                build().collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # jobs reach the status tracker through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    got = {name: len(tracker.getJobIdsForGroup(f"{run_id}-{name}")) for name in runs}
    assert got == _JOBS
