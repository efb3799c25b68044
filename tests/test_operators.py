"""Operator correctness vs independent numpy oracles (BASELINE.md targets:
PageRank allclose 1e-6, CC/triangles exact, LP deterministic-match)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from graphanalytics_spark import fixtures, graph
from graphanalytics_spark.operators import (
    coloring,
    components,
    contraction,
    hits,
    hyperball,
    labelprop,
    louvain,
    mis,
    modularity,
    nhop,
    pagerank,
    sssp,
    triangles,
)
from tests import oracles


def _random_graph(n=60, p=0.08, seed=7):
    rng = np.random.default_rng(seed)
    pairs = [
        (i, j) for i in range(n) for j in range(i + 1, n) if rng.random() < p
    ]
    # ensure no isolated vertex ambiguity: add a ring so all vertices exist
    pairs += [(i, (i + 1) % n) for i in range(n)]
    w = {p_: float(rng.integers(1, 4)) for p_ in pairs}
    return [(a, b, w[(a, b)]) for a, b in sorted(set(pairs))], n


@pytest.fixture(scope="module")
def rgraph(spark):
    edges, n = _random_graph()
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    return graph.canonicalize(df), edges, n


def test_pagerank_matches_oracle(spark, rgraph):
    ec, edges, n = rgraph
    sym = [(a, b, w) for a, b, w in edges] + [(b, a, w) for a, b, w in edges]
    expected = oracles.pagerank_np(sym, n, tol=1e-7)
    m = pagerank.IterationMetrics()
    got = pagerank.pagerank(spark, graph.symmetrize(ec), tol=1e-7, metrics=m)
    gd = {r.vid: r["rank"] for r in got.collect()}
    assert np.allclose([gd[i] for i in range(n)], expected, atol=1e-6)
    assert abs(sum(gd.values()) - 1.0) < 1e-9
    assert m.iterations > 1 and m.total_edges_traversed > 0


def test_pagerank_csr_matches_dataframe(spark, rgraph):
    ec, edges, n = rgraph
    a = pagerank.pagerank(spark, graph.symmetrize(ec), tol=1e-7)
    b = pagerank.pagerank_csr(spark, graph.symmetrize(ec), tol=1e-7, n_blocks=8)
    ad = {r.vid: r["rank"] for r in a.collect()}
    bd = {r.vid: r["rank"] for r in b.collect()}
    assert np.allclose(
        [ad[i] for i in range(n)], [bd[i] for i in range(n)], atol=1e-9
    )


def test_pagerank_dangling_star(spark):
    # directed star: leaves point at hub; hub is dangling
    e = spark.createDataFrame(
        [(i, 0, 1.0) for i in range(1, 6)], "src long, dst long, weight double"
    )
    expected = oracles.pagerank_np([(i, 0, 1.0) for i in range(1, 6)], 6, tol=1e-8)
    got = pagerank.pagerank(spark, e, tol=1e-8)
    gd = {r.vid: r["rank"] for r in got.collect()}
    assert np.allclose([gd[i] for i in range(6)], expected, atol=1e-6)


def test_components_exact(spark, rgraph):
    ec, edges, n = rgraph
    expected = oracles.components_np([(a, b) for a, b, _ in edges], list(range(n)))
    got = {
        r.vid: r.component
        for r in components.connected_components(spark, ec).collect()
    }
    assert got == expected


def test_components_two_islands(spark):
    ec = graph.canonicalize(
        fixtures.edges_df(spark, fixtures.TWO_COMPONENTS_PLUS_ISOLATE)
    )
    got = {
        r.vid: r.component
        for r in components.connected_components(spark, ec).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_label_propagation_matches_oracle(spark, rgraph):
    ec, edges, n = rgraph
    expected = oracles.label_propagation_np(edges, list(range(n)), max_iter=15)
    got = {
        r.vid: r.label
        for r in labelprop.label_propagation(spark, ec, max_iter=15).collect()
    }
    assert got == expected


def test_triangles_exact(spark, rgraph):
    ec, edges, n = rgraph
    expected = oracles.triangles_np([(a, b) for a, b, _ in edges])
    assert triangles.triangle_count(spark, ec).first()[0] == expected
    pv = triangles.triangle_count_per_vertex(spark, ec)
    assert pv.agg(F.sum("n_triangles")).first()[0] == 3 * expected


def test_triangles_two_triangles(spark):
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    assert triangles.triangle_count(spark, ec).first()[0] == 2


def test_mis_invariants(spark, rgraph):
    ec, _, _ = rgraph
    s = mis.maximal_independent_set(spark, ec)
    v = mis.verify_mis(spark, ec, s)
    assert v == {"independence_violations": 0, "maximality_violations": 0}


def test_mis_deterministic(spark, rgraph):
    ec, _, _ = rgraph
    a = sorted(r.vid for r in mis.maximal_independent_set(spark, ec, seed=1).collect())
    b = sorted(r.vid for r in mis.maximal_independent_set(spark, ec, seed=1).collect())
    assert a == b


def test_local_minima_matches_python(spark, rgraph):
    """The shared Luby selection step: a candidate is kept iff its hashed
    key is below that of every neighbor that is also a candidate."""
    ec, edges, n = rgraph
    sym = graph.symmetrize(ec).select("src", "dst")
    cand = spark.range(n).filter(F.col("id") % 3 != 0).select(
        F.col("id").alias("vid"), F.xxhash64("id", F.lit(3)).alias("key")
    )
    key = {r.vid: r.key for r in cand.collect()}
    assert len(set(key.values())) == len(key)
    nbrs = {v: set() for v in key}
    for a, b, _ in edges:
        if a in key and b in key:
            nbrs[a].add(b)
            nbrs[b].add(a)
    want = {v for v in key if all(key[v] < key[u] for u in nbrs[v])}
    got = [r.vid for r in mis.local_minima(sym, cand).collect()]
    assert len(got) == len(set(got)) and set(got) == want
    assert 0 < len(want) < len(key)


def test_modularity_known_value(spark):
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)], "vid long, label long"
    )
    q = modularity.modularity(spark, ec, labels)
    expected = oracles.modularity_np(
        [(a, b, 1.0) for a, b in fixtures.TWO_TRIANGLES_BRIDGE],
        {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1},
    )
    assert abs(q - expected) < 1e-12
    assert abs(q - 0.35714285714285715) < 1e-12


def test_contraction_sums_weights(spark):
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    labels = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (3, 20), (4, 20), (5, 20)], "vid long, label long"
    )
    got = sorted(
        tuple(r) for r in contraction.contract_graph(spark, ec, labels).collect()
    )
    assert got == [(0, 0, 3.0), (0, 1, 1.0), (1, 1, 3.0)]


def test_nhop_bfs_levels(spark):
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    seeds = spark.createDataFrame([(0,)], "v long")
    got = sorted((r.vid, r.hop) for r in nhop.n_hop(spark, ec, seeds, 2).collect())
    assert got == [(0, 0), (1, 1), (2, 1), (3, 2)]
    # a repeated seed id still yields each (seed, vid) once
    twice = spark.createDataFrame([(0,), (0,)], "v long")
    got = sorted(tuple(r) for r in nhop.n_hop(spark, ec, twice, 2).collect())
    assert got == [(0, 0, 0), (0, 1, 1), (0, 2, 1), (0, 3, 2)]


def test_khop_subgraph_induced_semantics(spark):
    """khop_subgraph returns exactly the edges with BOTH endpoints within
    k hops of the seed set (GET SUBGRAPH semantics)."""
    from graphanalytics_spark.operators import nhop

    # path 0-1-2-3-4-5 plus an off-path edge (10,11)
    edges = [(i, i + 1) for i in range(5)] + [(10, 11)]
    ec = graph.canonicalize(fixtures.edges_df(spark, edges))
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = sorted((r.src, r.dst) for r in nhop.khop_subgraph(spark, ec, seeds, 2).collect())
    assert got == [(0, 1), (1, 2)]  # reach {0,1,2}; edge (2,3) excluded (3 not reached)
    got3 = sorted((r.src, r.dst) for r in nhop.khop_subgraph(spark, ec, seeds, 3).collect())
    assert got3 == [(0, 1), (1, 2), (2, 3)]


def test_personalized_pagerank_mass_and_locality(spark):
    """PPR invariants: total mass 1, seeds hold the highest ranks on a
    symmetric path (proximity ranking), zero mass on disconnected parts."""
    # path 0-1-2-...-9 plus a disconnected pair (100, 101)
    edges = [(i, i + 1) for i in range(9)] + [(100, 101)]
    ec = graph.canonicalize(fixtures.edges_df(spark, edges))
    sym = graph.symmetrize(ec)
    seeds = spark.createDataFrame([(0,)], "seed long")
    r = {row.vid: row.rank for row in
         pagerank.personalized_pagerank(spark, sym, seeds, tol=1e-10, max_iter=60).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    assert r[100] == 0.0 and r[101] == 0.0
    # rank decays with distance from the seed neighborhood (the seed's
    # direct neighbor may legitimately exceed the degree-1 seed itself,
    # since ALL of the seed's outflow lands on it)
    assert r[1] > r[3] > r[6] and r[0] > r[3]


def test_personalized_pagerank_ignores_absent_seeds(spark):
    """Seeds not present in the graph must not scale ranks down: Σ rank
    stays 1 (normalization counts only in-graph seeds); an all-absent seed
    set raises, and the links and vertex set it persisted first do not
    outlive the call."""
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(9)]
    ec = graph.canonicalize(fixtures.edges_df(spark, edges))
    sym = graph.symmetrize(ec)
    seeds = spark.createDataFrame([(0,), (999,)], "seed long")  # 999 absent
    r = {row.vid: row.rank for row in
         pagerank.personalized_pagerank(spark, sym, seeds, tol=1e-10, max_iter=50).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with _pytest.raises(ValueError):
        pagerank.personalized_pagerank(
            spark, sym, spark.createDataFrame([(999,)], "seed long")
        )
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize("dangling", [False, True], ids=["symmetric", "dangling"])
def test_personalized_pagerank_with_every_seed_is_pagerank(spark, rgraph, dangling):
    """A reset uniform over every vertex is PageRank's reset: the two runs
    agree to 1e-12, with and without a dangling vertex (whose mass
    re-enters through the reset in both)."""
    ec, _, n = rgraph
    e = graph.symmetrize(ec)
    if dangling:
        e = e.unionByName(spark.createDataFrame([(0, n, 1.0)], "src long, dst long, weight double"))
    seeds = e.select(F.col("src").alias("vid")).union(e.select("dst")).distinct()
    pr = {r.vid: r["rank"] for r in pagerank.pagerank(spark, e, tol=1e-10).collect()}
    ppr = {
        r.vid: r["rank"]
        for r in pagerank.personalized_pagerank(spark, e, seeds, tol=1e-10).collect()
    }
    assert sorted(pr) == sorted(ppr) == list(range(n + int(dangling)))
    assert np.allclose([pr[v] for v in sorted(pr)], [ppr[v] for v in sorted(pr)], rtol=0, atol=1e-12)


def test_components_warns_when_max_iter_cuts_the_labels(spark):
    """A cap that cuts the run warns; a converged run and a fixed-iteration
    PageRank (tol=0, which never runs a stop test) do not."""
    import warnings as _w

    path = graph.canonicalize(fixtures.edges_df(spark, [(i, i + 1) for i in range(63)]))
    with pytest.warns(RuntimeWarning, match="max_iter"):
        components.connected_components(spark, path, max_iter=2).count()
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {r.component for r in components.connected_components(spark, path).collect()}
        pagerank.pagerank(spark, graph.symmetrize(path), tol=0.0, max_iter=2).count()
    assert got == {0}


@pytest.mark.parametrize(
    "run,cap",
    [
        (lambda spark, ec, cut: hyperball.neighborhood_function(spark, ec, max_t=1 if cut else 32), "max_t"),
        (lambda spark, ec, cut: hyperball.hyperball_per_vertex(spark, ec, max_t=1 if cut else 32).count(), "max_t"),
        (lambda spark, ec, cut: coloring.greedy_coloring(spark, ec, max_rounds=1 if cut else 200).count(), "max_rounds"),
        (lambda spark, ec, cut: mis.maximal_independent_set(spark, ec, max_iter=1 if cut else 100).count(), "max_iter"),
        (
            lambda spark, ec, cut: louvain.louvain(spark, ec, max_rounds_per_phase=1 if cut else 20).count(),
            "max_rounds_per_phase",
        ),
    ],
    ids=["neighborhood", "per_vertex", "coloring", "mis", "louvain"],
)
def test_cap_warns_when_it_cuts_the_run(spark, run, cap):
    """A cap that cuts the 64-vertex path's run warns, naming the cap; a
    run that converges under the default cap does not."""
    import warnings as _w

    path = graph.canonicalize(fixtures.edges_df(spark, [(i, i + 1) for i in range(63)]))
    with pytest.warns(RuntimeWarning, match=cap):
        run(spark, path, True)
    bridge = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        run(spark, bridge, False)


def test_nhop_pairs_reachability_and_min_hops(spark):
    """Pair-list n-hop matching (the reference nHop kernel's query shape):
    path 0-1-2-3-4 plus island (10,11)."""
    edges = [(i, i + 1) for i in range(4)] + [(10, 11)]
    ec = graph.canonicalize(fixtures.edges_df(spark, edges))
    pairs = spark.createDataFrame(
        [(0, 0), (0, 2), (0, 3), (0, 10), (2, 0), (10, 11)], "src long, dst long"
    )
    got = {
        (r.src, r.dst): (r.reachable, r.min_hops)
        for r in nhop.n_hop_pairs(spark, ec, pairs, hops=2).collect()
    }
    assert got == {
        (0, 0): (True, 0),
        (0, 2): (True, 2),
        (0, 3): (False, -1),   # 3 hops away, beyond the budget
        (0, 10): (False, -1),  # different component
        (2, 0): (True, 2),     # undirected: symmetric
        (10, 11): (True, 1),
    }
    # directed: the path edges only go forward, so (2,0) is unreachable
    got_d = {
        (r.src, r.dst): (r.reachable, r.min_hops)
        for r in nhop.n_hop_pairs(spark, ec, pairs, hops=2, directed=True).collect()
    }
    assert got_d[(2, 0)] == (False, -1) and got_d[(0, 2)] == (True, 2)


# --- BFS levels + locality partitioning (operators/bfs.py) ---

def test_bfs_levels_hand_oracle(spark):
    """TWO_TRIANGLES_BRIDGE from vid 0: 0->0, {1,2}->1, 3->2, {4,5}->3."""
    from graphanalytics_spark.operators import bfs

    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    got = {r.vid: r.level for r in bfs.bfs_levels(spark, ec).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 3}
    # max_depth truncates the frontier loop
    got2 = {r.vid: r.level for r in bfs.bfs_levels(spark, ec, max_depth=2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_levels_multi_source_and_components(spark):
    from graphanalytics_spark.operators import bfs

    ec = graph.canonicalize(
        fixtures.edges_df(spark, fixtures.TWO_COMPONENTS_PLUS_ISOLATE)
    )
    # default single seed (min vid) only reaches its component
    assert {r.vid for r in bfs.bfs_levels(spark, ec).collect()} == {0, 1, 2}
    # component seeds cover every non-isolated vertex at the right level
    seeds = bfs.component_seeds(spark, ec)
    got = {r.vid: r.level for r in bfs.bfs_levels(spark, ec, seeds=seeds).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 1}


def test_bfs_partition_planted_clique_path(spark):
    """8x12 clique path: BFS-order chunks align with cliques, so the cut
    is exactly the 7 bridges; hash partitioning cuts 503/535."""
    import __spark_entry__ as entry
    from graphanalytics_spark.operators import bfs

    ec = entry._planted_clique_path(spark)
    assign = bfs.bfs_partition(spark, ec, n_parts=8)
    # every clique lands wholly in one partition
    parts = assign.collect()
    assert len(parts) == 96
    by_clique = {}
    for r in parts:
        by_clique.setdefault(r.vid // 12, set()).add(r.part)
    assert all(len(v) == 1 for v in by_clique.values()), by_clique
    cut = bfs.edge_cut(ec, assign).first()
    assert (cut.n_edges, cut.n_cut) == (535, 7)
    assert cut.cut_fraction == round(7 / 535, 8)


def test_edge_cut_unassigned_counts_as_cut(spark):
    from graphanalytics_spark.operators import bfs

    ec = graph.canonicalize(fixtures.edges_df(spark, [(0, 1), (1, 2)]))
    assign = spark.createDataFrame([(0, 0), (1, 0)], "vid long, part long")
    cut = bfs.edge_cut(ec, assign).first()
    assert (cut.n_edges, cut.n_cut) == (2, 1)  # edge (1,2): dst unassigned


def test_detached_input_survives_source_unpersist(spark, rgraph):
    """``detach`` keeps the input's RDD lineage: with the source's cached
    blocks dropped, the detached frame recomputes them, and PageRank, CC
    and triangles still match their oracles."""
    from graphanalytics_spark.plans.truncate import detach

    ec, edges, n = rgraph
    src = ec.select("src", "dst", "weight").persist()
    src.count()
    d = detach(src)
    src.unpersist(blocking=True)
    assert d._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LogicalRDD"

    sym = [(a, b, w) for a, b, w in edges] + [(b, a, w) for a, b, w in edges]
    ranks = {r.vid: r["rank"] for r in pagerank.pagerank(spark, graph.symmetrize(d), tol=1e-7).collect()}
    assert np.allclose(
        [ranks[i] for i in range(n)], oracles.pagerank_np(sym, n, tol=1e-7), atol=1e-6
    )
    cc = {r.vid: r.component for r in components.connected_components(spark, d).collect()}
    assert cc == oracles.components_np([(a, b) for a, b, _ in edges], list(range(n)))
    tri = triangles.triangle_count(spark, d).first()[0]
    assert tri == oracles.triangles_np([(a, b) for a, b, _ in edges])


@pytest.mark.parametrize(
    "call,knob",
    [
        (lambda spark, ec: pagerank.pagerank(spark, graph.symmetrize(ec), checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: components.connected_components(spark, ec, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: labelprop.label_propagation(spark, ec, checkpoint_every=-1), "checkpoint_every"),
        (lambda spark, ec: sssp.sssp(spark, ec, 0, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: hits.hits(spark, ec, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: hyperball.neighborhood_function(spark, ec, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: hyperball.hyperball_per_vertex(spark, ec, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: coloring.greedy_coloring(spark, ec, checkpoint_every=0), "checkpoint_every"),
        (lambda spark, ec: pagerank.pagerank(spark, graph.symmetrize(ec), check_every=0), "check_every"),
        (lambda spark, ec: pagerank.pagerank_csr(spark, graph.symmetrize(ec), check_every=-2), "check_every"),
        (
            lambda spark, ec: pagerank.personalized_pagerank(
                spark, graph.symmetrize(ec), ec.select("src"), check_every=0
            ),
            "check_every",
        ),
        (lambda spark, ec: components.connected_components(spark, ec, check_every=0), "check_every"),
        (lambda spark, ec: labelprop.label_propagation(spark, ec, check_every=-1), "check_every"),
    ],
    ids=[
        "pagerank", "components", "labelprop", "sssp", "hits", "neighborhood", "per_vertex", "coloring",
        "pagerank_check_every", "pagerank_csr_check_every", "personalized_check_every",
        "components_check_every", "labelprop_check_every",
    ],
)
def test_checkpoint_every_below_one_is_rejected(spark, rgraph, call, knob):
    """A cadence below 1 (the hard-reset ``checkpoint_every`` or the
    stop-test ``check_every``) is an error, not a silent fallback to some
    other cadence; it is raised before any job runs, so no static side is
    persisted and left behind."""
    sc = spark.sparkContext
    sc.setJobGroup("cadence_check", "invalid checkpoint_every")
    try:
        with pytest.raises(ValueError, match=knob):
            call(spark, rgraph[0])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("cadence_check")) == []
