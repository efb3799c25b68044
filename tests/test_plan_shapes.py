"""Physical-plan regression tests: the scale-design claims of
BENCH/PLANS.md are asserted, not just documented — column pruning reaches
the scan, top-K compiles to TakeOrderedAndProject, and the flagship graph
derivation does partial aggregation before its exchange."""

import pyspark.sql.functions as F
import pytest

from graphanalytics_spark import graph
from graphanalytics_spark.functions import similarity

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_copurchase_scan_is_column_pruned(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(graph.copurchase_edges(li))
    # only the join/group keys are read from an 11-column table
    assert "l_orderkey" in plan and "l_partkey" in plan
    for unused in ("l_extendedprice", "l_shipdate", "l_comment", "l_quantity"):
        assert unused not in plan, f"column {unused} not pruned from scan"


def test_cosine_topk_uses_take_ordered(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(similarity.cosine_topk(spark, emb, [0.5] * 64, k=10))
    assert "TakeOrderedAndProject" in plan
    # no exchange: top-K merges per-partition heaps on the driver
    assert "Exchange" not in plan


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan


def test_partial_aggregation_before_exchange(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(graph.copurchase_edges(li))
    # partial + final hash aggregate: map-side combine absorbs hub skew
    first_agg = plan.index("HashAggregate")
    assert "HashAggregate" in plan[first_agg + 10 :]


def test_fuzzy_join_has_no_cartesian_product(spark):
    from graphanalytics_spark.functions import fuzzymatch

    left = spark.createDataFrame([(1, "abcdef")], "id long, text string")
    right = spark.createDataFrame([(2, "abcdeg")], "id long, text string")
    plan = _plan(fuzzymatch.fuzzy_join(spark, left, right, threshold=80.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_lsh_is_bucket_equijoin(spark):
    from graphanalytics_spark.functions import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(similarity.knn_join_lsh(spark, emb, emb, k=3, exclude_self=True))
    # candidates come from an equi-join on (band, bucket) — any hash or
    # sort-merge strategy is fine, but never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_edges_aggregate_and_join_exchange_free(spark, tmp_path):
    """A bucketed-on-src edge table must feed per-src aggregation and a
    src-keyed self-join WITHOUT any Exchange: the co-location contract
    that makes iterative gathers shuffle-only-the-state at cluster scale."""
    from graphanalytics_spark import fixtures, graph
    from graphanalytics_spark.sources import writers

    edges = graph.canonicalize(
        fixtures.edges_df(spark, [(i, (i * 7 + 1) % 50) for i in range(200)])
    )
    writers.write_bucketed_edges(edges, "edges_bucketed_test", buckets=8)
    try:
        t = writers.read_bucketed_edges(spark, "edges_bucketed_test")
        agg = t.groupBy("src").agg(F.sum("weight").alias("w"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # force the shuffle-join path (a tiny test table would otherwise be
        # broadcast, which bypasses bucketing entirely): a bucketed merge
        # join must read both sides co-located with NO Exchange
        j = t.alias("a").hint("merge").join(t.alias("b").hint("merge"), "src")
        j.count()
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in jplan, jplan
        assert "Bucketed: true" in jplan
    finally:
        spark.sql("DROP TABLE IF EXISTS edges_bucketed_test")


def test_bipartite_project_guard_is_semijoin(spark):
    """The max_t_degree hub guard must compile to a semi-join filter on t,
    never a cartesian shape; the projection itself is an equi-join on t."""
    st = spark.createDataFrame(
        [(s, s % 7) for s in range(100)], "s long, t long"
    )
    plan = _plan(graph.bipartite_project(st, max_t_degree=10))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    # partial+final agg pair: map-side combine before the pair exchange
    first_agg = plan.index("HashAggregate")
    assert "HashAggregate" in plan[first_agg + 10 :]


def test_nhop_pairs_is_equijoin(spark):
    from graphanalytics_spark import fixtures
    from graphanalytics_spark.operators import nhop

    ec = graph.canonicalize(
        fixtures.edges_df(spark, [(i, i + 1) for i in range(6)])
    )
    pairs = spark.createDataFrame([(0, 2), (0, 5)], "src long, dst long")
    plan = _plan(nhop.n_hop_pairs(spark, ec, pairs, hops=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similar_vertices_is_bucket_equijoin(spark):
    """The common-neighbor generator is a neighbor-keyed equi-join (never a
    cross product) and the hub cap compiles to a semi-join, exactly like
    bipartite_project's guard."""
    ec = graph.canonicalize(
        spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double")
    )
    plan = _plan(graph.similar_vertices(ec, k=3, max_degree=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # hub cap applied join-side
    # the cap is ON BY DEFAULT (r4 verdict #4): calling with no max_degree
    # must still compile the semi-join guard
    default_plan = _plan(graph.similar_vertices(ec, k=3))
    assert "LeftSemi" in default_plan
    # and only an explicit None disables it
    uncapped_plan = _plan(graph.similar_vertices(ec, k=3, max_degree=None))
    assert "LeftSemi" not in uncapped_plan


def test_ktruss_round_is_equijoin_only(spark):
    """One support-peel round = a<b<c triangle equi-joins + hash agg +
    left join filter — never a cartesian shape."""
    from graphanalytics_spark.operators.ktruss import ktruss

    ec = graph.canonicalize(
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 1.0)],
            "src long, dst long, weight double",
        )
    )
    plan = _plan(ktruss(spark, ec, k=3, max_rounds=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_round_is_semijoin_pair(spark):
    """One peel round = degree hash-agg + two left-semi filters on the
    edge set — never a cartesian shape."""
    from graphanalytics_spark.operators.kcore import kcore

    ec = graph.canonicalize(
        spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(8)] + [(0, 2, 1.0), (1, 3, 1.0)],
            "src long, dst long, weight double",
        )
    )
    plan = _plan(kcore(spark, ec, k=2, max_rounds=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_random_walk_step_is_two_column_equijoin(spark):
    """The neighbor probe joins on (vertex, idx) — one probe per walk,
    no candidate amplification, no cartesian shape, no Python."""
    from graphanalytics_spark.operators import walks

    ec = graph.canonicalize(
        spark.createDataFrame(
            [(i, (i + 1) % 6, 1.0) for i in range(6)],
            "src long, dst long, weight double",
        )
    )
    plan = _plan(walks.random_walks(spark, ec, walk_length=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_assortativity_single_aggregation(spark):
    """Five DECIMAL moment sums travel through ONE aggregation pair —
    no per-moment re-scan of the edge table."""
    ec = graph.canonicalize(
        spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(10)],
            "src long, dst long, weight double",
        )
    )
    plan = _plan(graph.degree_assortativity(graph.symmetrize(ec)))
    assert "CartesianProduct" not in plan
    # one partial+final HashAggregate pair carrying all five sums
    assert plan.count("sum(") >= 5


# --- superstep plans of the iterative operators ---------------------------


def _superstep_plan(monkeypatch, run, superstep=3):
    """Physical plan (a JVM SparkPlan) of one superstep of ``run()``: the
    frame handed to the lineage truncator at that superstep, read after
    the truncator has executed it, so AQE's final plan is in place."""
    from graphanalytics_spark.plans import truncate

    seen = {}
    orig = truncate.LineageTruncator.truncate

    def spy(self, df, iteration, stream=None):
        out = orig(self, df, iteration, stream)
        seen[iteration] = df
        return out

    monkeypatch.setattr(truncate.LineageTruncator, "truncate", spy)
    run()
    return seen[superstep]._jdf.queryExecution().executedPlan()


def _kids(node):
    """Children of a physical plan node, looking through AQE wrappers (an
    adaptive plan and its query stages are leaves) but not into cached
    relations: an InMemoryTableScan's cached plan is not part of the
    superstep's work."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_kids(n))


def _exchanges_over(plan, is_target):
    """Exchange nodes whose input reaches a target node through unary
    operators only (no join, aggregation or other exchange in between):
    an exchange that "sits over" the target, shuffling or broadcasting it."""
    stops = ("Join", "Aggregate", "Exchange")
    hits = []
    for ex in _walk(plan):
        if not ex.getClass().getSimpleName().endswith("ExchangeExec"):
            continue
        frontier = _kids(ex)
        while frontier:
            n = frontier.pop()
            if is_target(n):
                hits.append(ex.nodeName())
            elif not any(s in n.getClass().getSimpleName() for s in stops):
                frontier.extend(_kids(n))
    return hits


def _symmetric_graph(spark):
    # every vertex has out-edges, so PageRank plans no dangling-mass
    # broadcast
    pairs = [(i, (i * 7 + 1) % 300) for i in range(600)] + [(i, i + 1) for i in range(299)]
    return graph.canonicalize(
        spark.createDataFrame(
            [(a % 300, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
        )
    )


def test_pagerank_superstep_reads_links_in_place_without_broadcast(spark, monkeypatch):
    """From superstep 3 on, when broadcasting is off (the regime of graphs
    far over the broadcast threshold), the persisted src-partitioned links
    are read in place: no exchange sits over them, only the state moves."""
    from graphanalytics_spark.operators import pagerank

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        sym = graph.symmetrize(_symmetric_graph(spark))
        plan = _superstep_plan(
            monkeypatch, lambda: pagerank.pagerank(spark, sym, tol=0.0, max_iter=4).count()
        )
    finally:
        spark.conf.set(key, before)

    def is_links(n):
        return n.getClass().getSimpleName() == "InMemoryTableScanExec" and (
            "frac#" in n.output().toString()
        )

    assert any(is_links(n) for n in _walk(plan)), plan.toString()
    assert _exchanges_over(plan, is_links) == [], plan.toString()


def test_detach_keeps_planning_statistics(spark):
    """A detached frame is planned from its source's size estimate, so a
    small persisted input keeps its planning-time broadcast (triangle
    orientation's degree joins and pagerank_csr's out-degree join are
    such joins over the detached input)."""
    from graphanalytics_spark.plans.truncate import detach

    edges = _symmetric_graph(spark).persist()
    edges.count()
    try:
        d = detach(edges)

        def size(df):
            return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

        assert size(d) == size(edges)
        deg = d.groupBy("src").agg(F.sum("weight").alias("wdeg"))
        assert "BroadcastHashJoin" in _plan(d.join(deg, "src"))
    finally:
        edges.unpersist()


def _chained_input(spark):
    """Canonical edges under a 16-deep union/select chain: a caller's plan
    that grows with every step of its own pipeline."""
    edges = _symmetric_graph(spark)
    extra = spark.createDataFrame(
        [(10**6 + k, 10**6 + k + 1, 1.0) for k in range(16)],
        "src long, dst long, weight double",
    )
    for k in range(16):
        edges = edges.union(extra.filter(F.col("src") == 10**6 + k)).select(
            "src", "dst", "weight"
        )
    return edges


@pytest.mark.parametrize(
    "operator", ["pagerank", "components", "labelprop", "mis", "coloring", "louvain"]
)
def test_static_side_plans_as_leaf_scan(spark, monkeypatch, operator):
    """The persisted static side is built over a leaf scan of the input,
    not over the caller's chain: its cached plan reads one detached RDD
    (twice where the operator symmetrizes it) and no union branch."""
    from graphanalytics_spark.operators import (
        coloring,
        components,
        labelprop,
        louvain,
        mis,
        pagerank,
    )

    edges = _chained_input(spark)
    run = {
        "pagerank": lambda: pagerank.pagerank(
            spark, graph.symmetrize(edges), tol=0.0, max_iter=4
        ).count(),
        "components": lambda: components.connected_components(
            spark, edges, max_iter=4
        ).count(),
        "labelprop": lambda: labelprop.label_propagation(
            spark, edges, max_iter=4
        ).count(),
        "mis": lambda: mis.maximal_independent_set(spark, edges).count(),
        "coloring": lambda: coloring.greedy_coloring(spark, edges).count(),
        # one phase: the phase loop's own truncations would also record
        # an iteration 3
        "louvain": lambda: louvain.louvain(spark, edges, max_phases=1).count(),
    }[operator]
    plan = _superstep_plan(monkeypatch, run)
    # from superstep 3 the state is a checkpoint, so every cache scan left
    # in the plan reads the static side (CC's pointer jump reads it twice)
    scans = [
        n for n in _walk(plan) if n.getClass().getSimpleName() == "InMemoryTableScanExec"
    ]
    assert scans, plan.toString()
    for scan in scans:
        cached = scan.relation().cachedPlan()
        leaves = [n.getClass().getSimpleName() for n in _walk(cached) if not _kids(n)]
        assert 1 <= len(leaves) <= 2, cached.toString()
        assert set(leaves) == {"RDDScanExec"}, cached.toString()


def test_pagerank_links_build_on_the_aggregated_side(spark, monkeypatch):
    """The links' cached plan joins the edges to their out-degree sums
    with a shuffled hash join that builds on the sums, on a graph small
    enough that AQE would otherwise broadcast one side — which side
    depended on stage-finish order, so the cached plan was not
    reproducible."""
    from graphanalytics_spark.operators import pagerank

    sym = graph.symmetrize(_symmetric_graph(spark))
    plan = _superstep_plan(
        monkeypatch, lambda: pagerank.pagerank(spark, sym, tol=0.0, max_iter=4).count()
    )
    links = [
        n
        for n in _walk(plan)
        if n.getClass().getSimpleName() == "InMemoryTableScanExec"
        and "frac#" in n.output().toString()
    ]
    assert links, plan.toString()
    cached = links[0].relation().cachedPlan()
    names = [n.getClass().getSimpleName() for n in _walk(cached)]
    assert "BroadcastExchangeExec" not in names, cached.toString()
    joins = [n for n in _walk(cached) if n.getClass().getSimpleName() == "ShuffledHashJoinExec"]
    assert len(joins) == 1, cached.toString()
    build = joins[0].right() if joins[0].buildSide().toString() == "BuildRight" else joins[0].left()
    assert "wdeg#" in build.output().toString(), cached.toString()
