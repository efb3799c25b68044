"""k-core extraction by synchronous distributed peeling.

The k-core of an undirected graph is the maximal induced subgraph in
which every vertex has degree ≥ k — the standard link-graph density
filter (spam-farm / boilerplate-hub pruning before community detection,
and the cheap upper bound on clique size). The reference exposes the
same "drop weak vertices, recompute, repeat" shape through its
isolateVertex + degree-recompute loop
(/root/reference/mis/include/xilinxmis.hpp:86-106 with
grappolo/src/utilityClusteringFunctions.cpp:46-59); here the whole fixed
point is declarative:

    round i: deg_i = degrees of the surviving edge set
             keep_i = { v : deg_i(v) ≥ k }
             edges_{i+1} = edges_i semi-joined to keep_i on BOTH ends

Each round is one hash aggregation plus two semi-joins on an edge table
that only ever shrinks — the classic distributed peel. Rounds are
synchronous (all sub-k vertices of a round drop together), so the result
is the true k-core regardless of round order, and a converged state is a
fixed point (extra sweeps are no-ops) — which is what makes the
fixed-round SQL oracle in ``__spark_entry__`` exact.

Driver-action economics: one count per round (the stop test doubles as
the lineage-materializing action); the rounds run on the same superstep
loop as the PageRank/CC loops (plans/superstep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.superstep import Supersteps, Unchanged


def kcore(
    spark: SparkSession,
    edges_canon: DataFrame,
    k: int,
    max_rounds: int = 100,
    checkpoint_every: int = 4,
    metrics=None,
) -> DataFrame:
    """Vertices of the k-core with their within-core degree:
    DataFrame(vid: long, core_degree: long). Empty result when the graph
    has no k-core. ``edges_canon`` is the canonical undirected-once table
    (src < dst).

    Termination (r4 advice): the fixed-point test is EDGE-count based —
    a round that drops no edges cannot change any degree, hence cannot
    change the keep set, so the peel has converged. If ``max_rounds`` is
    exhausted before that (a pathological onion at this k), the result is
    a supergraph of the true k-core; that truncation warns loudly instead
    of returning silently. ``metrics`` rows carry
    (round, edges_dropped, surviving_edges, wall_s) — the surviving EDGE
    count in the edges slot, so derived edges/s throughput is honest."""
    if k < 1:
        raise ValueError("k must be >= 1")
    with Supersteps(
        spark, max_rounds, checkpoint_every, metrics=metrics,
        name=f"kcore(k={k})", cap="max_rounds",
    ) as loop:
        active = loop.cache(edges_canon.select("src", "dst"))
        n_edges = active.count()  # one-time setup action

        def step(active: DataFrame) -> DataFrame:
            ends = active.select(F.col("src").alias("vid")).unionAll(
                active.select(F.col("dst").alias("vid"))
            )
            deg = ends.groupBy("vid").agg(F.count("*").alias("core_degree"))
            keep = deg.filter(F.col("core_degree") >= k).select("vid")
            return active.join(
                keep.withColumnRenamed("vid", "src"), "src", "left_semi"
            ).join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")

        if n_edges:
            peel = Unchanged(DataFrame.count, n_edges)
            active, _, _ = loop.run(active, step, peel, lambda: peel.values[-1])

        return (
            active.select(F.col("src").alias("vid"))
            .unionAll(active.select(F.col("dst").alias("vid")))
            .groupBy("vid")
            .agg(F.count("*").alias("core_degree"))
        )
