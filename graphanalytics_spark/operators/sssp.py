"""Weighted single-source shortest paths — frontier Bellman–Ford.

Hop-based traversal (operators/bfs.py, nhop.py) answers "how many
links away"; this answers "how far by edge length" — the weighted
companion every link-graph toolbox needs (cost-weighted reachability,
weighted eccentricity, routing-style queries). The reference's nHop
kernel carries the same frontier-expansion shape without weights
(/root/reference/L2/nHop); SURVEY §2.3.

Algorithm: synchronous frontier relaxation (the distributed Bellman–Ford
specialization that behaves like delta-stepping when edge weights are
similar) on the shared superstep loop (plans/superstep.py). The state is
(vid, dist, changed), ``changed`` marking the vertices whose tentative
distance improved in the previous round; they are the frontier, and
round i relaxes ONLY the edges leaving them —

    cand_i  = state.filter(changed) ⋈ adjacency → (dst, dist + w)
    best_i  = min per dst (map-side combine)
    state   = min-merge; changed = best_i < state.dist (or state missing)

Rounds ≤ the hop count of the longest shortest path (≤ V−1 always, in
practice O(diameter)); each round is one equi-join + one hash
aggregation + one merge join, only the frontier and the V-sized state
table move. The changed-count is the round's single driver action and
the loop's stop test; the loop truncates lineage per round and warns
when ``max_rounds`` cuts the relaxation (distances are then upper
bounds). Negative weights are rejected up front (Bellman–Ford would
need V−1 full-edge rounds and a negative-cycle check — out of scope for
link-graph lengths, which are counts or reciprocal affinities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import Supersteps, count_where
from graphanalytics_spark.plans.truncate import detach


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    directed: bool = False,
    max_rounds: int = 200,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Shortest weighted distance from ``source``: DataFrame(vid, dist)
    over reachable vertices (dist(source) = 0). Undirected by default
    (edges symmetrized); weights must be non-negative."""
    with Supersteps(
        spark, max_rounds, checkpoint_every, name="sssp", cap="max_rounds"
    ) as loop:
        # cached as read, not through loop.static: a src-partitioned side
        # ran one job more per call (64 vs 63 on the sf0.01 sparse graph)
        edges = detach(edges)
        adj = loop.cache(
            (edges if directed else symmetrize(edges)).select("src", "dst", "weight")
        )
        if adj.filter(F.col("weight") < 0).limit(1).count() > 0:
            raise ValueError("sssp requires non-negative edge weights")

        def step(state: DataFrame) -> DataFrame:
            frontier = state.filter("changed")
            cand = (
                frontier.join(adj, frontier.vid == adj.src)
                .select(
                    F.col("dst").alias("vid"),
                    (F.col("dist") + F.col("weight")).alias("nd"),
                )
                .groupBy("vid")
                .agg(F.min("nd").alias("nd"))
            )
            return state.select("vid", "dist").join(cand, "vid", "full_outer").select(
                "vid",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(float("inf"))),
                    F.coalesce(F.col("nd"), F.lit(float("inf"))),
                ).alias("dist"),
                F.coalesce(
                    F.col("dist").isNull() | (F.col("nd") < F.col("dist")), F.lit(False)
                ).alias("changed"),
            )

        source_state = spark.createDataFrame(
            [(int(source), 0.0, True)], "vid long, dist double, changed boolean"
        )
        state, _, _ = loop.run(source_state, step, count_where("changed"), 0)
        return state.select("vid", "dist")
