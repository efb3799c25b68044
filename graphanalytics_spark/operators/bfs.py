"""BFS hop levels + BFS-order locality partitioning.

The reference saves Louvain partitions in BFS visit order so that
neighboring vertices land in the same partition file — the "low-bandwidth"
partitioner ``xai_save_partition_bfs``
(/root/reference/louvainmod/src/ParLV.cpp:3910; flag plumbing
``ParLV.h:154-155``). SURVEY §4 scopes it optional for correctness (hash /
range partitioning + AQE covers semantics); this module supplies the
capability Spark-first:

- ``bfs_levels`` / ``bfs_levels_tagged`` (and ``nhop.n_hop``): multi-source
  frontier BFS (hop distance) on one frontier loop keyed by ``["vid"]``
  (nearest seed) or ``["seed", "vid"]`` (per seed) — O(diameter) joins,
  frontier usually ≪ V so Catalyst broadcasts it against the persisted
  adjacency.
- ``bfs_partition``: assign each vertex a partition id by chunking the
  deterministic BFS visit order (level, then vid) into ``n_parts`` equal
  ranges. Seeds default to the minimum vid of every connected component,
  so the order covers disconnected graphs. The rank is computed with the
  distributed two-pass prefix (``graph.dense_ids``) — no global window.
- ``edge_cut``: the quality metric — fraction of edges whose endpoints
  land in different partitions. BFS order keeps neighbors (whose levels
  differ by ≤1) in nearby ranks, so clustered graphs cut far fewer edges
  than hash partitioning; the planted-structure test and the driver
  certificate row assert exactly that.

Scale: each BFS round is one frontier⋈edges semi-join + anti-join against
the visited set (both shuffle on the keys); the visited set is carried as
a union of eagerly checkpointed per-level slices. At 10^12
vertices the partitioner would be run per-component on the contracted
(post-Louvain) graph, not the raw one — same as the reference, which
BFS-orders *partitions*, not raw vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import dense_ids, symmetrize


def _adjacency(edges_canon: DataFrame, directed: bool) -> DataFrame:
    return (
        edges_canon.select("src", "dst")
        if directed
        else symmetrize(edges_canon).select("src", "dst")
    ).persist()


def _levels(
    adj: DataFrame, start: DataFrame, keys: list[str], max_depth: int | None
) -> DataFrame:
    """The frontier loop from level 0 ``start`` (*keys, level), ``keys``
    ending in ``vid``, over the persisted ``adj`` (unpersisted on return):
    every level as (*keys, level), each key once."""
    tags = keys[:-1]
    # every per-level slice is EAGERLY localCheckpointed: an unbounded
    # frontier loop re-joins its own output against the same adjacency
    # every round, and without a hard lineage cut the analyzer re-resolves
    # a plan that doubles per level (measured: round walls 1 s → 19 s →
    # 104 s by depth 7 on a 7k-edge graph with persist()-only slices).
    # After the cut each round's plan is constant-size; the checkpointed
    # blocks are reclaimed by the ContextCleaner when the frames go out
    # of scope — the same discipline as operators/triangles.py (r3).
    frontier = start.localCheckpoint(eager=True)
    visited = frontier
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        nxt = (
            frontier.join(adj, frontier.vid == adj.src)
            .select(*tags, F.col("dst").alias("vid"))
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .withColumn("level", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        frontier = nxt
    adj.unpersist()
    return visited


def bfs_levels(
    spark: SparkSession,
    edges_canon: DataFrame,
    seeds: DataFrame | None = None,
    max_depth: int | None = None,
    directed: bool = False,
) -> DataFrame:
    """Hop distance from the nearest seed: DataFrame(vid, level) with
    level 0 at the seeds; vertices unreachable from every seed are absent.
    ``seeds`` is any DataFrame whose first column is a vertex id; default
    = the single minimum vid in the graph."""
    adj = _adjacency(edges_canon, directed)
    if seeds is None:
        seeds = adj.agg(F.min("src").alias("vid"))
    start = (
        seeds.select(F.col(seeds.columns[0]).alias("vid"))
        .distinct()
        .withColumn("level", F.lit(0))
    )
    return _levels(adj, start, ["vid"], max_depth)


def bfs_levels_tagged(
    spark: SparkSession,
    edges_canon: DataFrame,
    seeds: DataFrame,
    max_depth: int | None = None,
    directed: bool = False,
) -> DataFrame:
    """Per-seed hop distance in ONE frontier loop: DataFrame(seed, vid,
    level) with level 0 at (s, s), each distinct seed once. Where
    ``bfs_levels`` merges all seeds into one frontier (distance to the
    NEAREST seed), this keeps the frontier keyed by (seed, vid) so every
    pivot's full distance vector comes out of a single
    O(max-eccentricity) round loop instead of |seeds| separate loops —
    the scale path for pivot-sampled estimators
    (harmonic/closeness/distance-distribution over dozens of pivots).
    Per-round cost is Σ_s |frontier_s| join rows; rounds stop when every
    seed's frontier is exhausted."""
    start = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("vid"), F.lit(0).alias("level"))
    )
    return _levels(_adjacency(edges_canon, directed), start, ["seed", "vid"], max_depth)


def component_seeds(spark: SparkSession, edges_canon: DataFrame) -> DataFrame:
    """One seed per connected component: the minimum vid of each — the
    deterministic restart set the reference's BFS partitioner implies for
    disconnected graphs."""
    from graphanalytics_spark.operators.components import connected_components

    cc = connected_components(spark, edges_canon)
    return cc.groupBy("component").agg(F.min("vid").alias("vid")).select("vid")


def bfs_partition(
    spark: SparkSession,
    edges_canon: DataFrame,
    n_parts: int,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Locality-aware partition assignment (vid, part): chunk the BFS
    visit order — (level asc, vid asc), a deterministic total order — into
    ``n_parts`` equal ranges. Neighbors differ by ≤1 level, so they land
    in the same or an adjacent rank chunk; on clustered graphs this cuts
    far fewer edges than hash partitioning (see ``edge_cut``)."""
    if seeds is None:
        seeds = component_seeds(spark, edges_canon)
    levels = bfs_levels(spark, edges_canon, seeds=seeds)
    # collision-free sortable key: level ⋅ (max_vid+1) + vid. max_vid is a
    # 1-row agg; the rank itself is the distributed two-pass prefix
    # (graph.dense_ids) — no single-task global window.
    max_vid = levels.agg(F.max("vid")).first()[0]
    span = int(max_vid) + 1
    keyed = levels.withColumn(
        "_order", F.col("level").cast("long") * F.lit(span) + F.col("vid")
    )
    ranks = dense_ids(keyed, "_order", id_col="_rank")
    n = keyed.count()
    chunk = -(-n // n_parts)  # ceil
    return (
        keyed.join(ranks, "_order")
        .select(
            "vid",
            (F.col("_rank") / F.lit(chunk)).cast("long").alias("part"),
        )
    )


def edge_cut(edges_canon: DataFrame, assign: DataFrame) -> DataFrame:
    """One-row cut quality of a (vid, part) assignment: total edges,
    edges crossing partitions, and the cut fraction. Edges with an
    unassigned endpoint count as cut (conservative)."""
    a_src = assign.select(F.col("vid").alias("src"), F.col("part").alias("p_src"))
    a_dst = assign.select(F.col("vid").alias("dst"), F.col("part").alias("p_dst"))
    joined = edges_canon.join(a_src, "src", "left").join(a_dst, "dst", "left")
    return joined.agg(
        F.count("*").alias("n_edges"),
        F.sum(
            F.when(
                F.col("p_src").isNull()
                | F.col("p_dst").isNull()
                | (F.col("p_src") != F.col("p_dst")),
                1,
            ).otherwise(0)
        ).alias("n_cut"),
    ).select(
        "n_edges",
        "n_cut",
        F.round(F.col("n_cut") / F.col("n_edges"), 8).alias("cut_fraction"),
    )
