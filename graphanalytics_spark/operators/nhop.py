"""n-hop traversal: iterated frontier expansion.

The reference's nHop kernel batches (src,dst) pairs through hash-probe
adjacency expansion (/root/reference/L2/nHop/kernel/nHop_kernel.cpp:78);
the NebulaGraph tutorial surface is ``GO n STEPS`` / ``GET SUBGRAPH``
(/root/reference/nebula-get_started.ipynb). In Spark both are the same
semi-join frontier loop: frontier ⋈ edges on src, n times. ``n_hop`` is
the per-seed BFS of ``operators/bfs.py`` (``bfs_levels_tagged``) cut at
``hops`` levels, with ``level`` named ``hop``; this module adds the
pair-list and induced-subgraph queries on top of it.

Scale: the frontier is usually far smaller than the graph, so Catalyst
broadcasts it against the persisted edge table; dedup per hop keeps the
frontier minimal (BFS semantics, not walk counting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.operators.bfs import bfs_levels_tagged


def n_hop(
    spark: SparkSession,
    edges_canon: DataFrame,
    seeds: DataFrame,
    hops: int,
    directed: bool = False,
) -> DataFrame:
    """Vertices reachable within ``hops`` hops of each seed.

    seeds: DataFrame with a vertex-id first column. Returns
    DataFrame(seed: long, vid: long, hop: int) — hop = shortest hop count
    (0 for the seed itself), each (seed, vid) once.
    """
    return bfs_levels_tagged(
        spark, edges_canon, seeds, max_depth=hops, directed=directed
    ).withColumnRenamed("level", "hop")


def n_hop_pairs(
    spark: SparkSession,
    edges_canon: DataFrame,
    pairs: DataFrame,
    hops: int,
    directed: bool = False,
) -> DataFrame:
    """Pair-list n-hop matching — the reference nHop kernel's actual query
    shape: a batch of explicit (src, dst) pairs, each answered with
    "is dst within ``hops`` of src, and how close?"
    (/root/reference/L2/nHop/kernel/nHop_kernel.cpp:78 — hash-probe
    adjacency expansion per pair; the link-prediction / fraud-ring probe).

    Plan: expand frontiers once per DISTINCT src (the pair list usually
    repeats sources — a fraud query asks one account against many
    counterparties), then one equi-join of the pair table against the
    (seed, vid, hop) reach relation. Pairs never traverse individually.

    pairs: DataFrame whose first two columns are (src, dst) vertex ids.
    Returns (src, dst, reachable: boolean, min_hops: int — -1 when
    unreachable within ``hops``)."""
    p = pairs.select(
        F.col(pairs.columns[0]).cast("long").alias("src"),
        F.col(pairs.columns[1]).cast("long").alias("dst"),
    ).distinct()
    seeds = p.select(F.col("src").alias("seed")).distinct()
    reach = n_hop(spark, edges_canon, seeds, hops, directed=directed)
    hit = reach.select(
        F.col("seed").alias("src"), F.col("vid").alias("dst"), "hop"
    )
    return p.join(hit, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.col("hop").isNotNull().alias("reachable"),
        F.coalesce(F.col("hop"), F.lit(-1)).cast("int").alias("min_hops"),
    )


def khop_subgraph(
    spark: SparkSession,
    edges_canon: DataFrame,
    seeds: DataFrame,
    hops: int,
) -> DataFrame:
    """Induced subgraph within ``hops`` of the seed set — the
    ``GET SUBGRAPH`` surface of the reference's query tutorial
    (/root/reference/nebula-get_started.ipynb): the edges whose BOTH
    endpoints are reachable within ``hops`` hops of ANY seed.

    Plan: the n-hop reach (frontier loop above) collapsed over seeds, then
    two semi-joins of the canonical edge table against the (small) reach
    set — Catalyst broadcasts the reach side, so the edge scan is one pass.
    Returns canonical edges (src, dst, weight)."""
    reach = (
        n_hop(spark, edges_canon, seeds, hops)
        .select("vid")
        .distinct()
    )
    r_src = reach.select(F.col("vid").alias("src"))
    r_dst = reach.select(F.col("vid").alias("dst"))
    return (
        edges_canon.join(r_src, "src", "left_semi")
        .join(r_dst, "dst", "left_semi")
        .select("src", "dst", "weight")
    )
