"""Exact triangle counting via degree-ordered edge orientation.

The neighborhood-intersection pattern of the reference's nHop/MIS kernels
(/root/reference/L2/nHop/kernel/nHop_kernel.cpp:78, adjacency hash-probe):

1. Orient every undirected edge u—v as u→v iff (deg(u), u) < (deg(v), v).
   This bounds every vertex's out-degree by O(sqrt(m)), so per-vertex
   adjacency work cannot blow up on hubs — the same skew concern the
   reference handles with ghost pruning, solved structurally here.
2. For each oriented edge (u,v), triangles are w ∈ N⁺(u) ∩ N⁺(v) — a
   per-edge hash intersection of two degree-bounded out-neighbor arrays
   (the literal analog of the reference's adjacency hash-probe), emitting
   each triangle exactly once as u≺v≺w. (r6: replaced the equivalent
   wedge-enumerate + closing-semi-join plan, which materialized every
   wedge as a row — ~40× the triangle count — before filtering.)

Both the global count and per-vertex counts (each triangle credited to its
three corners) are exact — BASELINE.json requires exact match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.truncate import detach


def _oriented(edges_canon: DataFrame) -> DataFrame:
    """Orient canonical undirected edges by (degree, id) total order."""
    sym = symmetrize(edges_canon)
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    e = (
        edges_canon.select("src", "dst")
        .join(deg.withColumnRenamed("vid", "src").withColumnRenamed("deg", "dsrc"), "src")
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("deg", "ddst"), "dst")
    )
    lower_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def _triangles(edges_canon: DataFrame) -> DataFrame:
    """All triangles as (u, v, w) corner triples (each exactly once).

    r6 shape: adjacency-intersection instead of the wedge-enumerate +
    closing-semi-join plan. For each oriented edge (u, v), every
    w ∈ N⁺(u) ∩ N⁺(v) closes a triangle whose three oriented edges are
    u→v, u→w, v→w — so each triangle is emitted exactly once via its
    lowest-ordered edge, the same (u ≺ v ≺ w) triple the wedge plan
    produced. The old plan materialized every wedge as a row (49M rows
    for the 1.2M-edge sf0.1 graph) and probed them all through a
    broadcast hash of the edge set; this one materializes only the
    actual triangles (1.88M) and does the candidate filtering inside a
    per-edge hash intersection of two degree-bounded arrays (out-lists
    are O(√m) by the orientation). A/B warm: 5.5-10.9 s → 1.6-3.3 s at
    sf0.1 with identical counts (guide §1.2: same asymptotics, ~50×
    less row machinery).

    Eager localCheckpoint, NOT persist: the oriented table feeds three
    plan branches, so it must be materialized once — but the returned
    DataFrame is lazy (the caller runs the action), so this function has
    no point at which it could unpersist a cache entry. Checkpoint blocks
    are RDD-scoped and reclaimed by the ContextCleaner when the result is
    dropped; a CacheManager entry would leak until session end.

    The input is detached first (plans/truncate.py): the orientation's
    degree aggregation and two joins then plan over a leaf, not over the
    caller's plan three times."""
    a = _oriented(detach(edges_canon)).localCheckpoint(eager=True)
    nbrs = a.groupBy(F.col("a").alias("v")).agg(F.collect_list("b").alias("ns"))
    # inner joins: an edge whose head has no out-neighbors closes no
    # triangle (the wedge plan produced no (u,v,·) wedges there either)
    e = (
        a.join(nbrs.select(F.col("v").alias("a"), F.col("ns").alias("nu")), "a")
        .join(nbrs.select(F.col("v").alias("b"), F.col("ns").alias("nv")), "b")
    )
    return e.select(
        F.col("a").alias("u"),
        F.col("b").alias("v"),
        F.explode(F.array_intersect("nu", "nv")).alias("w"),
    )


def triangle_count(spark: SparkSession, edges_canon: DataFrame) -> DataFrame:
    """Global exact triangle count: DataFrame(n_triangles: long)."""
    return _triangles(edges_canon).agg(F.count("*").alias("n_triangles"))


def triangle_count_per_vertex(
    spark: SparkSession, edges_canon: DataFrame
) -> DataFrame:
    """Per-vertex exact triangle counts: DataFrame(vid, n_triangles).
    Vertices in no triangle are omitted (join against the vertex table to
    zero-fill if needed)."""
    tri = _triangles(edges_canon)
    corners = (
        tri.select(F.col("u").alias("vid"))
        .union(tri.select(F.col("v").alias("vid")))
        .union(tri.select(F.col("w").alias("vid")))
    )
    return corners.groupBy("vid").agg(F.count("*").alias("n_triangles"))


def clustering_local(spark: SparkSession, edges_canon: DataFrame) -> DataFrame:
    """Exact local clustering coefficient per vertex:
    lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0.0 for deg < 2.

    DataFrame(vid, degree, n_triangles, lcc) over ALL vertices (triangle
    counts zero-filled). Built entirely from the exact per-vertex triangle
    counts and unweighted degrees — one extra broadcast-sized join over
    ``triangle_count_per_vertex``; lcc rounded to 9 decimals for
    cross-engine hash stability."""
    deg = (
        symmetrize(edges_canon)
        .groupBy(F.col("src").alias("vid"))
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_count_per_vertex(spark, edges_canon)
    joined = deg.join(tri, "vid", "left").select(
        "vid",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )
    lcc = F.when(
        F.col("degree") >= 2,
        2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "vid", "degree", "n_triangles", F.round(lcc, 9).alias("lcc")
    )


def clustering_global(spark: SparkSession, edges_canon: DataFrame) -> DataFrame:
    """Graph-level clustering summary, one row:

    - ``n_triangles``  — exact global triangle count
    - ``n_wedges``     — Σ_v deg(v)·(deg(v)−1)/2 (paths of length 2)
    - ``global_cc``    — transitivity 3·T / wedges
    - ``avg_lcc``      — mean local clustering coefficient over all vertices

    Integer numerators keep both ratios deterministic; ``avg_lcc`` sums
    the per-vertex 9-decimal lcc values as exact DECIMALs (float sums are
    partition-order dependent) before the final divide, rounded to 6."""
    local = clustering_local(spark, edges_canon)
    agg = local.agg(
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2).cast("long").alias(
            "n_wedges"
        ),
        (F.sum("n_triangles") / 3).cast("long").alias("n_triangles"),
        F.sum(F.col("lcc").cast("decimal(28,9)")).alias("_lcc_sum"),
        F.count("*").alias("_n"),
    )
    return agg.select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("global_cc"),
        # cast the exact DECIMAL sum to double BEFORE the divide so both
        # engines round the identical double quotient
        F.round(F.col("_lcc_sum").cast("double") / F.col("_n"), 6).alias(
            "avg_lcc"
        ),
    )
