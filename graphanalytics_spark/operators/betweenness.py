"""Betweenness centrality — distributed (pivot-sampled) Brandes.

bc(v) = Σ_{s≠v} Σ_{t∉{s,v}} σ_st(v)/σ_st over ORDERED (s, t) pairs,
estimated from an explicit pivot set (all vertices ⇒ exact) — the
standard web-scale estimator (Brandes 2001; Brandes–Pich pivots). The
per-pivot machinery is three level-synchronous passes over the tagged
BFS levels (operators/bfs.py:bfs_levels_tagged — ONE frontier loop for
the whole pivot set):

  1. levels:  d(s, v) by tagged multi-seed BFS
  2. forward: σ(s, v) = Σ_{u: d(s,u)=d(s,v)−1, u~v} σ(s, u)
              (shortest-path counts, one equi-join per level)
  3. backward: δ(s, v) = Σ_{w: d(s,w)=d(s,v)+1, v~w}
                         σ(s,v)/σ(s,w) · (1 + δ(s,w))
              (dependency accumulation, one equi-join per level,
               levels walked deepest-first)

bc(v) = Σ_s δ(s, v) for v ≠ s. All joins are hash-partitioned
(seed, vid) equi-joins; each level slice is eagerly localCheckpointed
(the bfs.py frontier discipline — constant-size per-level plans). The
state that moves per level is one slice of (seed, vid, σ or δ) rows.

σ counts can overflow double precision only past ~2^53 shortest paths
per pair — beyond any sampled-pivot use; values are exact integers in
double until then, so per-level sums are shuffle-order independent.
The reference has no betweenness kernel; the traversal shape anchors to
its nHop frontier machinery (/root/reference/L2/nHop) like bfs.py.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize


def betweenness(
    spark: SparkSession,
    edges_canon: DataFrame,
    seeds: list[int] | None = None,
    max_depth: int = 64,
) -> DataFrame:
    """(vid, betweenness): Brandes dependency sums over the pivot set
    (``seeds=None`` ⇒ every vertex — exact betweenness, ordered-pair
    convention). Vertices with zero accumulated dependency are absent.
    betweenness is rounded to 9 decimals (cross-engine discipline)."""
    from graphanalytics_spark.operators.bfs import bfs_levels_tagged

    if seeds is not None and not seeds:
        raise ValueError("betweenness needs a non-empty pivot set")
    sym = symmetrize(edges_canon).select("src", "dst").persist()
    if seeds is None:
        seed_df = sym.select(F.col("src").alias("vid")).distinct()
    else:
        seed_df = spark.createDataFrame([(int(s),) for s in seeds], "vid long")

    lv = bfs_levels_tagged(spark, edges_canon, seed_df, max_depth=max_depth)
    lv = lv.localCheckpoint(eager=True)
    max_l = lv.agg(F.max("level")).first()[0]
    if max_l is not None and max_l >= max_depth:
        # the tagged BFS ran into the depth cap: vertices farther than
        # max_depth from some pivot never entered the σ/δ sweeps, so the
        # result may silently under-count (r5 ADVICE #2) — no extra job,
        # max_l is already materialized
        warnings.warn(
            f"betweenness reached max_depth={max_depth}: pivots with "
            "eccentricity beyond the cap are truncated and the returned "
            "scores may under-count. Raise max_depth for exact results.",
            RuntimeWarning,
            stacklevel=2,
        )
    if max_l is None or max_l == 0:
        sym.unpersist()
        return spark.createDataFrame([], "vid long, betweenness double")

    # ---- forward: σ per level ----------------------------------------
    # slices[l] = (seed, vid, sigma) for vertices at distance l
    slices: list[DataFrame] = [
        lv.filter(F.col("level") == 0)
        .select("seed", "vid", F.lit(1.0).alias("sigma"))
        .localCheckpoint(eager=True)
    ]
    for level in range(1, max_l + 1):
        cur = lv.filter(F.col("level") == level).select("seed", "vid")
        prev = slices[level - 1]
        contrib = (
            prev.join(sym, prev.vid == sym.src)
            .select("seed", F.col("dst").alias("vid"), "sigma")
        )
        s = (
            cur.join(contrib, ["seed", "vid"])
            .groupBy("seed", "vid")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        slices.append(s)

    # ---- backward: δ per level, deepest first ------------------------
    # delta of the deepest level is 0; walk up accumulating pair deps
    deltas: dict[int, DataFrame] = {
        max_l: slices[max_l].select(
            "seed", "vid", "sigma", F.lit(0.0).alias("delta")
        )
    }
    for level in range(max_l - 1, -1, -1):
        below = deltas[level + 1]
        w = below.select(
            "seed",
            F.col("vid").alias("wvid"),
            (
                (F.lit(1.0) + F.col("delta")) / F.col("sigma")
            ).alias("wterm"),
        )
        # v at `level` gathers from neighbors w at `level`+1
        gathered = (
            w.join(sym, w.wvid == sym.src)
            .select("seed", F.col("dst").alias("vid"), "wterm")
        )
        cur = slices[level]
        d = (
            cur.join(gathered, ["seed", "vid"], "left")
            .groupBy("seed", "vid", "sigma")
            .agg(
                F.coalesce(F.sum("wterm"), F.lit(0.0)).alias("wsum")
            )
            .select(
                "seed",
                "vid",
                "sigma",
                (F.col("sigma") * F.col("wsum")).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        deltas[level] = d

    # ---- accumulate bc(v) = Σ_s δ(s, v), v ≠ s -----------------------
    alld = deltas[max_l].select("seed", "vid", "delta")
    for level in range(max_l - 1, -1, -1):
        alld = alld.unionByName(deltas[level].select("seed", "vid", "delta"))
    out = (
        alld.filter((F.col("vid") != F.col("seed")) & (F.col("delta") > 0))
        .groupBy("vid")
        .agg(F.round(F.sum("delta"), 9).alias("betweenness"))
    )
    res = out.localCheckpoint(eager=True)
    sym.unpersist()
    return res
