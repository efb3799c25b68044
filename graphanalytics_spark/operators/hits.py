"""HITS (hubs & authorities) — Kleinberg's link-analysis pair to PageRank.

authority(v) = Σ_{u→v} w(u,v)·hub(u);  hub(u) = Σ_{u→v} w(u,v)·authority(v);
each vector L2-normalized per half-step. The natural second centrality of
a DIRECTED repo→repo link graph (who aggregates links vs who receives
them) — the reference's recommendation plugin frames the same
"good pointer / good target" split through cosine feature scores
(/root/reference/plugin/tigergraph/recomengine); here it is the classic
eigenvector pair on the engine's own ingest output.

Plan shape per half-step — identical economics to one PageRank iteration:
static ``links`` side persisted once (hash-partitioned), one equi-join +
one hash aggregation (map-side combine absorbs hubs), the L2 norm folded
in as an in-plan broadcast 1-row aggregate (no extra driver action), and
lineage truncated per iteration (plans/truncate.py). Only the V-sized
score vector moves.

Cross-engine determinism: scores are rounded to 12 decimals after every
normalization, so float summation-order drift (shuffle order vs DuckDB's
scan order) is quenched each iteration instead of compounding — the
fixed-iteration oracle (`hits_5iter`) then matches to the output's
9-decimal rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.truncate import LineageTruncator


def hits(
    spark: SparkSession,
    edges: DataFrame,
    iterations: int = 5,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration HITS over a directed weighted edge table.
    Returns DataFrame(vid, authority, hub), both rounded to 9 decimals,
    L2-normalized (Σ authority² = Σ hub² = 1 up to rounding)."""
    if iterations < 1:
        raise ValueError("hits needs iterations >= 1")
    truncator = LineageTruncator(spark, hard_every=checkpoint_every)
    links = edges.select("src", "dst", "weight").persist()
    # persisted: the vertex set is read by all 2·iterations half-step
    # left-joins — unpersisted it re-ran the distinct-over-E aggregation
    # every half-step (~10 redundant jobs per default run)
    verts = (
        links.select(F.col("src").alias("vid"))
        .union(links.select(F.col("dst").alias("vid")))
        .distinct()
        .persist()
    )
    # initial scores are a constant projection over the cached vertex set:
    # no persist of their own (the old per-call cache was never released)
    h = verts.select("vid", F.lit(1.0).alias("score"))
    a = None
    for it in range(1, iterations + 1):
        a = _half_step(links, verts, h, gather_on="src", emit="dst")
        a = truncator.truncate(a, 2 * it - 1, stream="hits_a")
        h = _half_step(links, verts, a, gather_on="dst", emit="src")
        h = truncator.truncate(h, 2 * it, stream="hits_h")
    out = (
        a.select("vid", F.round("score", 9).alias("authority"))
        .join(h.select("vid", F.round("score", 9).alias("hub")), "vid")
    )
    res = out.localCheckpoint(eager=True)
    links.unpersist()
    verts.unpersist()
    return res


def _half_step(
    links: DataFrame, verts: DataFrame, scores: DataFrame, gather_on: str, emit: str
) -> DataFrame:
    """One HITS half-step: gather w·score along edges from ``gather_on``
    endpoints onto ``emit`` endpoints, L2-normalize in-plan, round 12."""
    raw = (
        links.join(scores, links[gather_on] == scores.vid)
        .select(
            links[emit].alias("vid"),
            (F.col("weight") * F.col("score")).alias("c"),
        )
        .groupBy("vid")
        .agg(F.sum("c").alias("s"))
    )
    full = verts.join(raw, "vid", "left").select(
        "vid", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
    )
    norm = full.agg(
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_n")
    )
    return (
        full.crossJoin(F.broadcast(norm))
        .select(
            "vid",
            F.round(
                F.col("s") / F.when(F.col("_n") > 0, F.col("_n")).otherwise(1.0),
                12,
            ).alias("score"),
        )
    )
