"""Modularity of a partition — standalone quality metric.

The FeatureLV::ComputeQ analog
(/root/reference/louvainmod/src/partitionLouvain.cpp:1608-1674):
Q = Σ_c (in_c / 2m) − Σ_c (tot_c / 2m)² where in_c is twice the weight of
intra-community edges (each counted from both endpoints, matching the
reference's doubled-CSR convention) and tot_c the summed weighted degree of
the community. Computed as two hash aggregations over one edge↔label join —
the same two parallel sum-reductions the reference runs
(/root/reference/grappolo/src/parallelLouvainMethod.cpp:186-194).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize


def modularity(
    spark: SparkSession, edges_canon: DataFrame, labels: DataFrame
) -> float:
    """labels: DataFrame(vid, label). Returns Q as a Python float.
    A self-loop (graph.canonicalize drops them; contraction keeps a
    community's inner weight as one) counts twice in in_c, tot_c and 2m,
    the Louvain convention, so labels on a contracted graph get the Q of
    the composed labels on the original graph."""
    sym = symmetrize(edges_canon)
    lsrc = labels.select(F.col("vid").alias("src"), F.col("label").alias("c_src"))
    ldst = labels.select(F.col("vid").alias("dst"), F.col("label").alias("c_dst"))
    joined = sym.join(lsrc, "src").join(ldst, "dst")
    # ONE driver action for all three sufficient statistics (previously
    # three, each re-running the edge↔label join — guide §1.2/§2.4): the
    # per-community rollup carries (tot_c, in_c) over label-joined edges,
    # 2m is aggregated over the raw symmetrized table (its original
    # domain — they differ only for partial labelings), and a 2-row union
    # folds both into one job. Weights are integer-valued, so the
    # per-community regrouping cannot move any float value (partial sums
    # stay exact).
    per_c = joined.groupBy("c_src").agg(
        F.sum("weight").alias("tot_c"),
        F.sum(
            F.when(F.col("c_src") == F.col("c_dst"), F.col("weight")).otherwise(
                F.lit(0.0)
            )
        ).alias("in_c"),
    )
    nd = F.lit(None).cast("double")
    a = per_c.agg(
        nd.alias("two_m"),
        F.sum("in_c").alias("in_w"),
        F.sum(F.col("tot_c") * F.col("tot_c")).alias("tot_sq"),
    )
    b = sym.agg(F.sum("weight").alias("two_m"), nd.alias("in_w"), nd.alias("tot_sq"))
    row = (
        a.unionByName(b)
        .agg(
            F.sum("two_m").alias("two_m"),
            F.sum("in_w").alias("in_w"),
            F.sum("tot_sq").alias("tot_sq"),
        )
        .first()
    )
    return from_sums(row["in_w"], row["tot_sq"], row["two_m"])


def from_sums(in_w: float | None, tot_sq: float | None, two_m: float | None) -> float:
    """Q from its three sufficient statistics: Σ_c in_c, Σ_c tot_c² and
    2m (None reads as 0; an edgeless graph has Q = 0)."""
    if not two_m:
        return 0.0
    in_w = in_w or 0.0
    tot = tot_sq or 0.0
    return float(in_w / two_m - tot / (two_m * two_m))
