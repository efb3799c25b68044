"""Graph contraction: collapse vertices by community label.

The ``buildNextLevelGraphOpt`` analog
(/root/reference/grappolo/src/buildNextPhase.cpp:129-300): relabel both
endpoints through the community map, sum parallel edge weights, keep
self-loops (intra-community weight). Labels are renumbered densely first
(the ``renumberClustersContiguously`` analog,
/root/reference/grappolo/src/buildNextPhase.cpp:48-125) via a distinct +
dense_rank relabel join.

Plan shape: two equi-joins (edge endpoints against the label map — the
label map is usually small after contraction, so Catalyst broadcasts it)
then one hash aggregation on (c_src, c_dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import dense_ids


def renumber_map(labels: DataFrame) -> DataFrame:
    """Dense 0..k-1 rank of each distinct community label:
    (label, cid). Smaller original label → smaller cid, matching the
    reference's deterministic renumber. This is the table to join when a
    *label value* (not a vertex id) must be translated into the contracted
    vertex-id space — e.g. composing an original→community mapping across
    Louvain phases. Distributed two-pass assignment (graph.dense_ids) —
    first-phase label counts are O(V), too large for a global window."""
    return dense_ids(labels, "label", "cid")


def renumber_labels(labels: DataFrame, ren: DataFrame | None = None) -> DataFrame:
    """Dense 0..k-1 relabeling of community ids: (vid, label) → (vid, cid).
    dense_rank over distinct labels keeps ordering stable (smaller original
    label → smaller cid), matching the reference's deterministic renumber.
    ``ren`` is ``renumber_map(labels)`` when the caller already built it
    (each build is an eager pass plus a driver collect)."""
    if ren is None:
        ren = renumber_map(labels)
    return labels.join(F.broadcast(ren), "label").select("vid", "cid")


def contract_graph(
    spark: SparkSession,
    edges_canon: DataFrame,
    labels: DataFrame,
    ren: DataFrame | None = None,
) -> DataFrame:
    """edges_canon(src,dst,weight) + labels(vid,label) →
    contracted canonical edge table (src,dst,weight) over community ids,
    self-loops kept (src==dst allowed in the output). ``ren`` as in
    ``renumber_labels``."""
    lab = renumber_labels(labels, ren)
    lsrc = lab.select(F.col("vid").alias("src"), F.col("cid").alias("c_src"))
    ldst = lab.select(F.col("vid").alias("dst"), F.col("cid").alias("c_dst"))
    relabeled = (
        edges_canon.join(lsrc, "src")
        .join(ldst, "dst")
        .select(
            F.least("c_src", "c_dst").alias("src"),
            F.greatest("c_src", "c_dst").alias("dst"),
            "weight",
        )
    )
    return relabeled.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
