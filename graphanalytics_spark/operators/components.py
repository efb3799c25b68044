"""Connected components: iterative min-label propagation + pointer jumping.

Component id = min vertex id reachable (exact match required,
BASELINE.json). The algorithm is the distributed analog of the reference's
ghost-community pointer chasing ``FindC_nhop``
(/root/reference/louvainmod/include/ParLV.h:199) and the
``buildCommunityBasedOnVoltages`` flood fill
(/root/reference/grappolo/src/buildNextPhase.cpp:436-533).

Each round:
1. neighbor-min: label'(v) = min(label(v), min_{u~v} label(u))
   — one join on the static symmetrized edge table + a min-aggregation
   (map-side combine absorbs hub skew).
2. pointer jumping: label''(v) = label(label'(v)) — a self-join that
   halves tree heights, giving O(log diameter) total rounds instead of
   O(diameter).
Stop when no label changed. Lineage is truncated with localCheckpoint every
``checkpoint_every`` rounds — mandatory for iterative Spark plans.

Scale: the edge table is partitioned on src once and persisted; the state
table is the only per-round shuffle. At 10^12 edges this is the classic
large-star/small-star regime; pointer jumping keeps round count logarithmic
even for path-like graphs.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.truncate import LineageTruncator, detach


def connected_components(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 8,
    partitions: int | None = None,
    metrics=None,
    initial_state: DataFrame | None = None,
    checkpointer=None,
    check_every: int = 2,
) -> DataFrame:
    """Returns DataFrame(vid: long, component: long) with component = min
    reachable vertex id. ``edges_canon`` is the canonical undirected-once
    table (src < dst). ``initial_state`` (vid, label|component) +
    ``checkpointer`` (plans.checkpoint.CheckpointManager) give the same
    kill-and-resume semantics as pagerank.

    ``check_every``: the no-change stop test runs every k rounds (same
    driver-action economics as pagerank — min-label sweeps are idempotent
    on a converged state, so up to k-1 extra no-op rounds are the only
    cost; exactness is unaffected). Unchecked rounds record changed=-1 in
    metrics."""
    # hard cadence 8 (was 5): the every-2-round stop-test count already
    # finalizes the lazy localCheckpoints, so more frequent hard resets
    # only added parquet round-trips (order-balanced 5-vs-8 A/B: wash at
    # sf0.1, strictly fewer V-sized writes at scale; chains stay ≤ 7,
    # under the measured ~9-link planning-degradation onset)
    truncator = LineageTruncator(spark, hard_every=checkpoint_every)
    # leaf input plan: the caller's plan stays out of every round's plan
    sym = symmetrize(detach(edges_canon)).select("src", "dst")
    if partitions is None:
        try:
            partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            partitions = spark.sparkContext.defaultParallelism
    if partitions:
        # static side partitioned on the gather key once — per round only
        # the vertex-state table is exchanged (same policy as pagerank)
        sym = sym.repartition(partitions, "src")
    sym = sym.persist()
    n_edges = sym.count()
    check_every = max(1, check_every)

    if initial_state is not None:
        cols = initial_state.columns
        label_col = "label" if "label" in cols else "component"
        state = initial_state.select(
            "vid", F.col(label_col).alias("label")
        ).persist()
    else:
        state = (
            sym.select(F.col("src").alias("vid"))
            .distinct()
            .select("vid", F.col("vid").alias("label"))
            .persist()
        )
    init_state = state

    for it in range(1, max_iter + 1):
        t0 = time.monotonic()
        # 1) neighbor min
        nbr_min = (
            sym.join(state, sym.src == state.vid)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the pre-round label through as `old` so `changed` needs no
        # third V-sized join at the end of the round
        merged = state.join(nbr_min, "vid", "left").select(
            "vid",
            F.col("label").alias("old"),
            F.least("label", F.coalesce("nlabel", "label")).alias("label"),
        )
        # 2) pointer jumping: label <- label(label)
        parent = merged.select(
            F.col("vid").alias("pvid"), F.col("label").alias("plabel")
        )
        jumped = (
            merged.join(parent, merged.label == parent.pvid, "left")
            .select(
                "vid",
                "old",
                F.least(merged.label, F.coalesce("plabel", merged.label)).alias(
                    "new_label"
                ),
            )
        )
        new_state = jumped.select(
            "vid",
            F.col("new_label").alias("label"),
            (F.col("new_label") != F.col("old")).alias("changed"),
        )
        # per-iteration lineage truncation (plans/truncate.py: lazy
        # localCheckpoint whose result stage the count below computes +
        # periodic hard parquet reset — chained localCheckpoints alone
        # still degrade exponentially in Spark 4.1)
        new_state = truncator.truncate(new_state, it, stream="state")
        n_changed = -1
        if it % check_every == 0 or it == max_iter:
            n_changed = new_state.filter("changed").count()
        state = new_state.drop("changed")
        if metrics is not None:
            metrics.add(it, float(n_changed), n_edges, time.monotonic() - t0)
        if checkpointer is not None:
            checkpointer.maybe_save(
                it, state.select("vid", F.col("label").alias("component")),
                float(n_changed),
            )
        if n_changed == 0:
            break
    init_state.unpersist()
    sym.unpersist()
    return state.select("vid", F.col("label").alias("component"))


def component_sizes(components: DataFrame) -> DataFrame:
    """Distribution of component sizes (renumber/report analog)."""
    return components.groupBy("component").agg(F.count("*").alias("size"))


def attribute_communities(
    spark: SparkSession,
    edges_canon: DataFrame,
    node_attrs: DataFrame,
    attr: str = "voltage",
    max_iter: int = 50,
) -> DataFrame:
    """Group vertices by attribute equality via flood fill — the
    ``buildCommunityBasedOnVoltages`` / ``segregateEdgesBasedOnVoltages``
    analog (/root/reference/grappolo/src/buildNextPhase.cpp:436-533):
    keep only edges whose endpoints share the attribute value, then run
    connected components. node_attrs: (vid, <attr>)."""
    a_src = node_attrs.select(F.col("vid").alias("src"), F.col(attr).alias("_a_src"))
    a_dst = node_attrs.select(F.col("vid").alias("dst"), F.col(attr).alias("_a_dst"))
    same = (
        edges_canon.join(a_src, "src")
        .join(a_dst, "dst")
        .filter(F.col("_a_src") == F.col("_a_dst"))
        .select("src", "dst", "weight")
    )
    return connected_components(spark, same, max_iter=max_iter)
