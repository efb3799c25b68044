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
Stop when no label changed. The rounds run on the shared superstep loop
(plans/superstep.py), which truncates the state's lineage every round —
mandatory for iterative Spark plans.

Scale: the edge table is partitioned on src once and persisted; the state
table is the only per-round shuffle. At 10^12 edges this is the classic
large-star/small-star regime; pointer jumping keeps round count logarithmic
even for path-like graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import Supersteps, count_where
from graphanalytics_spark.plans.truncate import detach


def initial_labels(sym: DataFrame, initial_state: DataFrame | None) -> DataFrame:
    """(vid, label) state to start a labeling from: the resumed
    ``initial_state`` (its ``label`` or ``component`` column), else every
    vertex of ``sym`` labeled with its own id."""
    if initial_state is not None:
        label = "label" if "label" in initial_state.columns else "component"
        return initial_state.select("vid", F.col(label).alias("label"))
    return (
        sym.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("label"))
    )


def connected_components(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 8,
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
    cost; exactness is unaffected). A run that ``max_iter`` cuts before
    the labels settle warns."""
    # hard cadence 8 (was 5): the every-2-round stop-test count already
    # finalizes the lazy localCheckpoints, so more frequent hard resets
    # only added parquet round-trips (order-balanced 5-vs-8 A/B: wash at
    # sf0.1, strictly fewer V-sized writes at scale; chains stay ≤ 7,
    # under the measured ~9-link planning-degradation onset)
    with Supersteps(
        spark, max_iter, checkpoint_every, check_every, metrics, checkpointer,
        name="connected_components",
    ) as loop:
        # leaf input plan: the caller's plan stays out of every round's plan;
        # static side partitioned on the gather key once — per round only the
        # vertex-state table is exchanged (same policy as pagerank)
        sym = loop.static(symmetrize(detach(edges_canon)).select("src", "dst"))
        # the metrics rows' edge column: a job, so only when metered
        n_edges = sym.count() if metrics is not None else 0
        init_state = loop.cache(initial_labels(sym, initial_state))

        def step(state: DataFrame) -> DataFrame:
            state = state.drop("changed")
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
            return jumped.select(
                "vid",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old")).alias("changed"),
            )

        def view(state: DataFrame) -> DataFrame:
            return state.select("vid", F.col("label").alias("component"))

        state, _, _ = loop.run(init_state, step, count_where("changed"), n_edges, view)
        return view(state)


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
