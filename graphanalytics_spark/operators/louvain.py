"""Distributed Louvain community detection (multi-phase).

From-scratch Spark restatement of the reference's flagship pipeline
(/root/reference/louvainmod — LouvainGLV_general per-phase loop,
louvainPhase.cpp:2506; phase post-processing renumber → update C_orig →
buildNextLevelGraphOpt, louvainPhase.cpp:249-330; stop on ΔQ ≤ threshold /
minGraphSize / phase caps, louvainPhase.cpp:2187-2196):

Phase loop (one 'level'):
  1. Best-move rounds: every vertex evaluates moving to a neighboring
     community; gain follows the standard Louvain ΔQ
     (grappolo's ``max()`` rule, utilityClusteringFunctions.cpp:115-151):
         gain(v→c) = w_{v,c} − wdeg_v · tot_c∖v / (2m)
     compared against staying; ties → smaller community id. Moves are
     synchronous; to avoid the classic two-vertex swap oscillation
     (the reference serializes conflicts with distance-1 coloring,
     coloringDistanceOne.cpp:52) a vertex that wants to move does so only
     when its per-round hash priority beats every neighbor that also
     wants to move — the MIS selection step (operators/mis.py
     ``local_minima``). The rounds run on the shared superstep loop
     (plans/superstep.py) and stop at the first round in which no vertex
     moves: the vertex with the smallest priority among those that want
     to move always moves, so a quiet round means none wanted to, and
     the next round would see the same state. A phase that
     ``max_rounds_per_phase`` cuts warns.
  2. Contract: communities become vertices, parallel edges sum,
     self-loops carry intra-community weight (buildNextLevelGraphOpt).
  3. Compose the original→community mapping (PhaseLoop_UpdatingC_org,
     louvainMultiPhaseRun.cpp:54-68) and recurse on the contracted graph
     until modularity gain < threshold or max phases.

Per-phase metrics (Q, NV, NE, move rounds) are recorded — the FeatureLV
analog (xilinxlouvainInternal.h:235-253).

Scale notes: each move round is two joins + two aggregations over the
(persisted) symmetrized edge table; community totals are a broadcast-sized
table after the first contraction. Contraction shrinks the graph
geometrically, so phase k costs a fraction of phase k-1 — the same
economics the reference exploits by re-running merged graphs on one card.
Besides its rounds a phase runs two small actions, both on its own graph:
one aggregation over the cached degree table (NV, NE, 2m and the singleton
partition's Q, the starting Q of phase 1) and the Q of its labels.
Contraction keeps every in_c, tot_c and 2m, so that Q equals the composed
mapping's Q on the original graph but costs O(|E_k|), not O(|E_0|). Only a
phase that another phase follows, or that a phase checkpointer snapshots,
is contracted, with one dense renumbering shared by the contracted graph
and the mapping.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.operators.contraction import contract_graph, renumber_map
from graphanalytics_spark.operators.mis import local_minima
from graphanalytics_spark.operators.modularity import from_sums, modularity
from graphanalytics_spark.plans.superstep import Supersteps, count_where
from graphanalytics_spark.plans.truncate import LineageTruncator, detach


def _one_phase(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_rounds: int,
    seed: int,
) -> tuple[DataFrame, int, dict]:
    """One Louvain level over the given graph (self-loops allowed in
    ``edges_canon``). Returns (labels(vid,label), rounds_used, stats):
    ``stats`` holds the graph's ``nv``, ``ne`` and ``q0``, the Q of its
    singleton partition."""
    # hard parquet reset every 8 rounds (was 2, then 4): the desire-set
    # checkpoint below keeps the per-round lazy chains short, so frequent
    # hard resets only add parquet round-trips (measured ~1.3 s/round at
    # hard_every=4 vs ~1.5-1.7 s at 2; an order-balanced 4-vs-8 A/B on the
    # bench ring then had 8 faster in every pair, medians 29.8 → 28.9 s,
    # identical best_q). Chains stay ≤ 7 lazy localCheckpoints — the
    # pagerank cadence sweep showed degradation starts near chain length
    # ~9 and is severe by ~19, so 8 keeps headroom; at cluster scale fewer
    # V-sized parquet round-trips is also strictly less I/O.
    with Supersteps(
        spark, max_rounds, 8, name="louvain", cap="max_rounds_per_phase"
    ) as loop:
        edges_canon = detach(edges_canon)
        sym = loop.static(
            symmetrize(edges_canon.filter(F.col("src") != F.col("dst")))
        )
        self_w = edges_canon.filter(F.col("src") == F.col("dst")).select(
            F.col("src").alias("vid"), F.col("weight").alias("self_w")
        )
        # weighted degree incl. self-loops (counted twice per Louvain
        # convention). The outer join keeps a vertex whose only edge is a
        # self-loop — a contracted community with no edge to another one —
        # so it keeps its label instead of dropping out of the mapping.
        deg = loop.cache(
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.sum("weight").alias("wdeg"), F.count("*").alias("n_sym"))
            .join(self_w, "vid", "full")
            .select(
                "vid",
                (
                    F.coalesce("wdeg", F.lit(0.0))
                    + 2 * F.coalesce("self_w", F.lit(0.0))
                ).alias("wdeg"),
                "self_w",
                "n_sym",
            )
        )
        # ONE action for the graph's bookkeeping, which also fills the
        # deg cache: NV, NE (sym holds each non-self edge twice), 2m = Σ
        # wdeg, and the singleton partition's Q (in_c = 2·self_w, tot_c =
        # wdeg) — no label join
        r = deg.agg(
            F.count("*").alias("nv"),
            F.sum("n_sym").alias("n_sym"),
            F.count("self_w").alias("n_self"),
            F.sum("wdeg").alias("two_m"),
            F.sum("self_w").alias("self_w"),
            F.sum(F.col("wdeg") * F.col("wdeg")).alias("tot_sq"),
        ).first()
        two_m = r["two_m"] or 0.0
        stats = {
            "nv": int(r["nv"]),
            "ne": int(r["n_sym"] or 0) // 2 + int(r["n_self"]),
            "q0": from_sums(2 * (r["self_w"] or 0.0), r["tot_sq"], two_m),
        }
        if two_m == 0:
            # eager: the labels must outlive the cached deg they are read from
            out = deg.select("vid", F.col("vid").alias("label"))
            return out.localCheckpoint(eager=True), 0, stats

        state = loop.truncator.truncate(
            deg.select("vid", F.col("vid").alias("label"), "wdeg"), 0, stream="state"
        )
        rounds = iter(range(1, max_rounds + 1))

        def step(state: DataFrame) -> DataFrame:
            # neighbor-community incident weights w_{v,c}, with a zero-weight
            # row for every vertex's CURRENT community unioned in before the
            # aggregation. That one union makes the stay baseline a plain
            # per-group expression: the c==cur row's gain IS the grappolo stay
            # gain (w_{v,cur} − wdeg·(tot_cur−wdeg)/2m, w_{v,cur}=0 when v has
            # no intra-community neighbor — adding 0.0 to a finite sum moves
            # nothing), so `best` and `stay` collapse into ONE aggregation
            # where the previous shape ran three extra joins (own/stay/desire
            # re-join against state+tot) and re-derived `cand` in two
            # branches. The move set is provably unchanged: for the
            # added rows gain==stay_gain, so they can never win the strict
            # `> stay_gain` filter, and when one ties the struct-argmax it
            # yields best_c==cur, which the second filter drops — exactly the
            # cases the old shape also rejected.
            lab_dst = state.select(F.col("vid").alias("dst"), F.col("label").alias("c"))
            incid = sym.join(lab_dst, "dst").select(
                F.col("src").alias("vid"), "c", "weight"
            )
            own_zero = state.select(
                "vid", F.col("label").alias("c"), F.lit(0.0).alias("weight")
            )
            wvc = (
                incid.unionByName(own_zero)
                .groupBy("vid", "c")
                .agg(F.sum("weight").alias("w_vc"))
            )
            # community totals Σ wdeg
            tot = state.groupBy("label").agg(F.sum("wdeg").alias("tot"))
            cur = state.select("vid", F.col("label").alias("cur"), "wdeg")
            cand = (
                wvc.join(cur, "vid")
                .join(tot.withColumnRenamed("label", "c"), "c")
                .select(
                    "vid",
                    "c",
                    "cur",
                    "wdeg",
                    # tot_c excluding v itself when c is v's current community
                    F.when(F.col("c") == F.col("cur"), F.col("tot") - F.col("wdeg"))
                    .otherwise(F.col("tot"))
                    .alias("tot_x"),
                    "w_vc",
                )
                .withColumn(
                    "gain",
                    F.col("w_vc") - F.col("wdeg") * F.col("tot_x") / F.lit(two_m),
                )
            )
            # argmax with reference tie rules (higher gain, then smaller c)
            # and the stay baseline from the same rows, one hash aggregation
            summary = cand.groupBy("vid", "cur").agg(
                F.max(F.struct(F.col("gain"), (-F.col("c")).alias("negc"))).alias("m"),
                F.max(
                    F.when(F.col("c") == F.col("cur"), F.col("gain"))
                ).alias("stay_gain"),
            )
            # vertices that WANT to move (positive gain over staying).
            # Materialized eagerly: three plan branches consume it (both sides
            # of the conflict join and the movers anti-join), and without the
            # checkpoint each branch re-runs the whole gather/argmax subtree —
            # measured 2.1-2.5 s/round recomputed vs 1.5-1.7 s materialized on
            # the phase-1 bench ring (duplicated subtrees; blocks
            # reclaimed by the ContextCleaner).
            pr = F.xxhash64("vid", F.lit(seed + next(rounds)))
            desire = (
                summary.filter(
                    (F.col("m.gain") > F.col("stay_gain"))
                    & ((-F.col("m.negc")) != F.col("cur"))
                )
                .select(
                    "vid",
                    (-F.col("m.negc")).alias("best_c"),
                    F.struct(pr.alias("pr"), "vid").alias("key"),
                )
                .localCheckpoint(eager=True)
            )
            # conflict-free move set: of two ADJACENT desiring vertices only the
            # one with the smaller per-round hash priority moves — the Spark
            # restatement of the reference's distance-1 coloring
            # (coloringDistanceOne.cpp:52): no simultaneous adjacent moves, so
            # the classic two-vertex swap oscillation cannot occur and each
            # move's gain was evaluated with its neighborhood held fixed.
            movers = local_minima(sym, desire).select(
                "vid", F.col("best_c").alias("new_label")
            )
            return state.join(movers, "vid", "left").select(
                "vid",
                F.coalesce("new_label", "label").alias("label"),
                "wdeg",
                (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
            )

        state, rounds_used, _ = loop.run(state, step, count_where("changed"), 0)
        return state.select("vid", "label"), rounds_used, stats


def louvain(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_phases: int = 10,
    max_rounds_per_phase: int = 20,
    min_gain: float = 1e-4,
    seed: int = 42,
    metrics: list | None = None,
    min_graph_size: int = 0,
    vertex_following: bool = False,
    phase_checkpointer=None,
    resume: bool = False,
) -> DataFrame:
    """Multi-phase Louvain. Returns DataFrame(vid: long, community: long)
    over original vertex ids. ``metrics`` (optional list) collects
    per-phase dicts (phase, Q, n_vertices, n_edges, rounds, wall_s) — the
    FeatureLV per-phase record (xilinxlouvainInternal.h:235-253).
    ``min_graph_size`` stops phasing once the contracted graph has that few
    vertices or fewer (the reference's minGraphSize stop,
    louvainPhase.cpp:2187-2196); 0 disables the check.
    ``vertex_following`` applies the degree-1-collapse pre-pass first and
    composes the result back (the reference's vertexFollowing option,
    grappolo/src/vertexFollowing.cpp:46-88).
    ``phase_checkpointer`` (plans.checkpoint.PhaseCheckpoint) snapshots the
    contracted graph + composed mapping after every phase — the reference's
    per-phase GLV save (ParLV.cpp:398-434); with ``resume=True`` the run
    continues from the latest snapshot instead of phase 1 and, because
    every phase is deterministic given ``seed``, reproduces the
    uninterrupted run's result exactly."""
    if vertex_following:
        from graphanalytics_spark.graph import (
            compose_through,
            vertex_following_contract,
        )

        collapsed, v2c = vertex_following_contract(spark, edges_canon)
        comm = louvain(
            spark,
            collapsed,
            max_phases=max_phases,
            max_rounds_per_phase=max_rounds_per_phase,
            min_gain=min_gain,
            seed=seed,
            metrics=metrics,
            min_graph_size=min_graph_size,
            vertex_following=False,
            phase_checkpointer=phase_checkpointer,
            resume=resume,
        )
        return compose_through(v2c, comm, "community")

    # the phase-level graph and mapping: two tables, not one state, so no
    # snapshot stream (best_mapping may still read a superseded mapping)
    truncator = LineageTruncator(spark, hard_every=8)
    g = edges_canon
    mapping = None  # original vid -> current community id space of g
    # lazy: read only when no phase improves on the singleton partition
    best_mapping = _identity_labels(edges_canon).select(
        "vid", F.col("label").alias("community")
    )
    best_q = None  # phase 1 starts from its graph's singleton Q
    start_phase = 1
    if resume and phase_checkpointer is not None:
        snap = phase_checkpointer.load()
        if snap is not None:
            g, mapping, best_mapping, meta = snap
            best_q = meta["best_q"]
            start_phase = meta["phase"] + 1

    for phase in range(start_phase, max_phases + 1):
        t0 = time.monotonic()
        labels, rounds, st = _one_phase(
            spark, g, max_rounds_per_phase, seed + 1000 * phase
        )
        if best_q is None:
            best_q = st["q0"]
        # Q on the phase graph: contraction keeps every in_c, tot_c and 2m,
        # so with integer weights this is bit for bit the composed
        # mapping's Q on the original graph, at O(|E_k|) instead of O(|E_0|)
        q = modularity(spark, g, labels)
        # compose mapping: C_orig[v] = C[C_orig[v]]
        # (PhaseLoop_UpdatingC_org, louvainMultiPhaseRun.cpp:54-68).
        # mapping.community lives in g's vertex-id space, which is exactly
        # what labels.vid is keyed by.
        if mapping is None:
            mapping = labels.select("vid", F.col("label").alias("community"))
        else:
            mapping = (
                mapping.join(
                    labels.withColumnRenamed("vid", "community"), "community"
                )
                .select("vid", F.col("label").alias("community"))
            )
        if metrics is not None:
            metrics.append(
                {
                    "phase": phase,
                    "Q": q,
                    "n_vertices": st["nv"],
                    "n_edges": st["ne"],
                    "rounds": rounds,
                    "wall_s": time.monotonic() - t0,
                }
            )
        improved = q - best_q >= min_gain
        if q > best_q:
            mapping = truncator.truncate(mapping, phase)
            best_q, best_mapping = q, mapping
        if not improved:
            break  # keep the best mapping seen (a worse phase is discarded)
        if min_graph_size > 0 and st["nv"] <= min_graph_size:
            break  # graph too small to be worth another level
        if phase == max_phases and phase_checkpointer is None:
            break  # no level reads the contracted graph (louvainPhase.cpp:2187-2196)
        # contract for the next level (keeps self-loops); contraction
        # renumbers communities densely, so re-express the mapping in the
        # contracted id space with the same renumbering. The remap key is
        # the LABEL VALUE (mapping.community holds a label, which need not
        # equal the vid of any vertex still carrying it), so join against
        # the label→cid rank table — joining a vid-keyed table here would
        # silently misroute communities whose eponymous vertex moved away.
        ren = renumber_map(labels)  # label -> cid (dense); the contraction reuses it
        g = truncator.truncate(contract_graph(spark, g, labels, ren), phase)
        mapping = (
            mapping.join(
                F.broadcast(ren), mapping.community == ren.label
            )
            .select("vid", F.col("cid").alias("community"))
        )
        mapping = truncator.truncate(mapping, phase)
        if phase_checkpointer is not None:
            phase_checkpointer.save(phase, g, mapping, best_mapping, q, best_q)
    return best_mapping


def _identity_labels(edges_canon: DataFrame) -> DataFrame:
    return (
        edges_canon.select(F.col("src").alias("vid"))
        .union(edges_canon.select(F.col("dst").alias("vid")))
        .distinct()
        .select("vid", F.col("vid").alias("label"))
    )
