"""Distance-1 vertex coloring — distributed Jones–Plassmann greedy.

The reference colors vertices to schedule conflict-free parallel Louvain
moves (grappolo's ``algoDistanceOneVertexColoringOpt``,
/root/reference/louvainmod/grappolo/src/coloringDistanceOne.cpp:52-149 —
greedy first-fit over the neighborhood with random priorities; consumed
by parallelLouvainWithColoring.cpp). This is the Spark-first form:
Jones–Plassmann rounds with the SAME deterministic hash-priority family
as the MIS operator (operators/mis.py) —

    round i: frontier = uncolored vertices whose (priority, vid) beats
             every uncolored neighbor (a local max — an independent set)
             color(v ∈ frontier) = mex{ color(u) : u ∈ N(v), colored }
             (first-fit: smallest non-negative color unused next door,
              exactly grappolo's Mark[]-scan, coloringDistanceOne.cpp:
              130-149)

Rounds are synchronous and the frontier is independent, so two
neighbors are never colored in the same round — the result is a proper
coloring by construction, and deterministic for a given seed (replayable
across task retries). Expected O(log n) rounds (Luby argument).

The rounds run on the shared superstep loop (plans/superstep.py) over
one state table (vid, prio, color), color NULL while uncolored; the stop
test counts those, and a run ``max_rounds`` cuts warns.

Scale shape per round: the MIS selection step (operators/mis.py
``local_minima``) over the uncolored vertices keyed by their negated
priority, one join against colored neighbors, the mex as
``explode(sequence(0, blocked_count))`` anti-joined to the blocked color
set — a vertex with b colored neighbors scans at most b+1 candidates,
so total mex work over the whole run is O(E) rows — and one merge of
the new colors into the state. No per-row Python.

Grundy invariant (what the tests/certificate assert): for every vertex
and every color c < color(v), some neighbor carries c — i.e. the
coloring is first-fit-tight, hence ≤ max_degree+1 colors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.operators.mis import local_minima
from graphanalytics_spark.plans.superstep import Supersteps, count_where
from graphanalytics_spark.plans.truncate import detach


def greedy_coloring(
    spark: SparkSession,
    edges_canon: DataFrame,
    seed: int = 42,
    max_rounds: int = 200,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Proper distance-1 coloring: DataFrame(vid: long, color: int ≥ 0).
    Deterministic for a given seed. Colors are first-fit (Grundy) w.r.t.
    the Jones–Plassmann elimination order."""
    with Supersteps(
        spark, max_rounds, checkpoint_every, name="greedy_coloring", cap="max_rounds"
    ) as loop:
        sym = loop.static(symmetrize(detach(edges_canon)).select("src", "dst"))
        init_state = loop.cache(
            sym.select(F.col("src").alias("vid"))
            .distinct()
            .select(
                "vid",
                F.pmod(F.xxhash64("vid", F.lit(seed)), F.lit(1 << 40)).alias("prio"),
                F.lit(None).cast("int").alias("color"),
            )
        )

        def step(state: DataFrame) -> DataFrame:
            colored = state.filter(F.col("color").isNotNull()).select("vid", "color")
            # winner test: no UNCOLORED neighbor with (higher prio, tie higher
            # vid) — the local max of (prio, vid) is the local min of its
            # negation
            uncolored = state.filter(F.col("color").isNull()).select(
                "vid", F.struct(-F.col("prio"), -F.col("vid")).alias("key")
            )
            frontier = local_minima(sym, uncolored).select("vid")
            # mex over already-colored neighbors: explode 0..b candidates,
            # anti-join the blocked set, take the min
            blocked = (
                frontier.join(sym, frontier.vid == sym.src)
                .join(
                    colored.select(
                        F.col("vid").alias("dst"), F.col("color").alias("ncolor")
                    ),
                    "dst",
                )
                .select(F.col("src").alias("vid"), "ncolor")
                .distinct()
            )
            nblocked = blocked.groupBy("vid").agg(F.count("*").alias("b"))
            cand = (
                frontier.join(nblocked, "vid", "left")
                .select(
                    "vid",
                    F.explode(
                        F.sequence(F.lit(0), F.coalesce(F.col("b"), F.lit(0)))
                    ).alias("c"),
                )
            )
            newly = (
                cand.join(
                    blocked,
                    (cand.vid == blocked.vid) & (cand.c == blocked.ncolor),
                    "left_anti",
                )
                .groupBy("vid")
                .agg(F.min("c").cast("int").alias("new_color"))
            )
            return state.join(newly, "vid", "left").select(
                "vid", "prio", F.coalesce("color", "new_color").alias("color")
            )

        state, _, _ = loop.run(init_state, step, count_where("color IS NULL"), 0)
        return state.filter(F.col("color").isNotNull()).select("vid", "color")


def verify_coloring(
    spark: SparkSession, edges_canon: DataFrame, coloring: DataFrame
) -> dict:
    """Invariant certificate (the verifyMis analog, mis.py:verify_mis):
    conflicts  = edges whose endpoints share a color (must be 0)
    uncolored  = graph vertices missing from the coloring (must be 0)
    grundy_violations = (v, c) with c < color(v) and no neighbor colored
    c (must be 0 — proves first-fit tightness, hence ≤ Δ+1 colors)."""
    sym = symmetrize(edges_canon).select("src", "dst")
    col_s = coloring.select(F.col("vid").alias("src"), F.col("color").alias("cs"))
    col_d = coloring.select(F.col("vid").alias("dst"), F.col("color").alias("cd"))
    joined = sym.join(col_s, "src", "left").join(col_d, "dst", "left")
    conflicts = joined.filter(
        F.col("cs").isNotNull() & (F.col("cs") == F.col("cd"))
    ).count() // 2
    verts = sym.select(F.col("src").alias("vid")).distinct()
    uncolored = verts.join(coloring, "vid", "left_anti").count()
    # Grundy: every color below one's own appears in the neighborhood
    want = coloring.filter(F.col("color") > 0).select(
        "vid", F.explode(F.sequence(F.lit(0), F.col("color") - 1)).alias("c")
    )
    have = (
        sym.join(
            coloring.select(F.col("vid").alias("dst"), F.col("color").alias("c")),
            "dst",
        )
        .select(F.col("src").alias("vid"), "c")
        .distinct()
    )
    grundy = want.join(have, ["vid", "c"], "left_anti").count()
    return {
        "conflicts": int(conflicts),
        "uncolored": int(uncolored),
        "grundy_violations": int(grundy),
    }
