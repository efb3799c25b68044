"""HyperBall: the neighborhood function N(t) by per-vertex HLL sketch
union (Boldi–Rosa–Vigna 2011).

N(t) = #ordered pairs (u, v) with dist(u, v) ≤ t. Computing it exactly
needs all-pairs BFS; HyperBall keeps ONE HyperLogLog sketch per vertex
(initially {v}) and each round replaces it with the union of its own and
its neighbors' sketches — after t rounds vertex v's sketch estimates
|ball(v, t)|, and Σ_v estimate = N(t). The curve yields the effective
diameter (smallest t with N(t) ≥ 0.9·N(∞)) and average distance without
ever materializing pairs.

Spark-first: the sketches are Spark 4's built-in datasketches HLL columns
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` — JVM
aggregates, no Python in the loop), so one round is exactly the PageRank
gather shape: adjacency ⋈ state, group by dst with a sketch-union
aggregate (map-side partial union absorbs hub skew), then a scalar
``hll_union`` with the previous sketch. State is V rows × 2^lg_k bytes
(lg_k=12 → 4 KB/vertex, the precision/size knob at 10^12 vertices).
Deterministic: datasketches HLL has no RNG — the same input set always
yields the same estimate, which is what lets an invariant certificate
gate the result (the converged N(∞) must match the EXACT per-component
pair count Σ|C|² from ``connected_components``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.truncate import LineageTruncator


def neighborhood_function(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_t: int = 32,
    lg_k: int = 12,
    checkpoint_every: int = 4,
) -> list[dict]:
    """Run HyperBall until N(t) stabilizes (or ``max_t``); returns the
    curve as [{"t": t, "n_pairs_est": float, "wall_s": s}, ...] with t=0
    counting the |V| self-pairs. The curve is driver-side tiny (one float
    per round) — the per-vertex sketch table never leaves the cluster."""
    truncator = LineageTruncator(spark, hard_every=checkpoint_every)
    sym = symmetrize(edges_canon).select("src", "dst").persist()
    sym.count()

    state = (
        sym.select(F.col("src").alias("vid"))
        .distinct()
        .groupBy("vid")
        .agg(F.hll_sketch_agg("vid", F.lit(lg_k)).alias("sk"))
    )
    state = truncator.truncate(state, 0, stream="hb")

    def total(st: DataFrame) -> float:
        return float(
            st.agg(
                F.sum(F.hll_sketch_estimate("sk")).alias("n")
            ).first()["n"]
        )

    curve = [{"t": 0, "n_pairs_est": total(state), "wall_s": 0.0}]
    flat_rounds = 0
    for t in range(1, max_t + 1):
        t0 = time.monotonic()
        nbr = (
            sym.join(state, sym.src == state.vid)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.hll_union_agg("sk").alias("nsk"))
        )
        new_state = state.join(nbr, "vid", "left").select(
            "vid",
            F.when(
                F.col("nsk").isNull(), F.col("sk")
            ).otherwise(F.hll_union("sk", "nsk")).alias("sk"),
        )
        new_state = truncator.truncate(new_state, t, stream="hb")
        n = total(new_state)
        state = new_state
        curve.append(
            {"t": t, "n_pairs_est": n, "wall_s": time.monotonic() - t0}
        )
        # Two consecutive flat rounds before stopping (r4 advice): in the
        # sparse/linear-counting regime a register update can leave the
        # estimate unchanged for one round while sketches are still
        # growing, so a single flat total is not proof of the fixed point.
        # Balls grow every round until they equal their component, so one
        # extra sweep after true convergence is a no-op, and two flat
        # totals in a row can only happen at the fixed point or at an
        # estimate plateau the single-round break would also have accepted.
        if n == curve[-2]["n_pairs_est"]:
            flat_rounds += 1
            if flat_rounds >= 2:
                # drop the duplicate confirmation round from the curve so
                # effective_diameter reads the same curve as before
                curve.pop()
                break
        else:
            flat_rounds = 0
    sym.unpersist()
    return curve


def hyperball_per_vertex(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_t: int = 32,
    lg_k: int = 12,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Per-vertex centralities from the SAME HyperBall sweep (r4 verdict
    #6): each round's per-vertex ball-size estimate |ball(v,t)| is already
    in the sketch column, so approximate harmonic closeness
    Σ_u 1/d(v,u) = Σ_t Δ(v,t)/t and total distance Σ_u d(v,u) = Σ_t Δ(v,t)·t
    (Δ(v,t) = |ball(v,t)|−|ball(v,t−1)|, the number of vertices first
    reached at distance t) accumulate as two extra double columns on the
    state table — no extra passes over the graph, no per-pair work, the
    Boldi–Vigna closeness estimator. Δ is clamped at 0 (HLL estimates can
    jitter down a fraction in dense mode).

    Returns DataFrame(vid, n_reachable, harmonic, sum_dist, closeness):
    n_reachable = |ball(v,∞)|−1 (self excluded), closeness =
    n_reachable/sum_dist (NULL for isolated-in-graph vertices with
    sum_dist 0). In HLL sparse mode (small components) the estimates are
    exact — gated by the brute-force equality test; at scale accuracy is
    the lg_k knob exactly as for the neighborhood function."""
    truncator = LineageTruncator(spark, hard_every=checkpoint_every)
    sym = symmetrize(edges_canon).select("src", "dst").persist()
    sym.count()

    state = (
        sym.select(F.col("src").alias("vid"))
        .distinct()
        .groupBy("vid")
        .agg(F.hll_sketch_agg("vid", F.lit(lg_k)).alias("sk"))
        .select(
            "vid",
            "sk",
            F.hll_sketch_estimate("sk").alias("est"),
            F.lit(0.0).alias("harmonic"),
            F.lit(0.0).alias("sum_dist"),
        )
    )
    state = truncator.truncate(state, 0, stream="hbv")

    def total(st: DataFrame) -> float:
        return float(st.agg(F.sum("est").alias("n")).first()["n"])

    prev_total = total(state)
    flat_rounds = 0
    for t in range(1, max_t + 1):
        nbr = (
            sym.join(state, sym.src == state.vid)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.hll_union_agg("sk").alias("nsk"))
        )
        merged = state.join(nbr, "vid", "left").select(
            "vid",
            F.when(F.col("nsk").isNull(), F.col("sk"))
            .otherwise(F.hll_union("sk", "nsk"))
            .alias("sk"),
            F.col("est").alias("prev_est"),
            "harmonic",
            "sum_dist",
        )
        new_state = merged.select(
            "vid",
            "sk",
            F.hll_sketch_estimate("sk").alias("est"),
            "prev_est",
            "harmonic",
            "sum_dist",
        ).select(
            "vid",
            "sk",
            "est",
            (
                F.col("harmonic")
                + F.greatest(F.col("est") - F.col("prev_est"), F.lit(0.0))
                / F.lit(float(t))
            ).alias("harmonic"),
            (
                F.col("sum_dist")
                + F.greatest(F.col("est") - F.col("prev_est"), F.lit(0.0))
                * F.lit(float(t))
            ).alias("sum_dist"),
        )
        new_state = truncator.truncate(new_state, t, stream="hbv")
        n = total(new_state)
        state = new_state
        if n == prev_total:
            flat_rounds += 1
            if flat_rounds >= 2:
                break
        else:
            flat_rounds = 0
        prev_total = n
    sym.unpersist()
    return state.select(
        "vid",
        (F.col("est") - 1.0).alias("n_reachable"),
        "harmonic",
        "sum_dist",
        F.when(F.col("sum_dist") > 0, (F.col("est") - 1.0) / F.col("sum_dist"))
        .otherwise(F.lit(None).cast("double"))
        .alias("closeness"),
    )


def effective_diameter(curve: list[dict], q: float = 0.9) -> int:
    """Smallest t with N(t) ≥ q·N(final) — read off the HyperBall curve."""
    final = curve[-1]["n_pairs_est"]
    for row in curve:
        if row["n_pairs_est"] >= q * final:
            return row["t"]
    return curve[-1]["t"]
