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
Deterministic for a fixed partitioning: datasketches HLL has no RNG,
but a union's estimate depends on the order its sketches merge in, so
the estimates can move with the core count, ``spark.sql.shuffle.partitions``
or how the state is materialized (a persisted start state instead of
the parquet round 0 moved N(4) by one on the sf0.01 graph). The
converged N(∞) is what an invariant certificate gates: it must match the
EXACT per-component pair count Σ|C|² from ``connected_components``.

Both public functions are thin wrappers over one sweep, ``_sweep``, run on
the shared superstep loop (plans/superstep.py) over the per-vertex state
(vid, sk, est, harmonic, sum_dist); it stops after two flat rounds of
Σ est and warns when ``max_t`` cuts it first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import IterationMetrics, Supersteps, Unchanged


def _sweep(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_t: int,
    lg_k: int,
    checkpoint_every: int,
    name: str,
) -> tuple[DataFrame, list[dict]]:
    """Run HyperBall to two flat rounds of Σ est (or ``max_t``): the final
    state (vid, sk, est, harmonic, sum_dist) and the curve from t=0,
    without the round that confirmed convergence."""
    metrics = IterationMetrics()
    loop = Supersteps(
        spark, max_t, checkpoint_every, metrics=metrics, name=name, cap="max_t"
    )
    sym = symmetrize(edges_canon).select("src", "dst").persist()
    n_edges = sym.count()

    # round 0 goes through the truncator's hard reset, as every fourth
    # round does: a union's estimate depends on the order its sketches
    # merge in, so the start state's partitioning is part of the result
    # (a persisted start state moved N(4) by one on the sf0.01 graph)
    init_state = loop.truncator.truncate(
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
        ),
        0,
        stream="state",
    )

    def total(st: DataFrame) -> float:
        return float(st.agg(F.sum("est").alias("n")).first()["n"])

    rounds = iter(range(1, max_t + 1))

    def step(state: DataFrame) -> DataFrame:
        t = F.lit(float(next(rounds)))
        nbr = (
            sym.join(state, sym.src == state.vid)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.hll_union_agg("sk").alias("nsk"))
        )
        sk = F.when(F.col("nsk").isNull(), F.col("sk")).otherwise(F.hll_union("sk", "nsk"))
        merged = (
            state.join(nbr, "vid", "left")
            .select("vid", sk.alias("sk"), F.col("est").alias("prev_est"), "harmonic", "sum_dist")
            .withColumn("est", F.hll_sketch_estimate("sk"))
        )
        gain = F.greatest(F.col("est") - F.col("prev_est"), F.lit(0.0))
        return merged.select(
            "vid",
            "sk",
            "est",
            (F.col("harmonic") + gain / t).alias("harmonic"),
            (F.col("sum_dist") + gain * t).alias("sum_dist"),
        )

    # Two consecutive flat rounds before stopping (r4 advice): in the
    # sparse/linear-counting regime a register update can leave the
    # estimate unchanged for one round while sketches are still growing,
    # so a single flat total is not proof of the fixed point. Balls grow
    # every round until they equal their component, so one extra sweep
    # after true convergence is a no-op, and two flat totals in a row can
    # only happen at the fixed point or at an estimate plateau the
    # single-round break would also have accepted.
    flat = Unchanged(total, total(init_state), r=2)
    state, _, converged = loop.run(init_state, step, flat, n_edges)
    sym.unpersist()
    curve = [{"t": 0, "n_pairs_est": flat.values[0], "wall_s": 0.0}] + [
        {"t": row["iteration"], "n_pairs_est": n, "wall_s": row["wall_s"]}
        for row, n in zip(metrics.rows, flat.values[1:])
    ]
    if converged:
        # drop the confirming round so effective_diameter reads the curve
        # up to the first flat round
        curve.pop()
    return state, curve


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
    return _sweep(
        spark, edges_canon, max_t, lg_k, checkpoint_every, "neighborhood_function"
    )[1]


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
    state, _ = _sweep(
        spark, edges_canon, max_t, lg_k, checkpoint_every, "hyperball_per_vertex"
    )
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
