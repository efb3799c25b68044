"""Maximal independent set — distributed Luby's algorithm.

From-scratch Spark implementation of the reference's MIS product
(/root/reference/mis/src/mis.cpp:334-370): a vertex joins the set iff it
has no higher-priority *active* neighbor; selected vertices and their
neighbors deactivate; rounds repeat until no active vertices remain
(expected O(log n) rounds).

Priority: the reference uses a degree-biased random priority
``aveDeg/(aveDeg+deg+r)*8191`` (/root/reference/mis/src/mis.cpp:220-231).
We use the same degree bias with a deterministic hash in place of the RNG —
``xxhash64(vid, seed)`` — so runs are replayable; ties break on vid, making
the priority a total order (required for a deterministic result).

One round is one ``local_minima`` selection (a join + min-neighbor-key
aggregation + anti join — semi/anti join shapes that AQE plans; no
coloring or locking is needed because rounds are synchronous) and one
merge of the decided vertices into the state. The rounds run on the
shared superstep loop (plans/superstep.py) over one state table
(vid, prio, in_set), in_set NULL while the vertex is active; the stop
test counts those, and a run ``max_iter`` cuts warns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import Supersteps, count_where
from graphanalytics_spark.plans.truncate import detach


def local_minima(sym: DataFrame, cand: DataFrame) -> DataFrame:
    """The rows of ``cand`` (vid, key, …) whose ``key`` is below the key
    of every ``sym`` neighbor that is also in ``cand`` — a vertex with no
    such neighbor included. Keys must be distinct, so no two neighbors
    are both selected: the result is an independent set of ``cand``.

    The one Luby selection step of MIS (a round's winners), coloring (its
    frontier, with the key negated for a local maximum) and louvain (its
    conflict-free movers)."""
    own = cand.select(F.col("vid").alias("src"), F.col("key").alias("own"))
    nbr = cand.select(F.col("vid").alias("dst"), F.col("key").alias("nkey"))
    beaten = (
        sym.join(own, "src")
        .join(nbr, "dst")
        .groupBy("src", "own")
        .agg(F.min("nkey").alias("best"))
        .filter(F.col("best") < F.col("own"))
        .select(F.col("src").alias("vid"))
    )
    return cand.join(beaten, "vid", "left_anti")


def maximal_independent_set(
    spark: SparkSession,
    edges_canon: DataFrame,
    seed: int = 42,
    max_iter: int = 100,
) -> DataFrame:
    """Returns DataFrame(vid: long) — a maximal independent set of the
    undirected graph. Deterministic for a given seed. Warns when
    ``max_iter`` rounds leave vertices undecided; the set returned is then
    independent but not maximal."""
    with Supersteps(spark, max_iter, 4, name="maximal_independent_set") as loop:
        sym = loop.static(symmetrize(detach(edges_canon)).select("src", "dst"))
        deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
        avg_deg = deg.agg(F.avg("deg")).first()[0]
        if avg_deg is None:  # empty graph
            return spark.createDataFrame([], "vid long")
        # degree-biased deterministic priority; lower = stronger claim.
        # in_set is NULL while the vertex is still active
        prio = (
            F.pmod(F.xxhash64("vid", F.lit(seed)), F.lit(1 << 20)).cast("double")
            / F.lit(float(1 << 20))
            * (F.col("deg") + F.lit(float(avg_deg)))
            / F.lit(float(avg_deg))
        )
        init_state = loop.cache(
            deg.select("vid", prio.alias("prio"), F.lit(None).cast("boolean").alias("in_set"))
        )

        def step(state: DataFrame) -> DataFrame:
            # a vertex wins if no active neighbor has (smaller prio, tie
            # smaller vid); winners join the set, their neighbors leave it
            active = state.filter(F.col("in_set").isNull())
            won = local_minima(
                sym, active.select("vid", F.struct("prio", "vid").alias("key"))
            ).select("vid")
            lost = sym.join(won.withColumnRenamed("vid", "src"), "src", "left_semi").select(
                F.col("dst").alias("vid"), F.lit(False).alias("won")
            )
            # one aggregation on vid both dedups the losers and leaves decided
            # partitioned for the state join (a distinct of the losers before
            # the union ran 71 jobs per call on the sf0.01 graph, this 63)
            decided = (
                won.withColumn("won", F.lit(True))
                .unionByName(lost)
                .groupBy("vid")
                .agg(F.max("won").alias("won"))
            )
            return state.join(decided, "vid", "left").select(
                "vid", "prio", F.coalesce("in_set", "won").alias("in_set")
            )

        state, _, _ = loop.run(init_state, step, count_where("in_set IS NULL"), 0)
        return state.filter("in_set").select("vid")


def verify_mis(spark: SparkSession, edges_canon: DataFrame, mis: DataFrame) -> dict:
    """Invariant verification mirroring ``MisImpl::verifyMis``
    (/root/reference/mis/src/mis.cpp:371-400): independence (no selected
    vertex has a selected neighbor) and maximality (every unselected vertex
    has a selected neighbor)."""
    sym = symmetrize(edges_canon).select("src", "dst")
    m = mis.select("vid")
    viol_indep = (
        sym.join(m, sym.src == m.vid, "left_semi")
        .join(m.withColumnRenamed("vid", "v2"), F.col("dst") == F.col("v2"), "left_semi")
        .count()
    )
    verts = sym.select(F.col("src").alias("vid")).distinct()
    unselected = verts.join(m, "vid", "left_anti")
    covered = (
        sym.join(m, sym.dst == m.vid, "left_semi")
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    viol_maximal = unselected.join(covered, "vid", "left_anti").count()
    return {"independence_violations": viol_indep, "maximality_violations": viol_maximal}
