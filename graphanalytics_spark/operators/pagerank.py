"""Distributed PageRank: one body, two gathers, two resets.

``pagerank``, ``personalized_pagerank`` and ``pagerank_csr`` are one
superstep body (``_pagerank``) on the shared loop (plans/superstep.py).
The body owns the vertex set with its dangling flags, the initial state,
the dangling-mass term and the rank update; the variants differ only in

- the reset vector: uniform 1/N over V (``pagerank``, ``pagerank_csr``)
  or uniform over the seed set S (``personalized_pagerank``), and
- the gather that sums rank(u)·frac(u,v) over each vertex's in-edges.

Gathers:

- join + aggregation (``_JoinGather``, the default): ``links JOIN state
  ON src`` → ``groupBy(dst).sum()``, then ``state LEFT JOIN contribs ON
  vid``; map-side partial aggregation absorbs hub-vertex skew. The static
  ``links`` side (src, dst, weight/out-degree) is hash-partitioned on
  ``src`` once and persisted, so a shuffled join reads it in place and
  exchanges only the state. The join strategy is Catalyst/AQE's: a
  checkpointed state's size estimate compounds every superstep (38 KB →
  93 GB → 2.8e17 B in three steps), so while the links fit under the
  broadcast threshold they are broadcast every superstep instead. Pinning
  both joins to a shuffled-hash join built on the state removed those
  broadcasts but not end-to-end time (8-copy co-purchase graph, 4 cores,
  10 ABBA pairs: wall 1.009× the unpinned plan), so the choice stays the
  planner's.
- per-partition CSR (``_CsrGather``, ``pagerank_csr``): edges are blocked
  by hash(src), each block's adjacency is a numpy CSR slice inside a
  cogrouped Arrow UDF, and rank mass is scattered with ``np.add.at`` —
  vectorized, no per-row Python. This
  mirrors the reference's per-partition kernel shape (CSR in, per-vertex
  state in/out, convergence scalar out —
  /root/reference/L2/louvainmod_pruning_kernel/kernel_louvain.cpp:25-135)
  with Spark shuffles playing the ghost-exchange role
  (/root/reference/louvainmod/include/ParLV.h:112-213).

Which gather to use: the join. Measured head-to-head on the ×24
replicated graph (57.4 M symmetrized edges, 20 fixed iterations,
local[32]; BENCH/BASELINE.md r4): join+agg 98.9 s iteration wall
(11.61 M edges/s) vs CSR-Arrow 625.2 s (1.84 M edges/s) — the Arrow
path pays per-block serialization + Python-worker scheduling every
iteration, while the declarative plan stays inside whole-stage codegen.
``pagerank_csr`` remains as the reference-kernel parity shape and the
template for semantics the built-ins cannot express.

Semantics: damping d=0.85; with the uniform reset
rank(v) = (1-d)/N + d*(Σ_{u→v} rank(u)*frac(u,v) + dangling_mass/N),
frac = weight(u,v)/wdeg_out(u); with the seeded reset base(v) = 1/|S| on
seeds and 0 elsewhere,
rank(v) = (1-d)*base(v) + d*(Σ_{u→v} rank(u)*frac(u,v) + dangling_mass*base(v)).
Both keep Σ rank = 1. Iterate until max|Δrank| < tol (default 1e-6, the
reference's default ΔQ tolerance,
/root/reference/louvainmod/examples/python/pythondemo.py:83); tol=0 runs
exactly ``max_iter`` supersteps. Doubles throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.superstep import IterationMetrics, Supersteps
from graphanalytics_spark.plans.truncate import detach


def _fractions(e: DataFrame) -> DataFrame:
    """Per-edge rank fraction weight/out-degree of a src-partitioned
    (src, dst, weight) table. The wdeg aggregation reuses the src
    partitioning (no exchange) and the edges⋈wdeg join is co-partitioned
    (no exchange), so building the links exchanges the edges once (guide
    §2.4: two operations keyed the same way share one exchange). frac is
    an exact integer ratio for count-weighted graphs.

    The join is pinned to a shuffled hash join building on the aggregated
    side: left to AQE, a small graph's join broadcast whichever side's
    stage finished first, so the cached links' plan differed run to run."""
    out = e.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    return e.join(out.hint("shuffle_hash"), "src").select(
        "src", "dst", (F.col("weight") / F.col("wdeg")).alias("frac")
    )


class _JoinGather:
    """Gather as links ⋈ state on src, summed by dst."""

    carry = ()

    def links(self, loop: Supersteps, edges: DataFrame) -> DataFrame:
        return loop.static(edges.select("src", "dst", "weight"), build=_fractions)

    def tag(self, state: DataFrame) -> DataFrame:
        return state

    def __call__(self, links: DataFrame, state: DataFrame) -> DataFrame:
        """``state`` plus ``gathered`` = Σ rank(src)·frac over each
        vertex's in-edges (null for a vertex without in-edges)."""
        contribs = (
            links.join(state, links.src == state.vid)
            .select(links.dst.alias("vid"), (F.col("frac") * F.col("rank")).alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("gathered"))
        )
        return state.join(contribs, "vid", "left")


class _CsrGather:
    """Gather as a cogrouped Arrow UDF over hash(src) blocks: each task
    sees (edges of a block, ranks of the block) and emits partial
    contributions (dst, c) which a plain hash aggregation reduces. The
    vertex state carries its ``block`` (``tag``)."""

    carry = ("block",)

    def __init__(self, n_blocks: int):
        self.n_blocks = n_blocks

    def _block(self, col: str):
        return F.pmod(F.xxhash64(col), F.lit(self.n_blocks))

    def links(self, loop: Supersteps, edges: DataFrame) -> DataFrame:
        out = edges.groupBy("src").agg(F.sum("weight").alias("wdeg"))
        return loop.static(
            edges.join(out, "src").select(
                "src",
                "dst",
                (F.col("weight") / F.col("wdeg")).alias("frac"),
                self._block("src").alias("block"),
            ),
            # pre-partitioned on the cogroup key once: each superstep's
            # cogroup then exchanges only the vertex-state side
            key="block",
        )

    def tag(self, state: DataFrame) -> DataFrame:
        return state.withColumn("block", self._block("vid"))

    def __call__(self, links: DataFrame, state: DataFrame) -> DataFrame:
        def scatter(edges_pdf, state_pdf):
            import numpy as np
            import pandas as pd

            if len(edges_pdf) == 0 or len(state_pdf) == 0:
                return pd.DataFrame({"vid": [], "c": []}).astype(
                    {"vid": "int64", "c": "float64"}
                )
            # block-local CSR-style kernel, all numpy: gather src ranks by
            # binary search over the sorted block vertex ids, scatter the
            # contributions onto the block-local dst index space with
            # np.add.at — the per-partition analog of the reference's
            # gather/scatter kernel loop (kernel_louvain.cpp:25-135)
            vids = state_pdf["vid"].to_numpy(dtype=np.int64)
            ranks = state_pdf["rank"].to_numpy(dtype=np.float64)
            order = np.argsort(vids, kind="stable")
            vids_s, ranks_s = vids[order], ranks[order]
            src = edges_pdf["src"].to_numpy(dtype=np.int64)
            # co-grouping guarantees every edge's src is in this block's state
            contrib = edges_pdf["frac"].to_numpy(dtype=np.float64) * ranks_s[
                np.searchsorted(vids_s, src)
            ]
            dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
            uniq, inv = np.unique(dst, return_inverse=True)
            acc = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(acc, inv, contrib)
            return pd.DataFrame({"vid": uniq, "c": acc})

        contribs = (
            links.groupBy("block")
            .cogroup(state.groupBy("block"))
            .applyInPandas(scatter, schema="vid long, c double")
            .groupBy("vid")
            .agg(F.sum("c").alias("gathered"))
        )
        return state.join(contribs, "vid", "left")


def _seeded(verts: DataFrame, seeds: DataFrame) -> DataFrame:
    """Initial state of the seeded reset: (vid, base, rank, dangling) with
    base = rank = 1/|S| on the seeds, 0 elsewhere. |S| counts the seeds
    PRESENT IN THE GRAPH — a seed id with no edges carries no mass
    anywhere, so counting it would silently scale every rank down and break
    the Σ rank = 1 invariant."""
    s = seeds.select(F.col(seeds.columns[0]).alias("vid")).distinct()
    flagged = verts.join(s.withColumn("_s", F.lit(True)), "vid", "left")
    n_s = flagged.filter("_s").count()
    if n_s == 0:
        raise ValueError(
            "personalized_pagerank needs at least one seed that appears in the graph"
        )
    base = F.when(F.col("_s"), F.lit(1.0 / n_s)).otherwise(F.lit(0.0))
    return flagged.select("vid", base.alias("base"), "dangling").select(
        "vid", "base", F.col("base").alias("rank"), "dangling"
    )


def _pagerank(
    loop: Supersteps,
    edges: DataFrame,
    gather,
    seeds: DataFrame | None,
    damping: float,
    tol: float,
    initial_state: DataFrame | None = None,
) -> DataFrame:
    """The PageRank body, run inside the ``loop``'s block: ``seeds`` None
    is the uniform reset, else the reset is uniform over the seeds;
    ``gather`` is a ``_JoinGather`` or a ``_CsrGather``. Returns
    DataFrame(vid, rank)."""
    edges = detach(edges)
    links = gather.links(loop, edges)
    # the metrics rows' edge column: a job, so only when metered
    n_links = links.count() if loop.metrics is not None else 0
    # vertex set + static dangling flag (no out-edges) in ONE aggregation:
    # the previous shape (union-distinct + distinct + join) cost two
    # distinct shuffles and a join for the same table (guide §2.4)
    verts = loop.cache(
        edges.select(F.col("src").alias("vid"), F.lit(1).alias("o"))
        .unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("o")))
        .groupBy("vid")
        .agg((F.max("o") == 0).alias("dangling"))
    )
    cnt = verts.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dangling").cast("int")).alias("nd"),
    ).first()
    n, has_dangling = int(cnt["n"]), bool(cnt["nd"])

    if seeds is None:
        init = verts.select("vid", F.lit(1.0 / n).alias("rank"), "dangling")
        base = (1.0 - damping) / n

        def share(mass):
            return mass / n

        def reset(gathered, dm):
            return F.lit(base) + F.lit(damping) * (gathered + dm)

    else:
        init = _seeded(verts, seeds)

        def share(mass):
            return mass

        def reset(gathered, dm):
            return (1.0 - damping) * F.col("base") + F.lit(damping) * (
                gathered + dm * F.col("base")
            )

    if initial_state is not None:
        init = initial_state.select("vid", "rank").join(init.drop("rank"), "vid")
    # a graph with no dangling vertices (every symmetrized graph) needs
    # neither the flag column nor the dangling-mass scalar: narrower
    # checkpointed state rows, one less branch per superstep
    lead = ["base"] if seeds is not None else []
    tail = (["dangling"] if has_dangling else []) + list(gather.carry)
    init_state = loop.cache(gather.tag(init).select("vid", *lead, "rank", *tail))

    def step(state: DataFrame) -> DataFrame:
        state = state.drop("delta")
        joined = gather(links, state)
        dm = F.lit(0.0)
        if has_dangling:
            # dangling mass as an in-plan broadcast scalar: no driver action
            mass = state.filter("dangling").agg(
                share(F.coalesce(F.sum("rank"), F.lit(0.0))).alias("_dm")
            )
            joined = joined.crossJoin(F.broadcast(mass))
            dm = F.col("_dm")
        rank = reset(F.coalesce(F.col("gathered"), F.lit(0.0)), dm)
        cols = ["vid", *lead, rank.alias("rank"), *tail]
        if tol > 0:
            # fixed-iteration runs (tol=0) never read delta — skip the
            # column so the checkpointed state stays minimal
            cols.append(F.abs(rank - F.col("rank")).alias("delta"))
        return joined.select(*cols)

    def stop(state: DataFrame) -> tuple[float, bool]:
        delta = float(state.agg(F.max("delta")).first()[0])
        return delta, delta < tol

    state, _, _ = loop.run(
        init_state,
        step,
        stop if tol > 0 else None,
        n_links,
        view=lambda s: s.select("vid", "rank"),
    )
    return state.select("vid", "rank")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_every: int = 5,
    metrics: IterationMetrics | None = None,
    initial_state: DataFrame | None = None,
    checkpointer=None,
    check_every: int = 2,
) -> DataFrame:
    """Converged PageRank over a directed weighted edge table.

    Returns DataFrame(vid: long, rank: double). ``initial_state`` +
    ``checkpointer`` enable mid-run resume (plans/checkpoint.py): pass the
    state table of the last snapshot and iteration continues from there —
    the SaveGLVBin/LoadGLVBin analog
    (/root/reference/louvainmod/src/ParLV.cpp:398-434).

    Action economics (the per-iteration floor at small scale is Spark's
    job-scheduling round, not the join+agg work): the dangling-mass scalar
    is folded into the plan as a broadcast 1-row aggregate instead of a
    per-iteration driver action (and skipped entirely when the graph has
    no dangling vertices — every symmetrized graph), so the only
    per-iteration driver actions left are the convergence check, run every
    ``check_every`` iterations (semantics-preserving: a converged state
    stays converged under extra sweeps, and fixed-iteration runs with
    tol=0 never check), and the hard lineage reset every
    ``checkpoint_every``. Every superstep still runs its shuffle stages
    when it is truncated (see ``LineageTruncator.truncate``).

    The input is detached from the caller's plan first (plans/truncate.py
    ``detach``), so no superstep plan carries that plan along."""
    with Supersteps(
        spark, max_iter, checkpoint_every, check_every, metrics, checkpointer,
        name="pagerank",
    ) as loop:
        return _pagerank(loop, edges, _JoinGather(), None, damping, tol, initial_state)


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    n_blocks: int = 32,
    checkpoint_every: int = 5,
    metrics: IterationMetrics | None = None,
    check_every: int = 2,
) -> DataFrame:
    """``pagerank`` with the gather expressed as per-partition CSR blocks
    inside a cogrouped Arrow UDF (``_CsrGather``): edges are blocked by
    hash(src) % n_blocks and the state is co-blocked on vid."""
    with Supersteps(
        spark, max_iter, checkpoint_every, check_every, metrics, name="pagerank_csr"
    ) as loop:
        return _pagerank(loop, edges, _CsrGather(n_blocks), None, damping, tol)


def pagerank_fixed(
    spark: SparkSession, edges: DataFrame, iterations: int = 5, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank (no convergence test) — the
    oracle-checkable slice: identical math to ``pagerank`` but a statically
    unrollable number of gather rounds, so the DuckDB oracle can express it
    as nested SQL. Returns ranks rounded to 9 decimals for cross-engine
    hash stability."""
    r = pagerank(
        spark,
        edges,
        damping=damping,
        tol=0.0,
        max_iter=iterations,
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))


def pagerank_csr_fixed(
    spark: SparkSession, edges: DataFrame, iterations: int = 5, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration variant of the CSR-block Arrow-UDF implementation —
    same oracle as ``pagerank_fixed`` (identical math, different physical
    plan), so the pandas/Arrow gather path gets a value-level correctness
    gate too."""
    r = pagerank_csr(
        spark, edges, damping=damping, tol=0.0, max_iter=iterations
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_every: int = 5,
    metrics: IterationMetrics | None = None,
    check_every: int = 2,
) -> DataFrame:
    """Personalized PageRank: ``pagerank`` with the reset distribution
    uniform over the ``seeds`` vertex set (first column) instead of over V,
    so rank measures proximity to the seeds (the similar-items query of
    the reference's recommendation plugin,
    /root/reference/plugin/tigergraph/recomengine, expressed as a graph
    walk instead of feature cosine). Dangling mass re-enters through the
    reset distribution, so Σ rank = 1 is preserved; with every vertex a
    seed this is ``pagerank``."""
    with Supersteps(
        spark, max_iter, checkpoint_every, check_every, metrics,
        name="personalized_pagerank",
    ) as loop:
        return _pagerank(loop, edges, _JoinGather(), seeds, damping, tol)


def personalized_pagerank_fixed(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PPR — the SQL-unrollable oracle slice, ranks rounded
    to 9 decimals for cross-engine hash stability."""
    r = personalized_pagerank(
        spark, edges, seeds, damping=damping, tol=0.0, max_iter=iterations
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))
