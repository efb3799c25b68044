"""Core edge-table model and graph utilities.

The universal interchange record is the COO edge row
``(src: long, dst: long, weight: double)`` — the Spark analog of the
reference's ``struct Edge { long head; long tail; double weight; }``
(/root/reference/louvainmod/include/xilinxlouvain.h:128-137). Graphs are
stored undirected-once (src < dst canonical orientation) and symmetrized on
demand; there is never a global in-memory CSR — per-partition CSR blocks
are built inside Arrow UDFs where an algorithm needs them (see
operators/pagerank.py).

Scale notes (100 TB): every helper here is a pure DataFrame expression, so
filters/projections push down to the parquet/Iceberg scan and joins go
through AQE. ``degrees`` uses plain hash aggregation (map-side partial
aggregation handles hub skew); callers that aggregate *values* onto hub
vertices should use ``salted_sum`` below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

EDGE_COLS = ("src", "dst", "weight")


def canonicalize(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge as src<dst, drop self-loops, sum parallel
    edge weights (the ``removeEdges`` dedup analog,
    /root/reference/grappolo (defs.h:151))."""
    e = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    ).filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: every edge appears in both directions (the
    reference stores every edge twice in CSR adjacency,
    /root/reference/louvainmod/include/xilinxlouvainInternal.h:88).
    Input must be canonical (src<dst, no dups)."""
    return edges.select("src", "dst", "weight").union(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing in the edge table."""
    return (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )


def degrees(edges_sym: DataFrame) -> DataFrame:
    """Per-vertex degree + weighted degree over a symmetrized edge table
    (``sumVertexDegree`` analog,
    /root/reference/grappolo/src/utilityClusteringFunctions.cpp:46-59)."""
    return edges_sym.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("degree"),
        F.sum("weight").alias("wdegree"),
    )


def degree_stats(edges_sym: DataFrame) -> DataFrame:
    """Global NV/NE/min/max/avg degree report
    (``displayGraphCharacteristics`` analog,
    /root/reference/grappolo/src/utilityFunctions.cpp:75)."""
    d = degrees(edges_sym)
    return d.agg(
        F.count("*").alias("n_vertices"),
        (F.sum("degree") / F.lit(2)).cast("long").alias("n_edges"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
        (F.sum("degree") / F.count("*")).alias("avg_degree"),
    )


def degree_histogram(edges_sym: DataFrame) -> DataFrame:
    """Log2-bucketed degree histogram (bucket k holds degrees in
    [2^k, 2^{k+1})) — the skew diagnostic that decides salting/AQE
    settings before a 100 TB run; the distribution-report analog of the
    reference's displayGraphCharacteristics
    (/root/reference/grappolo/src/utilityFunctions.cpp:75)."""
    d = degrees(edges_sym)
    return (
        d.select(F.floor(F.log2("degree")).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vertices"))
    )


def degree_assortativity(edges_sym: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Pearson correlation of endpoint
    degrees over the symmetrized edge set; Newman 2002), one row:
    (n_edge_ends, assortativity).

    The five sufficient statistics (Σx, Σy, Σxy, Σx², Σy² over directed
    edge ends) are summed as exact DECIMAL(38,0) — at web scale
    n·Σx² overflows int64 and float sums are partition-order dependent —
    so the final double division is the only inexact step (rounded to 6
    for cross-engine hash stability). Positive ⇒ hubs link to hubs;
    strongly negative on hub-and-spoke link graphs — with
    ``degree_histogram`` this is the skew diagnostic pair that chooses
    salting/AQE settings before a 100 TB run."""
    # both endpoint joins read the degree table; materialized once (V
    # rows) so the E-sized aggregation behind it runs one pass, not two
    deg = edges_sym.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    ends = (
        edges_sym.select("src", "dst")
        .join(deg.select(F.col("vid").alias("src"), F.col("deg").alias("dx")), "src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("dy")), "dst")
    )
    s = ends.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        F.round(num / F.sqrt(varx * vary), 6).alias("assortativity"),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity, one row:
    (n_edges, n_reciprocal, reciprocity).

    Fraction of directed (src→dst) pairs whose reverse (dst→src) also
    exists — the standard web/link-graph symmetry statistic. Self-loops
    are excluded; duplicate rows count once. One distinct + one
    self-equi-join on the canonical pair (both sides hash-partitioned on
    the same key, so no second shuffle at scale)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    counts = e.agg(F.count("*").alias("n_edges")).crossJoin(
        recip.agg(F.count("*").alias("n_reciprocal"))
    )
    return counts.select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("n_reciprocal") / F.col("n_edges"),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("reciprocity"),
    )


def isolate_vertices(edges: DataFrame, removed: DataFrame) -> DataFrame:
    """Remove a vertex set from the graph (``GraphCSR::isolateVertex``
    analog, /root/reference/mis/include/xilinxmis.hpp:86-106): anti-join on
    both endpoints."""
    # both anti-join branches read the removed set; materialized once so
    # a removed-set derived from a degree scan computes one pass, not two
    r = removed.select(F.col(removed.columns[0]).alias("vid")).localCheckpoint(
        eager=True
    )
    return edges.join(r, edges.src == r.vid, "left_anti").join(
        r, edges.dst == r.vid, "left_anti"
    )


def subgraph_range(edges: DataFrame, lo: int, hi: int) -> DataFrame:
    """Contiguous vertex-range slice (``CreateSubG``/``sim_getServerPar``
    analog, /root/reference/louvainmod/src/partitionLouvain.cpp:386) —
    pure predicate, so Catalyst partition-prunes the scan."""
    return edges.filter(F.col("src").between(lo, hi - 1) & F.col("dst").between(lo, hi - 1))


def vertex_following(edges_canon: DataFrame) -> DataFrame:
    """Collapse degree-1 vertices into their single neighbor
    (``vertexFollowing`` pre-pass analog,
    /root/reference/grappolo/src/vertexFollowing.cpp:46-88). Returns a
    mapping (vid, rep) where rep is the vertex it merges into (rep==vid for
    vertices that stay). Single pass, like the reference: a chain of
    degree-1 vertices collapses one link per application.

    Isolated-pair rule: when BOTH endpoints of an isolated edge have
    degree 1 they would merge into each other (a 2-cycle); the smaller id
    stays, matching the reference's sequential scan order (the earlier
    vertex claims the later one)."""
    sym = symmetrize(edges_canon)
    # read twice (self-join on only_neighbor); materialized once so the
    # E-sized degree aggregation runs one pass, not two
    deg = sym.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("degree"), F.min("dst").alias("only_neighbor")
    ).localCheckpoint(eager=True)
    nbr_deg = deg.select(
        F.col("vid").alias("only_neighbor"), F.col("degree").alias("nbr_degree")
    )
    merges = (
        F.col("degree") == 1
    ) & (
        (F.col("nbr_degree") > 1) | (F.col("only_neighbor") < F.col("vid"))
    )
    return deg.join(nbr_deg, "only_neighbor").select(
        "vid",
        F.when(merges, F.col("only_neighbor")).otherwise(F.col("vid")).alias("rep"),
    )


def vertex_following_contract(spark, edges_canon: DataFrame):
    """APPLY the vertex-following mapping (the step the reference pre-pass
    performs before Louvain, vertexFollowing.cpp:90-150): relabel both
    endpoints through (vid → rep), contract parallel edges, keep the
    self-loops created by the collapse (they carry the merged edge weight
    into the modularity bookkeeping). Returns
    ``(collapsed_edges, vid_to_cid)`` where collapsed_edges is a canonical
    edge table over dense contracted ids and vid_to_cid maps every original
    vertex into that id space. Compose a downstream community result back
    with ``compose_through``."""
    from graphanalytics_spark.operators.contraction import (
        contract_graph,
        renumber_labels,
        renumber_map,
    )

    labels = vertex_following(edges_canon).select(
        "vid", F.col("rep").alias("label")
    )
    ren = renumber_map(labels)  # one renumbering for both outputs
    collapsed = contract_graph(spark, edges_canon, labels, ren)
    v2c = renumber_labels(labels, ren)  # (vid, cid) over ALL original vertices
    return collapsed, v2c


def compose_through(v2c: DataFrame, result: DataFrame, value_col: str) -> DataFrame:
    """Pull a per-vertex result computed on a contracted graph back to the
    original id space: (vid, cid) ⋈ (vid=cid, value) → (vid, value)."""
    r = result.select(F.col("vid").alias("cid"), F.col(value_col))
    return v2c.join(r, "cid").select("vid", value_col)


def salted_sum(
    df: DataFrame, key: str, value: str, out: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: partial sum on
    (key, salt) then final sum on key. This is the engine's replacement for
    the reference's ghost pruning (bounding per-vertex cross-partition
    traffic, /root/reference/louvainmod/src/partitionLouvain.cpp:988-1110):
    instead of dropping hub neighbors we split the hub's incoming stream
    across ``salt_buckets`` reducers and combine.

    The salt hashes the row content PLUS the input partition id (NOT
    monotonically_increasing_id, whose values differ across task retries):
    deterministic under speculative execution and replays for a fixed input
    partitioning, and the partition-id component spreads even fully
    duplicate rows (e.g. millions of identical (hub, 1.0) contributions)
    across buckets instead of collapsing them onto one reducer.
    """
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.spark_partition_id(), *[F.col(c) for c in df.columns]),
            F.lit(salt_buckets),
        ),
    )
    partial = salted.groupBy(key, "_salt").agg(F.sum(value).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias(out))


def dense_ids(
    df: DataFrame, key_col: str, id_col: str = "id", partitions: int | None = None
) -> DataFrame:
    """(key, id) with id = dense 0..k-1 rank of the DISTINCT keys in sort
    order — identical to SQL ``dense_rank() OVER (ORDER BY key) - 1``, but
    distributed: an empty-over() window funnels every key through one task
    (fine at 10³ keys, a wall at 10⁸ — e.g. first-phase Louvain community
    labels or the repo dimension at 10^12 files). Two-pass prefix pattern:
    range-partition + sort the distinct keys, collect per-partition counts
    (tiny acks), prefix-sum into base offsets, assign id = base + local
    position (the renumbering analog of the reference's
    renumberClustersContiguously,
    /root/reference/grappolo/src/buildNextPhase.cpp:48-125)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    # eager localCheckpoint: both passes must see the identical
    # partitioning; blocks are freed by the ContextCleaner on GC
    srt = (
        df.select(F.col(key_col).alias("_key"))
        .distinct()
        .repartitionByRange(n_part, "_key")
        .sortWithinPartitions("_key")
        .localCheckpoint(eager=True)
    )

    def count_ack(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame({"pid": [pid], "n": [n]})

    acks = sorted(
        (r["pid"], r["n"])
        for r in srt.mapInPandas(count_ack, "pid int, n long").collect()
    )
    base, cum = {}, 0
    for pid, n in acks:
        base[pid] = cum
        cum += n

    key_type = df.schema[key_col].dataType.simpleString()

    def assign(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        off = base[pid]
        for pdf in batches:
            ids = np.arange(off, off + len(pdf), dtype=np.int64)
            off += len(pdf)
            yield pd.DataFrame({"_key": pdf["_key"].values, id_col: ids})

    return srt.mapInPandas(assign, f"_key {key_type}, {id_col} long").select(
        F.col("_key").alias(key_col), id_col
    )


# ---------------------------------------------------------------------------
# Bipartite model — the graphNew.sVertices analog
# ---------------------------------------------------------------------------
#
# The reference's graph struct carries a bipartite S/T vertex split in every
# graph it moves (`long sVertices; // bipartite S count (T = N - S)`,
# /root/reference/louvainmod/include/xilinxlouvainInternal.h:85-86), and its
# cosine-similarity product is inherently bipartite (entity × feature dense
# rows). In Spark a bipartite graph is an (s, t[, weight]) edge DataFrame —
# the split is a column, not a count — plus the two derived relations below.


def bipartite_stats(edges_st: DataFrame, s_col: str = "s", t_col: str = "t") -> DataFrame:
    """One-row (n_s, n_t, n_edges) — the sVertices/numVertices/numEdges
    header of the reference's bipartite graphs
    (/root/reference/louvainmod/include/xilinxlouvainInternal.h:84-91),
    computed as a single aggregation over the edge table."""
    return edges_st.agg(
        F.countDistinct(F.col(s_col)).alias("n_s"),
        F.countDistinct(F.col(t_col)).alias("n_t"),
        F.count("*").alias("n_edges"),
    )


def bipartite_project(
    edges_st: DataFrame,
    s_col: str = "s",
    t_col: str = "t",
    min_weight: float = 0.0,
    max_t_degree: int | None = None,
) -> DataFrame:
    """One-mode projection onto the S side: S-vertices are connected iff
    they share a T-neighbor, weight = number of shared T's (counting
    multiplicity). Canonical output (src < dst).

    Scale shape: a self-equi-join on the T key — quadratic only within a
    T-neighborhood, exactly the bucket-local economics of the LSH pair
    generators. ``max_t_degree`` is the corresponding hot-key guard: a T
    shared by d S-vertices emits d(d-1)/2 pairs, so one ubiquitous T (a
    stdlib-like hub) dominates the output; Ts above the cap carry no
    discriminative signal and are dropped before the join (the same
    rationale as the reference's ghost pruning of high-degree neighbors,
    /root/reference/louvainmod/src/partitionLouvain.cpp:988-1110).
    ``min_weight`` filters weak co-occurrences after aggregation."""
    st = edges_st.select(F.col(s_col).alias("s"), F.col(t_col).alias("t"))
    if max_t_degree is not None:
        keep = (
            st.groupBy("t")
            .agg(F.count("*").alias("_td"))
            .filter(F.col("_td") <= max_t_degree)
            .select("t")
        )
        st = st.join(keep, "t", "left_semi")
    a = st.select("t", F.col("s").alias("src"))
    b = st.select("t", F.col("s").alias("dst"))
    pairs = a.join(b, "t").filter(F.col("src") < F.col("dst"))
    out = pairs.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("weight")
    )
    if min_weight > 0:
        out = out.filter(F.col("weight") >= min_weight)
    return out


def similar_vertices(
    edges_canon: DataFrame,
    k: int = 10,
    metric: str = "jaccard",
    max_degree: int | None = 10_000,
) -> DataFrame:
    """Per-vertex top-K most similar vertices by *neighbor-set* overlap —
    the sparse-graph half of the reference's general-similarity kernel,
    which accepts both Jaccard and cosine over sparse adjacency rows
    (/root/reference/L1/include/hw/similarity/general_similarity.hpp:2980,
    jaccard-sparse paths :1424,1614; enums in similarity/enums.hpp). The
    engine's dense-embedding cosine covers the dense half
    (functions/similarity.py); this is the link-prediction form: "which
    vertices share the most neighbors".

    For a candidate pair (u, v) with c = |N(u) ∩ N(v)| common neighbors:
      jaccard = c / (deg(u) + deg(v) - c)
      cosine  = c / sqrt(deg(u) * deg(v))        (binary adjacency rows)
      weighted_cosine = Σ_n w_u(n)·w_v(n) / (‖w_u‖·‖w_v‖)
        — the reference kernel's actual sparse-row semantics: each
        vertex's adjacency row with edge weights as vector components
        (general_similarity.hpp weighted sparse paths); the sums run over
        shared neighbors only because other components multiply by 0.
    Output: (src, dst, common, sim) — each vertex's top-``k`` partners,
    ordered per-vertex by sim desc then dst asc (total order).

    Scale shape: the numerator is exactly ``bipartite_project``'s
    co-occurrence self-join with the *neighbor* as the bucket key —
    quadratic only within one vertex's neighborhood. ``max_degree`` is the
    mandatory-at-scale hot-key guard: a degree-d hub contributes d(d-1)/2
    candidate pairs, so hubs above the cap are dropped from the JOIN SIDES
    ONLY. It is CAPPED BY DEFAULT (10 000 — ≤ 5·10⁷ pairs per hub, the
    r4-verdict safe default: an uncapped mega-hub at web scale turns the
    self-join quadratic); pass ``max_degree=None`` explicitly to disable
    on graphs known hub-free. Hub paths carry no
    discriminative signal — the same join-side-only rationale as the ngram
    index's max_shingle_df cap, functions/dedup.py). Degrees — the
    denominators — are computed on the UNCAPPED graph, so every emitted
    similarity is exact for its surviving candidate pair. The per-vertex
    top-K window partitions by vertex id (V-way parallel); no cross
    product anywhere.
    """
    if metric not in ("jaccard", "cosine", "weighted_cosine"):
        raise ValueError(
            "metric must be 'jaccard', 'cosine' or 'weighted_cosine', "
            f"got {metric!r}"
        )
    weighted = metric == "weighted_cosine"
    sym = symmetrize(edges_canon)
    # The adjacency feeds FOUR plan branches (the degree aggregation and,
    # via the cap semi-join, both sides of the common-neighbor self-join),
    # and the degree table three more (the cap filter + both denominator
    # joins). Without materialization Catalyst re-derives the entire
    # upstream — at the warehouse-derived queries that is the full edge
    # derivation — once per branch: measured 91 Exchanges / 592 plan
    # lines with zero ReusedExchange (alias renames defeat exchange
    # reuse). Two eager localCheckpoints cap the upstream at one pass
    # (same duplicated-subtree fix as corpus_clean, guide §3.3; blocks
    # reclaimed by the ContextCleaner).
    adj = sym.select(
        F.col("src").alias("vid"), F.col("dst").alias("nbr"), "weight"
    ).localCheckpoint(eager=True)
    # degree/norm table over the UNCAPPED adjacency — denominators exact.
    # For integer edge weights (co-occurrence counts) the Σw² partial sums
    # are exact integers in double, so the result is shuffle-order
    # independent; real-valued weights would need a DECIMAL sum for the
    # cross-engine oracle discipline.
    aggs = [F.count("*").alias("deg")]
    if weighted:
        aggs.append(F.sum(F.col("weight") * F.col("weight")).alias("sq"))
    deg = adj.groupBy("vid").agg(*aggs).localCheckpoint(eager=True)
    join_adj = adj
    if max_degree is not None:
        keep = (
            deg.filter(F.col("deg") <= max_degree)
            .select(F.col("vid").alias("nbr"))
        )
        join_adj = join_adj.join(keep, "nbr", "left_semi")
    a = join_adj.select(
        "nbr", F.col("vid").alias("src"), F.col("weight").alias("w_src")
    )
    b = join_adj.select(
        "nbr", F.col("vid").alias("dst"), F.col("weight").alias("w_dst")
    )
    pair_aggs = [F.count("*").alias("common")]
    if weighted:
        pair_aggs.append(F.sum(F.col("w_src") * F.col("w_dst")).alias("dot"))
    common = (
        a.join(b, "nbr")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(*pair_aggs)
    )
    deg_cols = ["deg"] + (["sq"] if weighted else [])
    pairs = common.join(
        deg.select(
            F.col("vid").alias("src"),
            *[F.col(c).alias(f"{c}_src") for c in deg_cols],
        ),
        "src",
    ).join(
        deg.select(
            F.col("vid").alias("dst"),
            *[F.col(c).alias(f"{c}_dst") for c in deg_cols],
        ),
        "dst",
    )
    if metric == "jaccard":
        sim = F.col("common") / (
            F.col("deg_src") + F.col("deg_dst") - F.col("common")
        )
    elif metric == "cosine":
        sim = F.col("common") / F.sqrt(F.col("deg_src") * F.col("deg_dst"))
    else:
        sim = F.col("dot") / F.sqrt(F.col("sq_src") * F.col("sq_dst"))
    # rounded BEFORE the ranking window so the per-vertex order (and the
    # k-th-place cutoff) is reproducible across engines (oracle discipline)
    scored = pairs.select("src", "dst", "common", F.round(sim, 8).alias("sim"))
    both = scored.unionByName(
        scored.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "common", "sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    return (
        both.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Derive the engine's benchmark graph from the driver's ``lineitem``
    table: parts are vertices; an undirected edge (a,b), a<b, connects two
    parts that appear in the same order, weighted by co-occurrence count —
    the one-mode projection of the part×order bipartite graph
    (``bipartite_project``).

    This is the relational 'link extraction' the reference does with file
    parsers (SURVEY.md §2.1) — expressed as a self-equi-join so it is
    DuckDB-oracle-checkable. The self-join shuffles on l_orderkey (the
    natural key); at 100 TB the lineitem table would be bucketed by
    l_orderkey so this join is co-located and shuffle-free.
    """
    return bipartite_project(
        lineitem.select(
            F.col("l_partkey").alias("s"), F.col("l_orderkey").alias("t")
        )
    )
