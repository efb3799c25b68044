"""Louvain community detection tests: known-optimum tiny graph + planted
islands recovery (the reference's louvain_test.cpp strategy: assert
modularity of the result, /root/reference/louvainmod/tests/louvain_test.cpp:17-40
with the islands generator islands.h:19-52)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from graphanalytics_spark import fixtures, graph
from graphanalytics_spark.operators import louvain, modularity


def test_louvain_two_triangles(spark):
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    mets = []
    comm = louvain.louvain(spark, ec, metrics=mets)
    labels = {r.vid: r.community for r in comm.collect()}
    # optimal split: the two triangles
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4] == labels[5]
    assert labels[0] != labels[3]
    q = modularity.modularity(
        spark, ec, comm.select("vid", F.col("community").alias("label"))
    )
    assert q == pytest.approx(0.35714285714, abs=1e-6)


def _islands(n_islands=6, size=8, p_in=0.9, seed=11):
    """Planted-community generator (islands.h analog): dense intra-island
    edges, one ring of weak bridges between islands."""
    rng = np.random.default_rng(seed)
    edges = []
    for isl in range(n_islands):
        base = isl * size
        for i in range(size):
            for j in range(i + 1, size):
                if rng.random() < p_in:
                    edges.append((base + i, base + j))
        # one bridge to the next island
        edges.append((base, ((isl + 1) % n_islands) * size))
    return edges, n_islands, size


def test_louvain_recovers_islands(spark):
    pairs, n_islands, size = _islands()
    ec = graph.canonicalize(fixtures.edges_df(spark, pairs))
    mets = []
    comm = louvain.louvain(spark, ec, metrics=mets)
    labels = {r.vid: r.community for r in comm.collect()}
    # each island should be a single community
    for isl in range(n_islands):
        base = isl * size
        island_labels = {labels[base + i] for i in range(size)}
        assert len(island_labels) == 1, f"island {isl} split: {island_labels}"
    # and distinct islands get distinct communities (bridges are weak)
    assert len({labels[isl * size] for isl in range(n_islands)}) == n_islands
    # Q improves monotonically across recorded phases up to the best
    assert mets[0]["Q"] > 0.5
    # achieved Q equals the planted partition's Q from the independent
    # numpy oracle (the reference's islands-test shape,
    # louvainmod/tests/islands.h:19-52): exact recovery ⇒ exact Q
    from tests.oracles import modularity_np

    planted = {isl * size + i: isl for isl in range(n_islands) for i in range(size)}
    canon = [(r.src, r.dst, r.weight) for r in ec.collect()]
    q_planted = modularity_np(canon, planted)
    q_best = max(m["Q"] for m in mets)
    assert q_best == pytest.approx(q_planted, abs=1e-9)


def _clique_hierarchy(n_groups=4, cliques_per_group=3, clique_size=4):
    """Two-level planted structure: cliques (level-1 communities) densely
    bridged within groups (level-2 communities), weak ring between groups.
    Recovering the groups REQUIRES a correct phase-2 contraction +
    original→community remap — a regression fixture for the multi-phase
    mapping-compose path (ADVICE r1: remap must join on label value, not on
    the eponymous vertex id)."""
    edges = []
    k = cliques_per_group * clique_size
    for g in range(n_groups):
        for c in range(cliques_per_group):
            base = g * k + c * clique_size
            for i in range(clique_size):
                for j in range(i + 1, clique_size):
                    edges.append((base + i, base + j))
        # dense-ish bridges between cliques of the same group
        for c in range(cliques_per_group):
            for c2 in range(c + 1, cliques_per_group):
                b1, b2 = g * k + c * clique_size, g * k + c2 * clique_size
                edges.append((b1, b2))
                edges.append((b1 + 1, b2 + 1))
        # one weak bridge to the next group
        edges.append((g * k, ((g + 1) % n_groups) * k))
    return edges, n_groups, k


def test_louvain_multiphase_remap(spark):
    pairs, n_groups, k = _clique_hierarchy()
    ec = graph.canonicalize(fixtures.edges_df(spark, pairs))
    mets = []
    comm = louvain.louvain(spark, ec, metrics=mets, max_phases=6)
    labels = {r.vid: r.community for r in comm.collect()}
    # multi-phase must actually have happened for this to regress-test the
    # cross-phase remap
    assert len(mets) >= 2, f"expected >=2 phases, got {mets}"
    # every group is one community; distinct groups distinct communities
    for g in range(n_groups):
        got = {labels[g * k + i] for i in range(k)}
        assert len(got) == 1, f"group {g} split: {got}"
    assert len({labels[g * k] for g in range(n_groups)}) == n_groups
    # returned mapping's Q must equal the best recorded phase Q
    q = modularity.modularity(
        spark, ec, comm.select("vid", F.col("community").alias("label"))
    )
    assert q == pytest.approx(max(m["Q"] for m in mets), abs=1e-9)
    # per-phase wall time recorded (FeatureLV analog)
    assert all(m["wall_s"] > 0 for m in mets)


def test_louvain_no_oscillation_when_stay_is_best(spark):
    """Stay-gain regression (ADVICE r1): a vertex with no neighbor in its
    current community must use the true stay baseline, not −∞ — otherwise
    rounds oscillate to the cap. Two triangles + bridge converges in a few
    rounds, far under the cap."""
    ec = graph.canonicalize(fixtures.edges_df(spark, fixtures.TWO_TRIANGLES_BRIDGE))
    mets = []
    louvain.louvain(spark, ec, metrics=mets, max_rounds_per_phase=20)
    assert mets[0]["rounds"] < 12, f"oscillation suspected: {mets}"


def test_louvain_min_graph_size_stop(spark):
    pairs, n_islands, size = _islands()
    ec = graph.canonicalize(fixtures.edges_df(spark, pairs))
    mets = []
    louvain.louvain(spark, ec, metrics=mets, min_graph_size=1000)
    # graph (48 vertices) is already under the floor → exactly one phase
    assert len(mets) == 1


def test_louvain_phase_checkpoint_resume_identical(spark, tmp_path):
    """Kill-and-resume at the phase boundary: a run resumed from the
    phase-1 snapshot must reproduce the uninterrupted run's final mapping
    exactly (every phase is deterministic given the seed) — the per-phase
    GLV save/load analog (ParLV.cpp:398-434)."""
    from graphanalytics_spark import fixtures, graph
    from graphanalytics_spark.operators import louvain as lv
    from graphanalytics_spark.plans.checkpoint import PhaseCheckpoint

    edges, _, _ = _islands(n_islands=5, size=6)
    ec = graph.canonicalize(fixtures.edges_df(spark, edges))
    full = sorted(
        (r.vid, r.community)
        for r in lv.louvain(spark, ec, max_phases=4, seed=7).collect()
    )
    # interrupted run: snapshot every phase, stop after phase 1
    cp = PhaseCheckpoint(spark, str(tmp_path / "lv_ckpt"))
    lv.louvain(spark, ec, max_phases=1, seed=7, phase_checkpointer=cp)
    snaps = cp.snapshots()
    assert snaps and snaps[-1]["phase"] == 1 and snaps[-1]["complete"]
    assert snaps[-1]["best_q"] > 0
    # resume and finish
    resumed = sorted(
        (r.vid, r.community)
        for r in lv.louvain(
            spark, ec, max_phases=4, seed=7, phase_checkpointer=cp, resume=True
        ).collect()
    )
    assert resumed == full


def _triangle_ring_plus_isolated_triangle(n=40):
    """A ring of ``n`` triangles and one triangle (1000-1002) with no edge
    to the ring: from phase 2 on its community is a vertex whose only
    edge is a self-loop."""
    edges = []
    for t in range(n):
        a, b, c = 3 * t, 3 * t + 1, 3 * t + 2
        edges += [(a, b), (b, c), (a, c), (c, 3 * ((t + 1) % n))]
    return edges + [(1000, 1001), (1001, 1002), (1000, 1002)]


def test_louvain_keeps_self_loop_only_communities(spark):
    """Every input vertex is returned exactly once, also when a later
    phase sees a community with no edge to another one, and the best
    phase Q is the returned mapping's Q on the original graph."""
    from tests.oracles import modularity_np

    ec = graph.canonicalize(
        fixtures.edges_df(spark, _triangle_ring_plus_isolated_triangle())
    )
    mets = []
    rows = louvain.louvain(spark, ec, metrics=mets, max_phases=4).collect()
    assert len(mets) >= 2, mets
    vids = [r.vid for r in rows]
    canon = [(r.src, r.dst, r.weight) for r in ec.collect()]
    assert sorted(vids) == sorted({v for e in canon for v in e[:2]})
    labels = {r.vid: r.community for r in rows}
    assert max(m["Q"] for m in mets) == pytest.approx(
        modularity_np(canon, labels), abs=1e-12
    )


def test_louvain_last_phase_does_not_contract(spark, monkeypatch):
    """Without a checkpointer, a contraction after the last phase has no
    reader: a one-phase run never renumbers or contracts."""

    def unexpected(*args, **kwargs):
        raise AssertionError("contracted after the last phase")

    monkeypatch.setattr(louvain, "contract_graph", unexpected)
    monkeypatch.setattr(louvain, "renumber_map", unexpected, raising=False)
    pairs, _, _ = _islands()
    ec = graph.canonicalize(fixtures.edges_df(spark, pairs))
    mets = []
    assert louvain.louvain(spark, ec, metrics=mets, max_phases=1).count() == 48
    assert [m["phase"] for m in mets] == [1]
