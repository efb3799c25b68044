"""Checkpoint/lineage/resume tests — the SaveGLVBin/LoadGLVBin analog
(BASELINE.md: mid-run restart reproduces identical final output)."""

import numpy as np

from graphanalytics_spark import fixtures, graph
from graphanalytics_spark.operators import pagerank
from graphanalytics_spark.plans.checkpoint import CheckpointManager


def _graph(spark):
    # irregular: ring + chords on every third vertex + a hub, so PageRank
    # does NOT converge immediately (a regular graph is stationary at init)
    edges, n = [], 40
    for i in range(n):
        edges.append((i, (i + 1) % n))
        if i % 3 == 0:
            edges.append((i, (i + 7) % n))
        if i % 5 == 0:
            edges.append((i, 0))
    return graph.symmetrize(
        graph.canonicalize(fixtures.edges_df(spark, edges))
    )


def test_checkpoint_lineage_written(spark, tmp_path):
    sym = _graph(spark)
    cm = CheckpointManager(spark, str(tmp_path / "ckpt"), every=2)
    pagerank.pagerank(spark, sym, tol=1e-6, max_iter=6, checkpointer=cm)
    snaps = cm.snapshots()
    assert len(snaps) >= 2
    for s in snaps:
        assert s["complete"] and s["n_rows"] == 40
        assert "metric" in s and s["metric"] >= 0
        assert sum(s["rows_per_partition"].values()) == 40


def test_unchecked_superstep_snapshot_records_no_metric(spark, tmp_path):
    """A snapshot taken on a superstep whose stop test did not run records
    ``metric: null`` rather than an earlier superstep's delta, and so does
    its metrics row; checked supersteps record their own delta."""
    sym = _graph(spark)
    cm = CheckpointManager(spark, str(tmp_path / "ckpt_unchecked"), every=3)
    m = pagerank.IterationMetrics()
    pagerank.pagerank(
        spark, sym, tol=1e-9, max_iter=4, checkpointer=cm, check_every=2, metrics=m
    )
    (snap,) = cm.snapshots()
    assert snap["iteration"] == 3 and snap["metric"] is None
    assert [r["delta"] is None for r in m.rows] == [True, False, True, False]


def test_cc_kill_and_resume_identical(spark, tmp_path):
    from graphanalytics_spark.operators import components

    edges = [(i, (i + 1)) for i in range(0, 60, 2)]  # 30 tiny chains... no:
    # build two long paths so CC needs several iterations
    edges = [(i, i + 1) for i in range(0, 29)] + [(i, i + 1) for i in range(30, 59)]
    ec = fixtures.edges_df(spark, edges)
    full = {
        r.vid: r.component
        for r in components.connected_components(spark, ec).collect()
    }
    cm = CheckpointManager(spark, str(tmp_path / "cc_ckpt"), every=1)
    components.connected_components(spark, ec, max_iter=2, checkpointer=cm)
    state, lineage = cm.load()
    assert lineage["iteration"] == 2
    resumed = {
        r.vid: r.component
        for r in components.connected_components(
            spark, ec, initial_state=state
        ).collect()
    }
    assert resumed == full


def test_lpa_kill_and_resume_identical(spark, tmp_path):
    from graphanalytics_spark.operators import labelprop

    sym_src = _graph(spark)  # symmetrized; LPA wants canonical — rebuild
    edges = [(i, (i + 1) % 40) for i in range(40)] + [
        (i, (i + 7) % 40) for i in range(0, 40, 3)
    ]
    ec = fixtures.edges_df(spark, edges)
    full = {
        r.vid: r.label
        for r in labelprop.label_propagation(spark, ec, max_iter=12).collect()
    }
    cm = CheckpointManager(spark, str(tmp_path / "lpa_ckpt"), every=1)
    labelprop.label_propagation(spark, ec, max_iter=3, checkpointer=cm)
    state, lineage = cm.load()
    assert lineage["iteration"] == 3
    resumed = {
        r.vid: r.label
        for r in labelprop.label_propagation(
            spark, ec, max_iter=9, initial_state=state
        ).collect()
    }
    assert resumed == full


def test_kill_and_resume_identical(spark, tmp_path):
    """Run to convergence; run again but 'killed' after 4 iterations, then
    resume from the latest snapshot — final ranks must match."""
    sym = _graph(spark)
    full = pagerank.pagerank(spark, sym, tol=1e-9, max_iter=40)
    fd = {r.vid: r["rank"] for r in full.collect()}

    cm = CheckpointManager(spark, str(tmp_path / "ckpt2"), every=2)
    pagerank.pagerank(spark, sym, tol=1e-9, max_iter=4, checkpointer=cm)

    state, lineage = cm.load()
    assert lineage["iteration"] == 4
    resumed = pagerank.pagerank(
        spark, sym, tol=1e-9, max_iter=40, initial_state=state
    )
    rd = {r.vid: r["rank"] for r in resumed.collect()}
    assert np.allclose(
        [fd[i] for i in sorted(fd)], [rd[i] for i in sorted(rd)], atol=1e-8
    )


def test_phase_checkpoint_invalidates_later_phases(spark, tmp_path):
    """Reused root: an earlier run reached phase 3; a new run saving phase 1
    must delete the stale phase-2/3 dirs so load() never resumes a foreign
    lineage (the r2 advisor finding)."""
    from graphanalytics_spark.plans.checkpoint import PhaseCheckpoint

    e = fixtures.edges_df(spark, [(0, 1), (1, 2)])
    m = spark.createDataFrame([(0, 0)], "vid long, community long")
    pc = PhaseCheckpoint(spark, str(tmp_path / "ph"))
    for ph in (1, 2, 3):
        pc.save(ph, e, m, m, q=0.1 * ph, best_q=0.1 * ph)
    assert [s["phase"] for s in pc.snapshots()] == [1, 2, 3]
    # new run, same root, crashes after phase 1
    pc2 = PhaseCheckpoint(spark, str(tmp_path / "ph"))
    pc2.save(1, e, m, m, q=0.05, best_q=0.05)
    snaps = pc2.snapshots()
    assert [s["phase"] for s in snaps] == [1]
    _, _, _, meta = pc2.load()
    assert meta["phase"] == 1 and abs(meta["q"] - 0.05) < 1e-12


def test_phase_checkpoint_tolerates_truncated_sidecar(spark, tmp_path):
    from graphanalytics_spark.plans.checkpoint import PhaseCheckpoint

    e = fixtures.edges_df(spark, [(0, 1)])
    m = spark.createDataFrame([(0, 0)], "vid long, community long")
    pc = PhaseCheckpoint(spark, str(tmp_path / "ph2"))
    pc.save(1, e, m, m, q=0.1, best_q=0.1)
    pc.save(2, e, m, m, q=0.2, best_q=0.2)
    # simulate a crash mid-write of phase 2's sidecar
    import os

    with open(os.path.join(str(tmp_path / "ph2"), "phase=002", "_phase.json"), "w") as f:
        f.write('{"phase": 2, "q":')
    snaps = pc.snapshots()  # must not raise
    assert [s["phase"] for s in snaps] == [1]
    _, _, _, meta = pc.load()
    assert meta["phase"] == 1


def test_iter_checkpoint_invalidates_later_iterations(spark, tmp_path):
    sym = _graph(spark)
    cm = CheckpointManager(spark, str(tmp_path / "re"), every=2)
    pagerank.pagerank(spark, sym, tol=1e-9, max_iter=6, checkpointer=cm)
    assert cm.latest()["iteration"] == 6
    # new run on the same root progresses only to iteration 2
    cm2 = CheckpointManager(spark, str(tmp_path / "re"), every=2)
    pagerank.pagerank(spark, sym, tol=1e-9, max_iter=2, checkpointer=cm2)
    assert cm2.latest()["iteration"] == 2
