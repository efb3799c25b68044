"""One superstep loop for the iterative vertex-state operators.

An operator supplies a step (state → new state) and a stop test on the
truncated new state; ``Supersteps`` owns the lineage truncation, the
stop-test cadence, the metrics rows, the checkpointer hook and the
warning when the cap cuts a run. The loop sets no Spark job group;
whoever profiles the run owns those. ``static_side`` builds the
operator's static join side; ``count_where`` and ``Unchanged`` are the
shared stop tests.
"""

from __future__ import annotations

import time
import warnings
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from graphanalytics_spark.plans.truncate import LineageTruncator


@dataclass
class IterationMetrics:
    """Per-iteration convergence metrics — the engine's analog of the
    reference's per-phase FeatureLV records
    (/root/reference/louvainmod/include/xilinxlouvainInternal.h:235-253).
    ``delta`` is None for a superstep whose stop test did not run."""

    rows: list = field(default_factory=list)

    def add(
        self, iteration: int, delta: float | None, edges_traversed: int, wall_s: float
    ):
        self.rows.append(
            {
                "iteration": iteration,
                "delta": delta,
                "edges_traversed": edges_traversed,
                "wall_s": wall_s,
            }
        )

    @property
    def total_edges_traversed(self) -> int:
        return sum(r["edges_traversed"] for r in self.rows)

    @property
    def iterations(self) -> int:
        return len(self.rows)


def static_side(
    df: DataFrame,
    key: str = "src",
    build: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, int]:
    """(static side, row count): the detached ``df`` hash-partitioned on
    ``key`` to the session's shuffle partitions, passed through ``build``
    (whose aggregations and joins on ``key`` reuse that partitioning),
    persisted and counted. Each superstep's gather then reads it in place
    and exchanges only the vertex state."""
    spark = df.sparkSession
    try:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        partitions = spark.sparkContext.defaultParallelism
    out = df.repartition(partitions, key)
    if build is not None:
        out = build(out)
    out = out.persist()
    return out, out.count()


def count_where(predicate: str) -> Callable[[DataFrame], tuple[float, bool]]:
    """Stop test of a step that flags the vertices still in play, e.g.
    ``"changed"`` (CC, LPA, SSSP, louvain) or ``"in_set IS NULL"`` (MIS):
    (rows matching ``predicate``, none match)."""

    def stop(state: DataFrame) -> tuple[float, bool]:
        n = state.filter(predicate).count()
        return float(n), n == 0

    return stop


class Unchanged:
    """Stop test on a scalar ``measure`` of the state: (its change since
    the last check, unchanged for ``r`` consecutive checks). ``values``
    holds every measure, ``first`` included."""

    def __init__(self, measure: Callable[[DataFrame], float], first: float, r: int = 1):
        self.measure, self.r, self.flat, self.values = measure, r, 0, [first]

    def __call__(self, state: DataFrame) -> tuple[float, bool]:
        self.values.append(self.measure(state))
        delta = abs(self.values[-1] - self.values[-2])
        self.flat = self.flat + 1 if delta == 0 else 0
        return float(delta), self.flat >= self.r


@dataclass
class Supersteps:
    """Cadence, metrics and checkpoint policy of one operator run.

    Build it before the operator persists anything: a ``checkpoint_every``
    (hard-reset cadence) or ``check_every`` (stop-test cadence) below 1 is
    rejected before any job runs. ``name`` and ``cap`` (the operator's
    name for ``max_iter``) word the truncation warning."""

    spark: SparkSession
    max_iter: int
    checkpoint_every: int
    check_every: int = 1
    metrics: IterationMetrics | None = None
    checkpointer: object = None
    name: str = "operator"
    cap: str = "max_iter"

    def __post_init__(self):
        if self.check_every < 1:
            raise ValueError(
                "check_every (the stop-test cadence) must be >= 1 superstep, "
                f"got {self.check_every}"
            )
        self.truncator = LineageTruncator(self.spark, hard_every=self.checkpoint_every)

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        stop: Callable[[DataFrame], tuple[float, bool]] | None,
        edges: int | Callable[[], int],
        view: Callable[[DataFrame], DataFrame] = lambda s: s,
    ) -> tuple[DataFrame, int, bool]:
        """Run supersteps from ``state``: (last state, supersteps run,
        converged).

        ``stop`` runs every ``check_every`` supersteps and on the last one,
        and returns (delta, converged); None runs exactly ``max_iter``
        supersteps and never warns. A superstep whose stop test did not run
        records delta None, in its metrics row and snapshot sidecar.
        ``edges`` is a metrics row's edge count, or a function read after
        the stop test (a shrinking edge set). ``view`` is the state as
        snapshots store it."""
        it, delta, converged = 0, None, False
        for it in range(1, self.max_iter + 1):
            t0 = time.monotonic()
            # every superstep is truncated. Batching two supersteps per
            # truncation won ~30% on scheduling-bound PageRank at sf0.1,
            # but the untruncated odd state is read twice by the next
            # superstep (gather + merge), so on the ×24 graph every even
            # superstep re-ran the odd gather over 57M edges (10-30 s vs a
            # 1.7 s steady state): 4× slower where work dominates.
            state = self.truncator.truncate(step(state), it, stream="state")
            delta = None
            if stop is not None and (it % self.check_every == 0 or it == self.max_iter):
                delta, converged = stop(state)
            if self.metrics is not None:
                n_edges = edges() if callable(edges) else edges
                self.metrics.add(it, delta, n_edges, time.monotonic() - t0)
            if self.checkpointer is not None:
                self.checkpointer.maybe_save(it, view(state), delta)
            if converged:
                break
        if delta is not None and not converged:
            warnings.warn(
                f"{self.name} stopped at {self.cap}={self.max_iter} before "
                f"converging (last delta {delta}): the result is cut short. "
                f"Raise {self.cap}.",
                RuntimeWarning,
                stacklevel=3,
            )
        return state, it, converged
