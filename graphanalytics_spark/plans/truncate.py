"""Lineage truncation policy for iterative vertex-state loops.

Measured pathology (this drives the whole design): chaining
``localCheckpoint`` across rounds keeps the logical plan size constant but
JVM planning+checkpoint time still grows exponentially with chain length
in Spark 4.1 (Louvain round 12 on a 6-vertex graph: 186 s; CC iteration 4
at sf0.01: 124 s). A hard materialization (write parquet, read back)
resets whatever the checkpoint chain accumulates: the same loop runs
0.6-0.9 s/round indefinitely.

Policy: ``localCheckpoint`` every iteration (cheap, executor-local) plus a
hard parquet round-trip every ``hard_every`` iterations (bounded cost:
vertex-state is NV rows, written Snappy-parquet). On a cluster the hard
path doubles as the durable snapshot location; here it defaults to a
temp dir. This is the same cadence the reference uses for its GLV binary
checkpoints (/root/reference/louvainmod/src/ParLV.cpp:398-434).

``detach`` is the complementary cut for an operator's *input*: it drops
the caller's logical plan but keeps its RDD lineage, so it costs no
materialization and loses no fault tolerance.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


class LineageTruncator:
    def __init__(
        self,
        spark: SparkSession,
        hard_every: int = 4,
        base_dir: str | None = None,
    ):
        if hard_every < 1:
            raise ValueError(
                "checkpoint_every (the hard-reset cadence) must be >= 1 "
                f"superstep, got {hard_every}"
            )
        self.spark = spark
        self.hard_every = hard_every
        self._own_dir = base_dir is None
        # hard resets are transient per-run state (durable snapshots are
        # CheckpointManager's job), so prefer tmpfs when the host has one
        # WITH headroom (session.tmpfs_dir_if_roomy gate — same free-space
        # check as the shuffle scratch; opt-out SPARK_GRAFT_TMPFS=0) —
        # the parquet round-trip then costs memory bandwidth, not disk
        # I/O. SPARK_GRAFT_TRUNC_DIR pins the scratch root explicitly
        # (disk stays the fallback when tmpfs is absent/full/opted-out).
        import os

        from graphanalytics_spark.session import tmpfs_dir_if_roomy

        tmp_root = os.environ.get("SPARK_GRAFT_TRUNC_DIR") or tmpfs_dir_if_roomy()
        if tmp_root:
            os.makedirs(tmp_root, exist_ok=True)
        self.base_dir = base_dir or tempfile.mkdtemp(
            prefix="ga_trunc_", dir=tmp_root
        )
        if self._own_dir:
            atexit.register(self.cleanup)
        self._count = 0
        self._last_path: dict[str, str] = {}

    def truncate(
        self, df: DataFrame, iteration: int, stream: str | None = None
    ) -> DataFrame:
        """Return an equivalent DataFrame with truncated lineage.

        The soft path is ``localCheckpoint(eager=False)``. "Lazy" covers
        only the final stage: the call plans the superstep's physical plan,
        and under AQE planning runs every shuffle stage of it, so each
        superstep — checked or not — launches its shuffle jobs inside this
        call (they show as ``localCheckpoint at …`` jobs). What it defers
        is the result stage, which the next action on the returned frame
        (the stop test, or the next superstep's gather) computes and
        stores; Spark recomputes any partition a partial action skipped
        when the checkpoint finalizes, so laziness never changes semantics.

        ``stream`` opts into snapshot garbage collection: when a hard
        snapshot of the same stream lands, the previous one is DELETED —
        essential now that the default base_dir is tmpfs, where a long run
        would otherwise accumulate every superseded vertex-state copy in
        RAM. Only pass a stream when each snapshot fully supersedes the
        previous one (an iterative state loop); leave it None for tables
        that stay referenced across later truncations (e.g. Louvain's
        per-phase graph/mapping, which best_mapping may still point at)."""
        self._count += 1
        if iteration % self.hard_every == 0:
            path = f"{self.base_dir}/it_{iteration:06d}_{self._count}"
            df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
            if stream is not None:
                prev = self._last_path.get(stream)
                if prev and prev != path:
                    shutil.rmtree(prev, ignore_errors=True)
                self._last_path[stream] = path
            return out
        return df.localCheckpoint(eager=False)

    def cleanup(self):
        shutil.rmtree(self.base_dir, ignore_errors=True)


def detach(df: DataFrame) -> DataFrame:
    """The same rows as ``df`` under a leaf logical plan (a ``LogicalRDD``).

    Iterative operators call this once on their input. The caller's plan
    (often a long union/join chain, ~100k characters for an 8-way
    replicated co-purchase graph) otherwise rides inside every superstep's
    plan, and AQE re-renders it on every stage update
    (``AdaptiveSparkPlanExec.onUpdatePlan`` → ``explainString``): on small
    graphs that string building, not the executors, set the superstep
    floor.

    Unlike ``localCheckpoint`` nothing is materialized and no block is
    pinned: the RDD lineage of ``df`` is kept, so a lost partition (or an
    unpersisted source cache) is recomputed from it. Under AQE the call
    runs the shuffle stages of ``df``'s plan, as any ``df.rdd`` does; for
    a persisted or shuffle-free input it runs no job.

    The leaf carries ``df``'s planning statistics, as a
    ``localCheckpoint`` leaf does (``LogicalRDD.fromDataset``): a join or
    aggregate over it is planned from the same size estimate as over
    ``df`` itself, so a small input keeps its planning-time broadcast. It
    reports no partitioning, so callers keep their own repartition +
    persist of the static side.

    Built from the internal-row RDD: the public
    ``createDataFrame(df.rdd, schema)`` round-trips every row through
    ``Row`` objects, which made each scan of the result 2.2x slower
    (32 M rows on 4 cores: 2.7 s vs 1.2 s)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    logical_rdd = getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$")
    leaf = logical_rdd.__getattr__("MODULE$").fromDataset(
        jdf.queryExecution().toRdd(), jdf, False
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jdf.sparkSession(), leaf),
        df.sparkSession,
    )
