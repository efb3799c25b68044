"""Vertex-state checkpointing with per-partition lineage — mid-run resume.

The SaveGLVBin/LoadGLVBin + .par.proj analog
(/root/reference/louvainmod/src/ParLV.cpp:398-434;
/root/reference/louvainmod/src/xilinxlouvain.cpp:270): the reference
serializes graph + vertex state + quality metric per partition and a
project file tying partitions to servers. Here each snapshot is a parquet
vertex-state table plus a ``_lineage.json`` sidecar carrying iteration
number, per-partition row counts, the convergence metric, and wall time —
enough to resume an interrupted PageRank/CC/LP run from the latest
snapshot and to audit convergence history.

Iceberg note: on a cluster with the Iceberg runtime these snapshots map
1:1 onto Iceberg table snapshots (lineage = snapshot summary properties);
this module keeps the same semantics on a plain filesystem so the sandbox
(no Iceberg jar) exercises identical code paths.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

_SNAP_DIR_RE = re.compile(r"^(iter|phase)=(\d+)$")


def _snap_number(dirname: str) -> int | None:
    """Parse ``iter=NNNNN`` / ``phase=NNNNN`` directory names; None for
    anything else (stray ``*.tmp`` files, partial writes) so directory
    scans never raise on non-snapshot entries."""
    m = _SNAP_DIR_RE.match(dirname)
    return int(m.group(2)) if m else None


def _sane_metric(metric: float | None) -> float | None:
    """Lineage sidecars are strict JSON: a superstep whose stop test did
    not run (None, plans/superstep.py) and a non-finite metric, which would
    serialize as the non-standard ``Infinity`` token, are both null."""
    if metric is None or not math.isfinite(metric):
        return None
    return float(metric)


def _write_json_atomic(path: str, obj: dict) -> None:
    """tmp-file + os.replace so a crash mid-write never leaves a truncated
    sidecar that would make a later resume parse garbage."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _read_json_or_none(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


class CheckpointManager:
    """Writes snapshots every ``every`` iterations under
    ``root/iter=NNNNN/`` with a lineage sidecar; ``latest()`` finds the
    newest complete snapshot for resume."""

    def __init__(self, spark: SparkSession, root: str, every: int = 5):
        self.spark = spark
        self.root = root
        self.every = every
        os.makedirs(root, exist_ok=True)

    def _dir(self, iteration: int) -> str:
        return os.path.join(self.root, f"iter={iteration:05d}")

    def _invalidate_after(self, iteration: int) -> None:
        """Delete snapshots numbered above ``iteration``: when a root is
        reused by a run that has progressed less far than a previous run,
        ``latest()`` must not resurrect the old run's later snapshot (it
        belongs to a different lineage)."""
        if not os.path.isdir(self.root):
            return
        for d in os.listdir(self.root):
            n = _snap_number(d)
            if d.startswith("iter=") and n is not None and n > iteration:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def save(self, iteration: int, state: DataFrame, metric: float | None) -> str:
        t0 = time.monotonic()
        path = self._dir(iteration)
        self._invalidate_after(iteration)
        state.write.mode("overwrite").parquet(path)
        per_part = (
            self.spark.read.parquet(path)
            .groupBy(F.spark_partition_id().alias("partition"))
            .count()
            .collect()
        )
        lineage = {
            "iteration": iteration,
            "metric": _sane_metric(metric),
            "rows_per_partition": {str(r["partition"]): r["count"] for r in per_part},
            "n_rows": sum(r["count"] for r in per_part),
            "wall_s": time.monotonic() - t0,
            "schema": state.schema.json(),
            "complete": True,
        }
        _write_json_atomic(os.path.join(path, "_lineage.json"), lineage)
        return path

    def maybe_save(self, iteration: int, state: DataFrame, metric: float | None):
        if self.every and iteration % self.every == 0:
            return self.save(iteration, state, metric)
        return None

    def snapshots(self) -> list[dict]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for d in sorted(os.listdir(self.root)):
            lin = _read_json_or_none(os.path.join(self.root, d, "_lineage.json"))
            if lin is not None:
                out.append(lin)
        return out

    def latest(self) -> dict | None:
        snaps = [s for s in self.snapshots() if s.get("complete")]
        return snaps[-1] if snaps else None

    def load(self, iteration: int | None = None) -> tuple[DataFrame, dict] | None:
        """Load the given (or latest) snapshot: (state DataFrame, lineage)."""
        if iteration is None:
            lin = self.latest()
            if lin is None:
                return None
        else:
            lin = _read_json_or_none(
                os.path.join(self._dir(iteration), "_lineage.json")
            )
            if lin is None:
                return None
        df = self.spark.read.parquet(self._dir(lin["iteration"]))
        return df, lin


class PhaseCheckpoint:
    """Per-PHASE Louvain snapshots — the reference saves a GLV binary
    (graph + community array + Q) after every phase and can rerun from it
    (/root/reference/louvainmod/src/ParLV.cpp:398-434, per-partition
    ``<name>_000.par`` files + ``.par.proj``). A snapshot here is three
    parquet tables under ``root/phase=NN/`` — the contracted edge table
    entering the next phase, the composed original→community mapping in
    that contracted id space, and the best mapping seen so far — plus a
    ``_phase.json`` sidecar with phase number, Q, best-Q and wall time."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, phase: int) -> str:
        return os.path.join(self.root, f"phase={phase:03d}")

    def save(
        self,
        phase: int,
        g: DataFrame,
        mapping: DataFrame,
        best_mapping: DataFrame,
        q: float,
        best_q: float,
    ) -> str:
        t0 = time.monotonic()
        d = self._dir(phase)
        # invalidate later-phase dirs BEFORE writing: a reused root whose
        # previous run reached phase N>phase would otherwise win load()'s
        # highest-complete-phase pick and resume a foreign lineage
        if os.path.isdir(self.root):
            for other in os.listdir(self.root):
                n = _snap_number(other)
                if other.startswith("phase=") and n is not None and n > phase:
                    shutil.rmtree(os.path.join(self.root, other), ignore_errors=True)
        g.write.mode("overwrite").parquet(os.path.join(d, "edges"))
        mapping.write.mode("overwrite").parquet(os.path.join(d, "mapping"))
        best_mapping.write.mode("overwrite").parquet(
            os.path.join(d, "best_mapping")
        )
        meta = {
            "phase": phase,
            "q": q,
            "best_q": best_q,
            "wall_s": time.monotonic() - t0,
            "complete": True,
        }
        _write_json_atomic(os.path.join(d, "_phase.json"), meta)
        return d

    def snapshots(self) -> list[dict]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for d in sorted(os.listdir(self.root)):
            meta = _read_json_or_none(os.path.join(self.root, d, "_phase.json"))
            if meta is not None:
                out.append(meta)
        return out

    def load(
        self, phase: int | None = None
    ) -> tuple[DataFrame, DataFrame, DataFrame, dict] | None:
        """(contracted edges, mapping, best_mapping, meta) of the given or
        latest complete phase snapshot."""
        snaps = [s for s in self.snapshots() if s.get("complete")]
        if phase is not None:
            snaps = [s for s in snaps if s["phase"] == phase]
        if not snaps:
            return None
        meta = snaps[-1]
        d = self._dir(meta["phase"])
        return (
            self.spark.read.parquet(os.path.join(d, "edges")),
            self.spark.read.parquet(os.path.join(d, "mapping")),
            self.spark.read.parquet(os.path.join(d, "best_mapping")),
            meta,
        )
