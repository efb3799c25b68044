"""Link-graph benchmark for graphanalytics_spark.

Run from the repository root:

    python3 perfbench/run.py --workload repo_links --seed 1 --seconds 10 --trace 0

One driver process, one client, one workload (see ``workloads.py``) on
``local[nproc]`` with nproc shuffle partitions and a 2 GiB driver heap cap.
A run:

1. generates the workload's input tables from ``--seed`` (not timed);
2. starts the Spark session, sets up three times (read and persist the
   input, build and persist the edge table), then warms up with two
   PageRank supersteps on a sample. ``setup_s`` = session start + median
   set-up + warm-up;
3. repeats timed passes of the queries until ``--seconds`` have elapsed
   (at least one). ``wall_s`` and ``cpu_s`` are the medians over these
   passes of the summed query wall times and of the CPU time the driver
   and its JVM spent in the queries; each query's own times are in the
   detail line;
4. with ``--trace 1``, then runs a pass with every query under its own
   Spark job group and one more untraced pass, and reports per-layer stage
   counters from the traced one and the driver JVM's peak resident memory
   (VmHWM). Job and task counts
   repeat exactly between runs of a seed; stage counts can differ under
   AQE, so compare counts by jobs and tasks.

Every query's result is checked against a numpy/networkx oracle outside
the timed region; ``failed`` counts the calls that raised or failed their
check. The last stdout line is the JSON result; the line before it
carries per-query detail. Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA_SETUPS = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "wall_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
}

LAYERS = ("graph", "ingest", "pagerank", "components", "labelprop", "triangles", "louvain")
ITERATIVE = ("pagerank", "components", "labelprop", "louvain")
COUNTER_UNITS = {
    "wall_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "busy_ratio": "ratio",
    "supersteps": "count",
}
PER_LAYER = {
    **{
        f"{layer}.{c}": u
        for layer in LAYERS
        for c, u in COUNTER_UNITS.items()
        if c != "supersteps" or layer in ITERATIVE
    },
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "checkpoint.save_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.bytes_written": "B",
    "checkpoint.snapshots": "count",
    "trace.overhead": "ratio",
    "trace.collect_s": "s",
}


def summary(xs: list[float]) -> dict:
    """Median, sample count, and the highest percentile that has at least
    ten samples beyond it (none below eleven samples)."""
    xs = sorted(xs)
    out = {"median": statistics.median(xs), "n": len(xs)}
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = statistics.quantiles(xs, n=1000, method="inclusive")[
                int(p * 10) - 1
            ]
            break
    return out


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(run_dir: str) -> dict:
    """Scratch medium, temp dirs and memory pinned inside the run dir, so
    a tmpfs free-space check can never flip spill between disk and RAM
    partway through a series of runs."""
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "local", "trunc", "tmp", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_TMPFS="0",
        SPARK_GRAFT_LOCAL_DIR=dirs["local"],
        SPARK_GRAFT_TRUNC_DIR=dirs["trunc"],
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=dirs["tmp"],
    )
    tempfile.tempdir = dirs["tmp"]
    return dirs


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def _tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants
    (the driver JVM and the Python workers it forks), counting children
    they have reaped. The kernel does not charge time the hypervisor stole
    to a process, so steal on a busy host inflates this far less than it
    inflates wall time."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended during the scan
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, pp in parent.items() if pp == pid and c not in tree]
    return sum(ticks[p] for p in tree) / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Runner:
    def __init__(self, queries):
        self.queries = queries
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_pass(self, tracer) -> tuple[dict, list[dict]]:
        """One closed-loop pass: each query, then its check."""
        records = []
        with tracer.span("pass") as pass_span:
            for q in self.queries:
                self.attempted += 1
                result, err = None, None
                cpu0 = _tree_cpu_s()
                with tracer.span(q.name, layer=q.layer) as span:
                    try:
                        result = q.call()
                    except Exception:
                        err = traceback.format_exc()
                span["cpu_s"] = _tree_cpu_s() - cpu0
                if result is not None:
                    try:
                        q.check(result)
                    except Exception:
                        err = traceback.format_exc()
                if err:
                    self.failed += 1
                    self.errors.append(f"{q.name}: {err.strip().splitlines()[-1]}")
                    print(f"[perfbench] {q.name} failed:\n{err}", file=sys.stderr)
                records.append({"query": q, "span": span, "result": result or {}})
        return pass_span, records


def pass_total(records: list[dict], key: str = "wall_s") -> float:
    return sum(r["span"][key] for r in records)


def layer_metrics(records: list[dict], cores: int) -> dict:
    out = {k: 0 if u in ("count", "B") else 0.0 for k, u in PER_LAYER.items()}
    for r in records:
        s, layer = r["span"], r["query"].layer
        for c in COUNTER_UNITS:
            if c in s and f"{layer}.{c}" in out:
                out[f"{layer}.{c}"] += s[c]
        if f"{layer}.supersteps" in out:
            out[f"{layer}.supersteps"] += r["result"].get("supersteps", 0)
        for k, v in r["result"].get("checkpoint", {}).items():
            out[f"checkpoint.{k}"] += v
    for layer in LAYERS:
        wall = out[f"{layer}.wall_s"]
        out[f"{layer}.busy_ratio"] = out[f"{layer}.executor_run_s"] / (wall * cores) if wall else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphanalytics_spark", "__init__.py")):
        print(f"[perfbench] no graphanalytics_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from tracing import TRACE_CONF, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = _pin_environment(run_dir)
    oracles = wl.generate(args.seed, dirs["inputs"])

    from graphanalytics_spark.session import get_spark

    cores = _cores()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        **(TRACE_CONF if args.trace else {}),
    }
    cpu0 = _cpu_times()
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)
    session_start = time.monotonic() - t0
    try:
        setups, tables = [], None
        for _ in range(DATA_SETUPS):
            if tables:
                for df in tables.values():
                    df.unpersist(blocking=True)
            t0 = time.monotonic()
            tables = wl.setup(spark, dirs["inputs"])
            setups.append(time.monotonic() - t0)

        runner = Runner(wl.queries(spark, tables, oracles, dirs))
        run_id = f"{args.workload}-{args.seed}"
        plain = Tracer(run_id)
        t0 = time.monotonic()
        workloads.warm_up(spark, tables["edges"])
        warmup_s = time.monotonic() - t0

        passes, t0 = [], time.monotonic()
        while not passes or time.monotonic() - t0 < args.seconds:
            passes.append(runner.run_pass(plain)[1])

        if args.trace:
            # traced pass between two untraced ones, so JIT warming over the
            # run does not pass for tracing cost (or for a saving)
            tracer = Tracer(run_id, spark)
            traced = runner.run_pass(tracer)[1]
            after = runner.run_pass(plain)[1]
            t1 = time.monotonic()
            tracer.attach_counters()
            collect_s = time.monotonic() - t1
            write_spans(args, plain.spans + tracer.spans)

        e2e = {
            "wall_s": statistics.median(pass_total(p) for p in passes),
            "cpu_s": statistics.median(pass_total(p, "cpu_s") for p in passes),
            "setup_s": session_start + statistics.median(setups) + warmup_s,
        }

        if args.trace:
            values = layer_metrics(traced, cores)
            values["session.start_s"] = session_start
            values["session.peak_rss_mb"] = _peak_rss_mb()
            untraced = (pass_total(passes[-1]) + pass_total(after)) / 2
            values["trace.overhead"] = pass_total(traced) / untraced - 1
            values["trace.collect_s"] = collect_s
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

        # host contention: the share of this run's CPU time the hypervisor
        # reported as stolen, and the load average at its end
        ticks = [b - a for a, b in zip(cpu0, _cpu_times())]
        host = {"steal_share": ticks[7] / max(sum(ticks), 1), "loadavg": os.getloadavg()}
        info = detail(args, cores, session_start, setups, warmup_s, passes, runner)
        print(json.dumps({**info, "host": host}))
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
    finally:
        _stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def detail(args, cores, session_start, setups, warmup_s, passes, runner) -> dict:
    import pyspark

    per_query: dict = {}
    extra: dict = {}
    iter_walls: list[float] = []
    for p in passes:
        for r in p:
            per_query.setdefault(r["query"].name, []).append(r["span"]["wall_s"])
            if "detail" in r["result"]:
                extra[r["query"].name] = r["result"]["detail"]
            if r["query"].layer == "pagerank":
                iter_walls += r["result"].get("iter_walls", [])
    return {
        "detail": args.workload,
        "seed": args.seed,
        "environment": {
            "master": f"local[{cores}]",
            "shuffle_partitions": cores,
            "driver_memory": DRIVER_MEM,
            "scratch": "disk, under perfbench/.work (tmpfs off)",
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        },
        "session_start_s": session_start,
        "data_setups_s": setups,
        "warmup_s": warmup_s,
        "peak_rss_mb": _peak_rss_mb(),
        "timed_passes": len(passes),
        "queries": {k: summary(v) for k, v in per_query.items()},
        "query_detail": extra,
        "pagerank_iteration_s": summary(iter_walls) if iter_walls else None,
        "error_rate": runner.failed / max(runner.attempted, 1),
        "errors": runner.errors,
    }


def write_spans(args, spans: list[dict]) -> None:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
