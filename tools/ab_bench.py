"""Interleaved A/B of the benchmark across two checkouts of this repo.

Runs ``perfbench/run.py`` from checkout A and checkout B in ABBA order
(pair 1 runs A then B, pair 2 runs B then A, ...) for N pairs on one
workload and seed, so drift on the host (load from neighbours, steal)
falls on both sides alike. For every end-to-end metric declared in A's
``BENCHMARK.json`` it prints each side's median and quartiles, B's median
over A's, and in how many pairs B beat A; then the same for each query's
wall (each run's per-query median, from the ``queries`` field of
``perfbench/run.py``'s detail line). Every run lasts the
``run_seconds`` that A's ``BENCHMARK.json`` declares. Each checkout runs
its own benchmark code against its own package; nothing in either tree
is changed beyond what ``perfbench/run.py`` writes under
``perfbench/.work``.

Usage (from the repository root; make the second checkout with
``git worktree add`` or ``git clone``):

    python3 tools/ab_bench.py --a ../parent --b . --workload copurchase_x8 \\
        --seed 11 --pairs 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run from ``tree``: its result line and detail line."""
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed in {tree} (exit {proc.returncode})")
    result = json.loads(lines[-1])
    return {
        "values": {k: m["value"] for k, m in result["metrics"].items()},
        "failed": result["failed"],
        "attempted": result["attempted"],
        "detail": json.loads(lines[-2]),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(metrics: list[dict], pairs: list[dict]) -> list[str]:
    out = [
        f"{'metric':<10} {'A median [q1, q3]':>26} {'B median [q1, q3]':>26} "
        f"{'B/A':>6} {'B wins':>7}"
    ]
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        a = [p["a"]["values"][name] for p in pairs]
        b = [p["b"]["values"][name] for p in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        out.append(
            f"{name:<10} {a2:>9.3f} [{a1:7.3f}, {a3:7.3f}] {b2:>9.3f} [{b1:7.3f}, {b3:7.3f}] "
            f"{b2 / a2 if a2 else float('nan'):>6.3f} {wins:>3}/{len(pairs):<3}"
        )
    queries = sorted(
        set.intersection(*(set(p[s]["detail"]["queries"]) for p in pairs for s in "ab"))
    )
    out.append(
        f"{'query wall_s':<28} {'A median':>9} {'B median':>9} {'B/A':>6} {'B wins':>7}"
    )
    for q in queries:
        a = [p["a"]["detail"]["queries"][q]["median"] for p in pairs]
        b = [p["b"]["detail"]["queries"][q]["median"] for p in pairs]
        wins = sum(y < x for x, y in zip(a, b))
        a2, b2 = statistics.median(a), statistics.median(b)
        out.append(
            f"{q:<28} {a2:>9.3f} {b2:>9.3f} "
            f"{b2 / a2 if a2 else float('nan'):>6.3f} {wins:>3}/{len(pairs):<3}"
        )
    fa = sum(p["a"]["failed"] for p in pairs)
    fb = sum(p["b"]["failed"] for p in pairs)
    out.append(f"failed: A {fa}, B {fb}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)

    trees = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    with open(os.path.join(trees["a"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    pairs = []
    for i in range(args.pairs):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        pair = {}
        for side in order:
            r = run_once(trees[side], args.workload, args.seed, seconds)
            pair[side] = r
            shown = " ".join(f"{m['name']}={r['values'][m['name']]:.2f}" for m in metrics)
            print(
                f"[ab] pair {i + 1}/{args.pairs} {side.upper()}: {shown} "
                f"failed={r['failed']} steal={r['detail']['host']['steal_share']:.3f}",
                file=sys.stderr,
                flush=True,
            )
        pairs.append(pair)

    print(
        f"{args.workload} seed {args.seed}, {len(pairs)} ABBA pairs\n"
        f"A = {trees['a']}\nB = {trees['b']}"
    )
    print("\n".join(report(metrics, pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
