"""Fast self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

For each workload it runs the benchmark twice in a child process, with
the inputs shrunk to a co-purchase graph at scale factor 0.001 and a
300-repo table: once untraced, and once traced with one query's result
deliberately corrupted. It asserts that every metric BENCHMARK.json names
is printed with its unit, that the clean run is correct, and that the
corrupted result is counted as a failure. Exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORRUPTED = "triangles"


def child(workload: str, trace: str, corrupt: bool) -> int:
    sys.path[:0] = [HERE, ROOT]
    import run
    import workloads

    workloads.COPURCHASE_SF = 0.001
    workloads.REPOS = dict(n_repos=300, files_per_repo=4, n_communities=6)
    wl = workloads.WORKLOADS[workload]
    if corrupt:
        build = wl.queries

        def corrupted(*args):
            qs = build(*args)
            for q in qs:
                if q.name == CORRUPTED:
                    q.call = lambda call=q.call: (lambda r: {**r, "value": r["value"] + 1})(call())
            return qs

        wl.queries = corrupted
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace])


def check(workload: str, trace: str, corrupt: bool, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, __file__, "--child", workload, trace, str(int(corrupt))],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    case = f"{workload} trace={trace} corrupt={corrupt}"
    if proc.returncode != 0:
        return [f"{case}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    *_, detail, last = proc.stdout.strip().splitlines()
    result, detail = json.loads(last), json.loads(detail)
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{case}: result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{case}: metrics/units differ: {set(got.items()) ^ set(want.items())}")
    if any(not isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
        errors.append(f"{case}: a metric value is not a number")
    if corrupt:
        if result["correct"] or result["failed"] < 1 or detail["error_rate"] <= 0:
            errors.append(f"{case}: the corrupted {CORRUPTED} result was not caught")
    elif not result["correct"] or result["failed"]:
        errors.append(f"{case}: clean run failed: {detail['errors']}")
    print(f"{case}: attempted {result['attempted']} failed {result['failed']}", flush=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        errors += check(w["name"], "0", False, spec)
        errors += check(w["name"], "1", True, spec)
    for e in errors:
        print("FAIL", e, file=sys.stderr)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(child(sys.argv[2], sys.argv[3], sys.argv[4] == "1"))
    sys.exit(main())
