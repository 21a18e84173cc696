"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py

Checks that BENCHMARK.json lists the metrics of ``metrics.py``.  Runs
every workload once, traced, at 5% of its input size for one second,
and checks the result line: the four keys, a correct run with no failed
query, and exactly the per-layer metrics of ``metrics.py`` with their
units.  Then checks that the benchmark refuses to run, with a non-zero
exit and no result line, in a directory that holds only the benchmark.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", "1", "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    sys.path.insert(0, HERE)
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, mine in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if [(m["name"], m["unit"], m["better"]) for m in spec[key]] != mine:
            print(f"FAIL BENCHMARK.json {key} differs from metrics.py")
            return 1
    if not {w["name"] for w in spec["workloads"]} <= set(WORKLOADS):
        print("FAIL BENCHMARK.json names a workload workloads.py lacks")
        return 1

    want = {name: unit for name, unit, _ in PER_LAYER}
    for name in sorted(WORKLOADS):
        p = _run(ROOT, name)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"FAIL {name}: exit {p.returncode}")
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
            print(f"FAIL {name}: result keys {sorted(r)}")
            return 1
        if not r["correct"] or r["failed"] or r["attempted"] < 2:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"FAIL {name}: {r['attempted']} queries, {r['failed']} failed")
            return 1
        if got != want:
            print(f"FAIL {name}: metrics differ from metrics.PER_LAYER")
            return 1
        print(f"ok   {name}: {r['attempted']} queries")

    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run(bare, "docs_tiles")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        print("FAIL bare checkout: the benchmark ran without the package")
        return 1
    print("ok   bare checkout refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
