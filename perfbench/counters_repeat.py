"""Check that Spark's host-independent counters repeat exactly.

    python3 perfbench/counters_repeat.py --workload lake_ingest --seed 5 [--smoke]

Runs the workload traced twice with the same seed, prints the first run's
metrics, and compares, for every traced operation both runs made, the
counters that must repeat exactly (jobs, stages, tasks, catalog calls,
catalog files written). Byte counters are reported with their spread,
since compression and file metadata may let them drift. Exits 1 if an
exact counter differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "catalog.calls", "catalog.files_written")
BYTES = ("io.input_bytes", "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
         "storage.data_bytes", "storage.info_bytes", "storage.checkpoint_bytes")


def traced_run(workload: str, seed: int, seconds: float, smoke: bool, dump: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1", "--dump", dump]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{proc.stderr[-3000:]}")
    with open(dump) as f:
        report = json.load(f)
    report["stdout"] = proc.stdout
    return report


def compare(a: dict, b: dict) -> tuple[list[str], dict]:
    """(exact-counter mismatches, {byte counter: (min, max)} over both runs)."""
    ops_a = {r["i"]: r["layers"] for r in a["ops"] if r["traced"]}
    ops_b = {r["i"]: r["layers"] for r in b["ops"] if r["traced"]}
    mismatches, spread = [], {}
    for i in sorted(ops_a.keys() & ops_b.keys()):
        for name in EXACT:
            if ops_a[i].get(name) != ops_b[i].get(name):
                mismatches.append(f"op {i} {name}: {ops_a[i].get(name)} != {ops_b[i].get(name)}")
        for name in BYTES:
            va, vb = ops_a[i].get(name, 0), ops_b[i].get(name, 0)
            lo, hi = spread.get(name, (va, va))
            spread[name] = (min(lo, va, vb), max(hi, va, vb))
    if not ops_a.keys() & ops_b.keys():
        mismatches.append("no traced operation common to both runs")
    return mismatches, spread


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=5)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        runs = [traced_run(args.workload, args.seed, args.seconds, args.smoke, os.path.join(tmp, f"{k}.json"))
                for k in range(2)]
    print("".join(runs[0]["stdout"].splitlines(keepends=True)[:-1]), end="")
    mismatches, spread = compare(*runs)
    for line in mismatches:
        print("DIFFERS", line)
    for name, (lo, hi) in spread.items():
        print(f"{name}: {lo}..{hi} ({(hi - lo) / hi if hi else 0:.2%} of max)")
    print("exact counters repeat" if not mismatches else f"{len(mismatches)} exact counters differ")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
