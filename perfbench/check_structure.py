"""Check that the traced run's Spark structure counts are host-independent.

    python3 perfbench/check_structure.py --workload nightly_fold --seed 3

Runs the traced benchmark twice with the same seed and compares every
operation's ``jobs``, ``stages`` and ``tasks`` (which must repeat
exactly) and its byte counts (reported). On the first measured
operation it also compares the benchmark's stage-id-range deltas with
``tools/measure_structure.py``'s ``_stage_totals`` deltas taken around
the same operation. Exits 0 when everything that must match matches.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("jobs", "stages", "tasks")
BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")


def traced_run(workload: str, seed: int, seconds: int, dest: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
           "--stage-totals-check"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    src = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")
    shutil.copy(src, dest)
    with open(dest) as fh:
        trace = json.load(fh)
    trace["result"] = result
    return trace


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="nightly_fold")
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("--seconds", type=int, default=30)
    args = p.parse_args()
    outdir = os.path.join(ROOT, ".perfbench", "structure")
    os.makedirs(outdir, exist_ok=True)
    runs = [
        traced_run(args.workload, args.seed, args.seconds,
                   os.path.join(outdir, f"{args.workload}-seed{args.seed}-run{k}.json"))
        for k in (1, 2)
    ]
    ok = all(r["result"]["correct"] for r in runs)
    a, b = (r["per_op"] for r in runs)
    mismatches = [
        (x["op"], k, x[k], y[k])
        for x, y in zip(a, b) for k in EXACT if x[k] != y[k]
    ]
    byte_diffs = {
        k: sum(1 for x, y in zip(a, b) if x[k] != y[k]) for k in BYTES
    }
    from collections import Counter

    stage_diffs = {}
    for x, y in zip(a, b):
        if any(x[k] != y[k] for k in EXACT):
            cx = Counter(tuple(s) for s in x["stage_list"])
            cy = Counter(tuple(s) for s in y["stage_list"])
            stage_diffs[x["op"]] = {"only_run1": list((cx - cy).elements()),
                                    "only_run2": list((cy - cx).elements())}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(a),
        "exact_counts_repeat": not mismatches and len(a) == len(b),
        "mismatches": mismatches[:20],
        "stage_differences": stage_diffs,
        "ops_with_different_bytes": byte_diffs,
        "per_op_jobs_stages_tasks": [[x["op"], x["jobs"], x["stages"], x["tasks"]] for x in a],
    }
    ok = ok and report["exact_counts_repeat"]
    cc = runs[0].get("stage_totals_crosscheck")
    if cc:
        probe, tool = cc["probe"], cc["tool"]
        probe.pop("stage_list", None)
        agree = {
            "stages": probe["stages"] + probe["stages_skipped"] == tool["stages"],
            "tasks": probe["tasks"] == tool["tasks"],
            "shuffle_read": abs(probe["shuffle_read_bytes"] / 1e6 - tool["shuffle_read_mb"]) < 1e-6,
            "shuffle_write": abs(probe["shuffle_write_bytes"] / 1e6 - tool["shuffle_write_mb"]) < 1e-6,
            "input": abs(probe["input_bytes"] / 1e6 - tool["input_mb"]) < 1e-6,
            "run_s": abs(probe["executor_run_s"] - tool["run_sec"]) < 1e-6,
            "cpu_s": abs(probe["executor_cpu_s"] - tool["cpu_sec"]) < 1e-6,
        }
        report["stage_totals_crosscheck"] = {"op": cc["op"], "agree": agree,
                                             "probe": probe, "tool": tool}
        ok = ok and all(agree.values())
    print(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
