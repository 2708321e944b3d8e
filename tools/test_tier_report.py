#!/usr/bin/env python3
"""Summarize a `pytest --durations=0 -q` log into per-file wall cost.

Input: the log path (default /tmp/pytest_durations_r13.log). Durations
lines look like `12.34s call tests/test_x.py::test_y` (setup/teardown
rows included). Output: per-file total seconds sorted descending, plus
the cumulative share — the data the heavytier split is cut from
(VERDICT r12 #2: the full suite outgrew the driver's verify window;
the fix is a default-deselected opt-in tier, never deletion).

Usage: python tools/test_tier_report.py [LOG] [--tests FILE]
  --tests FILE  also write per-TEST durations for fine-grained marking
"""

from __future__ import annotations

import argparse
import re
from collections import defaultdict

LINE = re.compile(
    r"^\s*(\d+\.\d+)s\s+(call|setup|teardown)\s+(tests/[^:]+)::(.+)$"
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", nargs="?", default="/tmp/pytest_durations_r13.log")
    ap.add_argument(
        "--tests", metavar="FILE", help="also write per-TEST durations to FILE"
    )
    args = ap.parse_args(argv)
    per_file: dict[str, float] = defaultdict(float)
    per_test: dict[str, float] = defaultdict(float)
    with open(args.log) as fh:
        for line in fh:
            m = LINE.match(line)
            if not m:
                continue
            sec, _phase, fname, test = m.groups()
            per_file[fname] += float(sec)
            per_test[f"{fname}::{test}"] += float(sec)
    total = sum(per_file.values())
    print(f"# total attributed: {total:.0f}s across {len(per_file)} files")
    cum = 0.0
    for fname, sec in sorted(per_file.items(), key=lambda kv: -kv[1]):
        cum += sec
        share = 100 * cum / total if total else 0.0
        print(f"{sec:8.1f}s  {share:5.1f}%  {fname}")
    if args.tests:
        with open(args.tests, "w") as fh:
            for name, sec in sorted(per_test.items(), key=lambda kv: -kv[1]):
                fh.write(f"{sec:8.1f}s  {name}\n")
        print(f"# per-test detail -> {args.tests}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
