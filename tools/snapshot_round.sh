#!/usr/bin/env bash
# End-of-round evidence ritual. Usage: tools/snapshot_round.sh <round>
#
# Produces, and REFUSES to succeed without:
#   GATE_r<round>.log          — full 240-oracle gate at sf0.01 (non-empty,
#                                must end in the "oracles match" summary)
#   SPOT_r<round>_a.log        — seeded spot-audit, seed=<round>
#   SPOT_r<round>_b.log        — seeded spot-audit, seed=<round>+100
# and it fails unless `python3 -m pytest perfbench/tests` passes.
#
# Round 4 shipped a 0-byte GATE log because `tee` ran but the gate was
# interrupted; every artifact here is size- and content-checked so an
# empty or truncated log fails the snapshot instead of landing in git.
#
# Round 10 shipped logs cut TWO operator-code commits before final
# HEAD (VERDICT r10 "What's wrong" #1) — the ritual attested 8b979e2
# while HEAD was e13ad52. Staleness is now impossible by construction:
#   * the ritual ABORTS if the working tree is dirty (untracked repo
#     code included), so a log can only ever attest a committed sha;
#   * every log gets a `ritual-head: <sha>` header line, checked
#     non-empty below, so the judge can diff it against the round's
#     final HEAD mechanically;
#   * the snapshot commit itself must be the LAST commit of the round
#     — any operator-code commit after it invalidates the stamp
#     visibly (stamped sha != HEAD~1).
set -euo pipefail
cd "$(dirname "$0")/.."

round="${1:?usage: tools/snapshot_round.sh <round-number>}"

# COVERAGE.md regenerates from the live registry FIRST — before the
# sha is stamped — so the attested commit already carries the current
# query table (round-5 drift: 3 late-added queries missing). If the
# regen changes anything, the dirty-tree check below aborts with the
# diff staged for an easy commit-and-rerun.
python tools/gen_coverage.py

if [ -n "$(git status --porcelain)" ]; then
    echo "FATAL: working tree dirty — commit everything (including" \
         "any COVERAGE.md regen above) before the evidence ritual;" \
         "logs must attest a committed sha"
    git status --porcelain | head -20
    exit 1
fi
head_sha="$(git rev-parse HEAD)"
stamp="ritual-head: ${head_sha}  cut: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
echo "$stamp"

# The benchmark's own tests (planted facts, oracles, the structure
# check) run first: they are cheap, and a benchmark that no longer
# checks its answers makes every later timing claim meaningless.
# `set -e` fails the ritual on a non-zero exit.
python3 -m pytest perfbench/tests -q

gate="GATE_r${round}.log"
spot_a="SPOT_r${round}_a.log"
spot_b="SPOT_r${round}_b.log"

# Row-count check is belt and braces against a partial regen write.
python - <<'EOF'
import re, sys
sys.path.insert(0, ".")
from mcyj_datapipeline_spark import registry
registry.load_all()  # raw _REGISTRY reads need the full registry (r9)
text = open("COVERAGE.md").read()
section = text.split("## Registered queries (driver-checked)", 1)[1]
section = section.split("\n## ", 1)[0]
table_rows = len(re.findall(r"^\| `", section, re.M))
want = len(registry._REGISTRY)
assert table_rows == want, f"COVERAGE.md table {table_rows} != registry {want}"
print(f"COVERAGE.md table matches registry: {want} rows")
EOF

# every artifact: stamped with the sha it attests, then size- and
# summary-checked, then sha-checked (a log that somehow lost its
# stamp, or was cut at a different sha, fails the snapshot)
check_log() {
    local f="$1"
    test -s "$f" || { echo "FATAL: $f is empty"; exit 1; }
    grep -q "ritual-head: ${head_sha}" "$f" || {
        echo "FATAL: $f missing ritual-head stamp for ${head_sha}"
        exit 1; }
    grep -Eq "oracles match|invariant" "$f" || {
        echo "FATAL: $f has no summary line — run did not finish"
        exit 1; }
}

{ echo "$stamp"
  python tools/check_driver_gate.py /root/testdata/sf0.01 2>&1
} | tee "$gate"
check_log "$gate"

{ echo "$stamp"
  python tools/check_driver_gate.py /root/testdata/sf0.01 \
      --sample 40 --seed "$round" 2>&1
} | tee "$spot_a"
{ echo "$stamp"
  python tools/check_driver_gate.py /root/testdata/sf0.01 \
      --sample 40 --seed "$((round + 100))" 2>&1
} | tee "$spot_b"
check_log "$spot_a"
check_log "$spot_b"

# FULL-REGISTRY sf0.1 gate (round 7+, VERDICT r6 #2): every oracle at
# 10x the driver's scale, not just the scale-sensitive families — a
# contract that only slips at bigger data (rounding at larger sums,
# bucket boundaries, skew) has nowhere to hide. ~15-20 min.
gate_sf01="GATE_r${round}_sf01.log"
{ echo "$stamp"
  python tools/check_driver_gate.py /root/testdata/sf0.1 2>&1
} | tee "$gate_sf01"
check_log "$gate_sf01"

# Full-registry partition-invariance audit: same plan under a hostile
# shuffle layout (5 partitions, AQE off) must produce identical rows.
pinv="PINV_r${round}.log"
{ echo "$stamp"
  python tools/check_partition_invariance.py /root/testdata/sf0.01 2>&1
} | tee "$pinv"
check_log "$pinv"

# Belt and braces: the tree must STILL be clean and HEAD unchanged —
# a gate that mutated repo files, or a concurrent commit mid-ritual,
# would silently invalidate the stamp otherwise.
if [ "$(git rev-parse HEAD)" != "$head_sha" ]; then
    echo "FATAL: HEAD moved during the ritual (${head_sha} ->" \
         "$(git rev-parse HEAD)) — logs are stale, rerun"
    exit 1
fi

echo "snapshot OK at ${head_sha}: $gate $spot_a $spot_b $gate_sf01 $pinv"
echo "commit these logs NOW as the round's last commit"
