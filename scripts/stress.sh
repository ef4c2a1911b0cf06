#!/usr/bin/env bash
# 20x scale-stress run (mechanized from the round-1 ad-hoc probe):
# generates the dup-heavy corpus once (/tmp/graft-stress: documents x20,
# embeddings x10, ids remapped), runs the full Bench loop on it, and
# writes a BENCH-format JSON artifact for per-round regression review.
#
# Usage: scripts/stress.sh [artifactPath] [queryName...]
#   scripts/stress.sh STRESS_r04.json              # full sweep
#   scripts/stress.sh /dev/stdout q31_jaccard_pairs  # targeted
#
# Per-round gate: after a full sweep, diff against the prior round's
# artifact for a mechanical pass/fail (tolerances documented in-script):
#   python3 scripts/stress_diff.py STRESS_r03.json STRESS_r04.json
set -euo pipefail
cd "$(dirname "$0")/.."
ARTIFACT="${1:-STRESS_local.json}"
shift || true
exec sbt -batch "runMain graft.Stress /tmp/graft-stress $ARTIFACT $*"
