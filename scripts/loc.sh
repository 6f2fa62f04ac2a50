#!/usr/bin/env bash
# Size of src/main: total lines and code lines, split into the operator
# library and the contract harness (SparkEntry, Verify, Bench, QueryPack,
# graft/contract, graft/tools). Usage: scripts/loc.sh [file...]
# Each file named after the totals gets its own row.
set -euo pipefail
cd "$(dirname "$0")/.."

# a code line is any line that is not blank and does not start with
# `//`, `/**` or `*` (scaladoc and comment lines)
CODE_RE='^\s*$|^\s*(//|/\*\*|\*)'
MAIN=src/main/scala/graft
HARNESS_RE="^$MAIN/(contract/|tools/|(SparkEntry|Verify|Bench|QueryPack)\.scala$)"

count() { # count <label> <file>... -> label, files, lines, code lines
  local label=$1; shift
  if [ $# -eq 0 ]; then printf '%-52s %6d %8d %8d\n' "$label" 0 0 0; return; fi
  printf '%-52s %6d %8d %8d\n' "$label" $# \
    "$(cat "$@" | wc -l)" "$(cat "$@" | grep -cvE "$CODE_RE" || true)"
}

mapfile -t ALL < <(find src/main -name '*.scala' | sort)
mapfile -t HARNESS < <(printf '%s\n' "${ALL[@]}" | grep -E "$HARNESS_RE" || true)
mapfile -t LIBRARY < <(printf '%s\n' "${ALL[@]}" | grep -vE "$HARNESS_RE" || true)

echo "rule: code lines = lines not matching grep -E '$CODE_RE'"
printf '%-52s %6s %8s %8s\n' part files lines code
count library "${LIBRARY[@]}"
count "harness (contract, tools, entry mains)" "${HARNESS[@]}"
count src/main "${ALL[@]}"
for f in "$@"; do count "$f" "$f"; done
