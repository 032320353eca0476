#!/bin/bash
# Diff the formatted plans of SparkEntry queries between two checkouts.
# Usage:
#   tools/plan_diff.sh <parent-checkout> <change-checkout> <sfDir> <query>...
# Each checkout must be compiled (target/scala-2.13/classes, e.g. with
# `sbt compile`). Runs graft.Plans once per checkout for all queries,
# normalizes what changes from one JVM to the next (expression ids
# #123 -> #N, exchange plan ids, RDD ids, lambda identities, source line
# numbers of checkpointed RDDs, and the random suffix of the engine's temp
# dirs: graft_substr_idx_8242... -> graft_substr_idx_X), then prints one
# unified diff per query whose plans differ and a summary line.
# Exits 0 when every plan is the same, 1 when any differs, 2 on error.
set -euo pipefail
if [ "$#" -lt 4 ]; then
  echo "usage: $0 <parent-checkout> <change-checkout> <sfDir> <query>..." >&2
  exit 2
fi
parent=$(cd "$1" && pwd); change=$(cd "$2" && pwd); sf=$3; shift 3
out=$(mktemp -d "${TMPDIR:-/tmp}/plan_diff.XXXXXX")
trap 'rm -rf "$out"' EXIT

normalize() {
  sed -E \
    -e 's/#[0-9]+L?/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
    -e 's/\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$Lambda/g' \
    -e 's/\.scala:[0-9]+/.scala:N/g' \
    -e 's/(graft_[a-z_]*)[0-9]{6,}/\1X/g'
}

for side in parent change; do
  dir=${!side}
  if [ ! -d "$dir/target/scala-2.13/classes" ]; then
    echo "$dir is not compiled (no target/scala-2.13/classes)" >&2
    exit 2
  fi
  (cd "$dir" && tools/run.sh graft.Plans "$sf" "$@" 2>"$out/$side.log") \
    | normalize > "$out/$side.txt" || {
      echo "graft.Plans failed in $dir; last log lines:" >&2
      tail -20 "$out/$side.log" >&2
      exit 2
    }
  # split into one file per query on the "=== name ===" banners
  mkdir -p "$out/$side"
  awk -v d="$out/$side" '/^=+ [^ ]+ =+$/ { f = d "/" $2 ".txt" } f { print > f }' \
    "$out/$side.txt"
done

differ=0
for q in "$@"; do
  if ! diff -u --label "parent/$q" --label "change/$q" \
      "$out/parent/$q.txt" "$out/change/$q.txt"; then
    differ=$((differ + 1))
  fi
done
echo "plan_diff: $differ of $# queries differ"
[ "$differ" -eq 0 ]
