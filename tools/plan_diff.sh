#!/usr/bin/env bash
# Plan identity between a base commit and the working tree: prints
# `graft.tools.Plans` for every SparkEntry query on both sides, strips the
# run-specific ids (expression ids, RDD ids, lambda names, hash codes,
# temp paths), and diffs the two.
#
# Usage: tools/plan_diff.sh [base-rev] [query ...]
#   base-rev   commit to compare against (default HEAD)
#   query ...  query names (default: every entry of SparkEntry.queries)
# Env:
#   PLAN_DIFF_DIR       work dir (default: a new temp dir); the base side's
#                       plan log is kept there per commit and reused, so a
#                       second run only re-prints the working tree
#   SPARK_GRAFT_SF_DIR  warehouse the queries read (Plans' default if unset)
#
# Prints the names of the queries whose plans differ, then the diff.
# Exits 0 iff every plan is identical. Known false positives: the `Expand`
# of a query with several distinct aggregates (`a11_distinct`,
# `j7_entity_aliases`) lists its groups in expression-id order, which can
# flip between two runs of the whole list; re-run such a query alone.
set -euo pipefail

repo=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
rev=${1:-HEAD}
[ $# -gt 0 ] && shift
sha=$(git -C "$repo" rev-parse --short "$rev^{commit}")
work=${PLAN_DIFF_DIR:-$(mktemp -d -t plan_diff.XXXXXX)}
mkdir -p "$work"

if [ $# -gt 0 ]; then
  queries=("$@")
else
  mapfile -t queries < <(grep -oE '^    "[a-z0-9_]+" -> \(\(' \
    "$repo/src/main/scala/graft/SparkEntry.scala" | cut -d'"' -f2 | sort -u)
fi
tag=$(printf '%s\n' "${queries[@]}" | cksum | cut -d' ' -f1)

plans() { # <checkout> <log>
  (cd "$1" && sbt -batch "runMain graft.tools.Plans ${queries[*]}") > "$2.tmp" 2> "$2.err" ||
    { echo "plan_diff: Plans failed in $1, see $2.tmp and $2.err" >&2; exit 2; }
  mv "$2.tmp" "$2"
}

norm() {
  sed -n '/^===== PLAN/,$p' "$1" | grep -v '^\[\(info\|success\|warn\)\]' |
    sed -E 's/#[0-9]+L?/#/g
      s/(ExistingRDD|LogicalRDD|MapPartitionsRDD|ParallelCollectionRDD|RDD)\[[0-9]+\]/\1[]/g
      s/Lambda\$?[0-9]+\/0x[0-9a-f]+/Lambda/g; s/@[0-9a-f]{5,8}\b/@/g
      s/\$anonfun\$[^ ,)\]]*/$anonfun/g; s#(/tmp|/dev/shm)/[^ ,)\]]*#TMP#g
      s/plan_id=[0-9]+/plan_id=/g; s/id=[0-9]+/id=/g'
}

base_log="$work/base-$sha-$tag.log"
if [ ! -s "$base_log" ]; then
  echo "plan_diff: printing ${#queries[@]} plans at $sha" >&2
  rm -rf "$work/base"; mkdir -p "$work/base"
  git -C "$repo" archive "$sha" | tar -x -C "$work/base"
  plans "$work/base" "$base_log"
fi
echo "plan_diff: printing ${#queries[@]} plans in the working tree" >&2
plans "$repo" "$work/head.log"

norm "$base_log" > "$work/base.norm"
norm "$work/head.log" > "$work/head.norm"
for f in base head; do
  grep -c '^===== PLAN' "$work/$f.norm" | sed "s/^/plan_diff: $f plans: /" >&2
done
# per-query comparison: split each side at its `===== PLAN <name> =====` headers
awk '/^===== PLAN /{if (f) close(f); f = FILENAME ".q." $3} {print > f}' "$work/base.norm" "$work/head.norm"
differ=()
for q in "${queries[@]}"; do
  cmp -s "$work/base.norm.q.$q" "$work/head.norm.q.$q" 2>/dev/null || differ+=("$q")
done
rm -f "$work"/*.norm.q.*
if [ ${#differ[@]} -eq 0 ]; then
  echo "plan_diff: ${#queries[@]} plans identical to $sha"
  exit 0
fi
echo "plan_diff: ${#differ[@]} of ${#queries[@]} plans differ from $sha: ${differ[*]}"
diff "$work/base.norm" "$work/head.norm" || true
exit 1
