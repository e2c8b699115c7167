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
# Exits 0 iff every plan is identical (see expand_norm for the one
# order-insensitive case).
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

# A plan with several distinct aggregates holds an `Expand` whose groups,
# the columns they fill and their group ids follow expression-id order,
# which can flip between two runs of the whole list (`a11_distinct`,
# `j7_entity_aliases`). In each plan whose Expand fills such a `gid`
# column, blank the group ids and sort the items of every bracketed list
# and of every `hashpartitioning(...)`, so such a flip prints identically;
# a real order change inside those plans is not seen. The Expand of a
# rollup, cube or grouping set (`spark_grouping_id`) follows the query's
# own order and is compared as printed.
expand_norm() {
  python3 -c '
import re, sys

def items(s):
    out, depth, cur = [], 0, ""
    for ch in s:
        depth += ch in "([\x02"
        depth -= ch in ")]\x03"
        if ch == "," and depth == 0:
            out.append(cur.strip()); cur = ""
        else:
            cur += ch
    return out + [cur.strip()]

def canon(line, expand_args):
    line = re.sub(r"gid# = [0-9]+", "gid# = ?", line)
    if expand_args:
        line = re.sub(r", [0-9]+\]", ", ?]", line)
    line = re.sub(r"hashpartitioning\(([^()]*)\)",
                  lambda m: "hashpartitioning(" + ", ".join(sorted(items(m.group(1)))) + ")", line)
    prev = None
    while prev != line:
        prev = line
        line = re.sub(r"\[([^\[\]]*)\]",
                      lambda m: "\x02" + ", ".join(sorted(items(m.group(1)))) + "\x03", line)
    return line.replace("\x02", "[").replace("\x03", "]")

def flush(block):
    if not (any(re.match(r"\([0-9]+\) Expand", l) for l in block) and
            any("gid# = " in l for l in block)):
        return block
    out, in_expand = [], False
    for l in block:
        in_expand = bool(re.match(r"\([0-9]+\) Expand", l)) or (in_expand and l.strip() != "")
        out.append(canon(l, in_expand and l.startswith("Arguments:")))
    return out

block = []
for line in sys.stdin:
    if line.startswith("===== PLAN") and block:
        sys.stdout.writelines(flush(block)); block = []
    block.append(line)
sys.stdout.writelines(flush(block))
'
}

norm() {
  sed -n '/^===== PLAN/,$p' "$1" | grep -v '^\[\(info\|success\|warn\)\]' |
    sed -E 's/#[0-9]+L?/#/g
      s/(ExistingRDD|LogicalRDD|MapPartitionsRDD|ParallelCollectionRDD|RDD)\[[0-9]+\]/\1[]/g
      s/Lambda\$?[0-9]+\/0x[0-9a-f]+/Lambda/g; s/@[0-9a-f]{5,8}\b/@/g
      s/\$anonfun\$[^ ,)\]]*/$anonfun/g; s#(/tmp|/dev/shm)/[^ ,)\]]*#TMP#g
      s/plan_id=[0-9]+/plan_id=/g; s/id=[0-9]+/id=/g' | expand_norm
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
