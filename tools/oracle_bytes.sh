#!/usr/bin/env bash
# Byte check that a change left every DuckDB dual untouched: writes
# oracle_sql.json with graft.Verify from <parent-ref> (a `git archive` copy
# in a temp dir) and from this working tree, then compares the two files
# byte for byte. SPARK_GRAFT_VERIFY_ONLY=__none__ matches no query, so no
# query runs and no data is read; only the dual map is written. Both sides
# take GRAFT_FIXTURES_DIR=<this checkout>/fixtures, because the CSV/JSONL
# duals embed the absolute fixtures path. Key order in the file is the Map's
# hash order, so equal bytes also mean the same query names.
# Exits non-zero on any difference or failed run.
#
# Usage: tools/oracle_bytes.sh <parent-ref>
# Runs sbt in each tree; sbt settings (offline mode, SBT_OPTS) come from the
# caller's environment.
set -euo pipefail

if [ $# -ne 1 ]; then
  echo "usage: $0 <parent-ref>" >&2
  exit 2
fi
repo="$(cd "$(dirname "$0")/.." && pwd)"
work="$(mktemp -d -t graft_oracle_bytes.XXXXXX)"
trap 'rm -rf "$work"' EXIT

mkdir "$work/parent"
git -C "$repo" archive "$1" | tar -x -C "$work/parent"

# dump <tree> <outDir>: oracle_sql.json of the tree into outDir
dump() {
  (cd "$1" && SPARK_GRAFT_VERIFY_ONLY=__none__ GRAFT_FIXTURES_DIR="$repo/fixtures" \
    sbt --batch "runMain graft.Verify $work/no-data $2")
}

echo "[oracle-bytes] oracle_sql.json of $1" >&2
dump "$work/parent" "$work/parent-out"
echo "[oracle-bytes] oracle_sql.json of the working tree" >&2
dump "$repo" "$work/tree-out"
cmp "$work/parent-out/oracle_sql.json" "$work/tree-out/oracle_sql.json"
echo "[oracle-bytes] identical to $1" >&2
