#!/usr/bin/env bash
# Parallelism parity: results must not depend on the core count. Dumps every
# registered query with graft.Verify at SPARK_GRAFT_CPUS=2 and again at =4,
# then compares the two dumps with tools/compare_dumps.py (same row multiset
# per query). Exits non-zero on any difference or failed run.
#
# Usage: tools/parity_check.sh <sfDir>
# Runs sbt from the repository root; sbt settings (offline mode, SBT_OPTS,
# SPARK_DRIVER_MEM) come from the caller's environment.
set -euo pipefail

if [ $# -ne 1 ]; then
  echo "usage: $0 <sfDir>" >&2
  exit 2
fi
sf_dir="$(cd "$1" && pwd)"
repo="$(cd "$(dirname "$0")/.." && pwd)"
work="$(mktemp -d -t graft_parity.XXXXXX)"
trap 'rm -rf "$work"' EXIT

cd "$repo"
for cpus in 2 4; do
  echo "[parity] Verify $sf_dir at $cpus cores" >&2
  SPARK_GRAFT_CPUS="$cpus" sbt --batch "runMain graft.Verify $sf_dir $work/cpus$cpus"
done
python3 tools/compare_dumps.py "$work/cpus2" "$work/cpus4"
