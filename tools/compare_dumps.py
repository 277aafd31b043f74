#!/usr/bin/env python3
"""Compare two Verify dumps query by query: for every query in either dump,
the two results must hold the same row multiset (any row order), under
check_oracle.py's value normalization. A query missing from one dump, or
recorded as a `__verify_error` row, counts as a difference. Exits 1 on any
difference.

Use it as a refactor invariant (the parent commit's dump against the
change's) and as a parallelism check (one tree dumped at two
SPARK_GRAFT_CPUS values).

Usage: compare_dumps.py <verifyOutDirA> <verifyOutDirB>
"""
import os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import diff, read_dump  # noqa: E402


def queries(outdir):
    return {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))}


def main(a, b):
    qa, qb = queries(a), queries(b)
    same, diffs = 0, []
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            diffs.append((name, f"only in {b if name in qb else a}")); continue
        ra, rb = read_dump(a, name), read_dump(b, name)
        if "__verify_error" in ra.columns or "__verify_error" in rb.columns:
            diffs.append((name, "query failed in a dump")); continue
        bad = diff(ra, rb, sides=("A", "B"))
        if bad: diffs.append((name, bad))
        else: same += 1
    for n, m in diffs: print(f"DIFF {n}: {m}")
    print(f"\n{same} identical, {len(diffs)} differ, {len(qa | qb)} queries")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
