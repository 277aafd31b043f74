#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: reads Verify.scala's output
parquet + oracle_sql.json, runs each oracle in DuckDB over the same sf dir,
and compares row count / schema / values (exact, with a float-diff report).

The comparison (`diff`) is importable: tools/compare_dumps.py applies the
same value normalization to two Verify dumps.

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import json, math, sys
import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def read_dump(outdir, name):
    """One query's result from a Verify dump, as a pandas frame."""
    return duckdb.connect().execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()


def _plain(v):
    """Nested lists/arrays/structs as plain Python values (a sortable repr)."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def hashable_columns(df):
    return [c for c in df.columns if df[c].dtype != object or
            df[c].map(lambda v: not isinstance(v, (list, dict, bytes, bytearray))).all()]


def sort_rows(df, key):
    """Rows sorted on the `key` columns, ties broken by the repr of the
    others (nested values), so equal row multisets line up exactly."""
    rest = [c for c in df.columns if c not in key]
    ties = [f"__tie_{i}" for i in range(len(rest))]
    df = df.assign(**{t: df[c].map(lambda v: repr(_plain(v))) for t, c in zip(ties, rest)})
    return df.sort_values(key + ties, kind="mergesort").drop(columns=ties).reset_index(drop=True)


def diff(exp, got, sides=("oracle", "spark")):
    """None when the two frames hold the same rows (any order, columns
    matched by name), else a description of the first difference."""
    x, y = sides
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns differ: {x}={list(exp.columns)} {y}={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows differ: {x}={len(exp)} {y}={len(got)}"
    key = hashable_columns(exp)
    exp, got = sort_rows(exp, key), sort_rows(got, key)
    for c in exp.columns:
        ev, gv = exp[c], got[c]
        if str(ev.dtype).startswith("float") and str(gv.dtype).startswith("float"):
            if not all((math.isnan(a) and math.isnan(b)) or a == b
                       for a, b in zip(ev.fillna(float("nan")), gv.fillna(float("nan")))):
                diffs = [(i, a, b) for i, (a, b) in enumerate(zip(ev, gv))
                         if not ((isinstance(a, float) and isinstance(b, float)
                                  and (a == b or (math.isnan(a) and math.isnan(b)))))][:3]
                return f"col {c} float mismatch, first diffs {diffs}"
        else:
            ev2 = ev.astype(str); gv2 = gv.astype(str)
            if not (ev2 == gv2).all():
                idx = (ev2 != gv2).idxmax()
                return f"col {c} mismatch at row {idx}: {x}={ev[idx]!r} {y}={got[c][idx]!r} (dtypes {ev.dtype}/{gv.dtype})"
    return None


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    fails, passes = [], []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            fails.append((name, f"oracle SQL error: {e}")); continue
        try:
            got = read_dump(outdir, name)
        except Exception as e:
            fails.append((name, f"spark output missing: {e}")); continue
        bad = diff(exp, got)
        if bad: fails.append((name, bad))
        else: passes.append((name, len(exp)))

    for n, r in passes: print(f"PASS {n} ({r} rows)")
    for n, m in fails: print(f"FAIL {n}: {m}")
    print(f"\n{len(passes)} passed, {len(fails)} failed, {len(set(oracle.keys()))} oracles")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
