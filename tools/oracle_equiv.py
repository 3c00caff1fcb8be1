#!/usr/bin/env python3
"""Scale-oracle equivalence gate (dev-only; not engine code).

The scale-gate oracles in scale_oracle_sql.json are independent
SUB-QUADRATIC DuckDB restatements of registered oracles whose shapes
cannot hold 64x replica volumes (doc-level posting self-joins that are
quadratic in duplication, exploded k-means joins). Before any of them
is allowed to adjudicate a 64x run, THIS gate proves each one
value-identical to the REGISTERED oracle at a driver SF, where both
forms are feasible:

    python3 tools/oracle_equiv.py <gate_out_dir> <sf_dir> [--only a,b]

<gate_out_dir> is a graft.Gate dump (`sbt Test/compile`, then
`tools/runjvm.sh graft.Gate <sf_dir> <gate_out_dir>`), which writes
scale_oracle_sql.json beside oracle_sql.json; graft.Verify writes only
the latter.

For every key in <out>/scale_oracle_sql.json, runs BOTH that SQL and
<out>/oracle_sql.json's registered SQL over <sf_dir>'s tables and
compares bit-for-bit (same normalization as oracle_check.py: sorted
columns, sorted rows, repr-exact floats). Exit 0 = all identical.
"""
import glob
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def diff(e: pd.DataFrame, g: pd.DataFrame) -> list:
    status = []
    if list(e.columns) != list(g.columns):
        return [f"cols reg={list(e.columns)} scale={list(g.columns)}"]
    if len(e) != len(g):
        return [f"rows reg={len(e)} scale={len(g)}"]
    for c in e.columns:
        ev, gv = e[c], g[c]
        if ev.dtype.kind == "f" or gv.dtype.kind == "f":
            fe = ev.astype(float).map(lambda x: repr(float(x)) if x == x else "nan")
            fg = gv.astype(float).map(lambda x: repr(float(x)) if x == x else "nan")
            bad = fe != fg
        else:
            bad = ev.astype(str) != gv.astype(str)
        if bad.any():
            i = bad.idxmax()
            status.append(
                f"col {c}: {int(bad.sum())} diffs, first row {i}: "
                f"reg={ev[i]!r} scale={gv[i]!r}")
    return status


def main(outdir: str, sfdir: str, only=None) -> int:
    import os
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    registered = json.load(open(f"{outdir}/oracle_sql.json"))
    scale = json.load(open(f"{outdir}/scale_oracle_sql.json"))
    failed = 0
    for name, ssql in sorted(scale.items()):
        if only and name not in only:
            continue
        if name not in registered:
            print(f"SKIP {name}: no registered oracle in {outdir}/oracle_sql.json")
            continue
        try:
            exp = con.sql(registered[name]).df()
            got = con.sql(ssql).df()
            status = diff(norm(exp), norm(got))
            if status:
                failed += 1
                print(f"FAIL {name}: " + "; ".join(status))
            else:
                print(f"ok   {name} ({len(exp)} rows x {len(exp.columns)} cols)")
        except Exception as ex:  # noqa: BLE001
            failed += 1
            print(f"ERROR {name}: {ex}")
    n = len([k for k in scale if (not only or k in only)])
    print(f"{n - failed}/{n} scale oracles identical to registered oracles")
    return 1 if failed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i:i + 2]
    sys.exit(main(args[0], args[1], only))
