#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query output
parquet in OUTDIR, run the matching oracle SQL from oracle_sql.json in
DuckDB over SFDIR's tables and diff (schema, row count, values).

An output dir that should be there and is not fails: every named query
when names are given, else every query that has an oracle.

Usage: check.py OUTDIR SFDIR [query ...]
"""
import json, sys, glob, os
import duckdb

outdir, sfdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracles = json.load(f)

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = os.path.join(sfdir, f"{t}.parquet")
    if not os.path.exists(p):
        continue  # partial ScaleGen dirs (e.g. 100x documents-only)
    # ScaleGen writes parquet DIRECTORIES; the driver fixtures are files.
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    if t == "events":
        # ScaleGen replicas keep events.ts as raw TIMESTAMP(NANOS) int64;
        # mirror graft.core.Tables' ns→µs truncation so every oracle runs
        # unmodified. Driver fixtures read ts as a proper timestamp.
        (ts_type,) = [r[1] for r in con.execute(
            f"DESCRIBE SELECT ts FROM '{src}'").fetchall()]
        if ts_type == "BIGINT":
            con.execute(f"""CREATE VIEW {t} AS
                SELECT * REPLACE (make_timestamp(ts // 1000) AS ts)
                FROM '{src}'""")
            continue
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

fails = []
written = {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}
for name in sorted((only or set(oracles)) - written):
    print(f"{name:24s} MISSING: no output dir")
    fails.append(name)
for name in sorted(written & only if only else written):
    d = os.path.join(outdir, name)
    got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    if name not in oracles:
        print(f"{name:24s} rows-only: {len(got)} rows")
        if len(got) == 0:
            fails.append(name)
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"{name:24s} ORACLE SQL ERROR: {e}")
        fails.append(name)
        continue
    problems = []
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        problems.append(f"columns differ: spark={gcols} duck={ecols}")
    elif len(got) != len(exp):
        problems.append(f"rowcount differ: spark={len(got)} duck={len(exp)}")
    else:
        g, e = got[gcols].reset_index(drop=True), exp[gcols].reset_index(drop=True)
        for c in gcols:
            gs, es = g[c], e[c]
            if str(gs.dtype) != str(es.dtype):
                problems.append(f"col {c} dtype: spark={gs.dtype} duck={es.dtype}")
            try:
                if gs.dtype.kind == "f":
                    # BITWISE compare (mimics the driver's hash): -0.0 != +0.0,
                    # any ULP divergence fails. Both-NaN counts as equal.
                    import numpy as np
                    import pandas as pd
                    gv, ev = gs.to_numpy(), es.to_numpy()
                    both_nan = np.isnan(gv) & np.isnan(ev)
                    ubits = f"uint{gv.dtype.itemsize * 8}"
                    bad = pd.Series((gv.view(ubits) != ev.view(ubits)) & ~both_nan)
                else:
                    # Compare NA masks separately, then values only where both
                    # sides are non-null — sentinel fills TypeError on
                    # datetime64 NaT in pandas 2.x.
                    na_g, na_e = gs.isna(), es.isna()
                    bad = (na_g != na_e) | ((gs != es) & ~(na_g | na_e))
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} diffs, first@{i}: "
                        f"spark={gs[i]!r} duck={es[i]!r}")
            except Exception as ex:
                problems.append(f"col {c} compare error: {ex}")
    if problems:
        print(f"{name:24s} FAIL  " + " | ".join(problems[:3]))
        fails.append(name)
    else:
        print(f"{name:24s} ok    {len(got)} rows")

print(f"\n{'ALL GREEN' if not fails else 'FAILURES: ' + ', '.join(fails)}")
sys.exit(1 if fails else 0)
