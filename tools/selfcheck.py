#!/usr/bin/env python3
"""Self-check: compare Verify parquet outputs against DuckDB oracle SQL.

Mimics the driver's t2 gate: for each query, run the oracle SQL in
DuckDB over the sf parquet tables, sort columns by name, sort rows,
and compare values (floats to 1e-9 relative after rounding parity).
Usage: selfcheck.py <sfdir> <verify_outdir> [--skip q1,q2,...] [--only q1,q2,...]
       selfcheck.py --hash <verify_outdir>
(--skip: exclude oracles that are themselves super-linear in DuckDB —
 e.g. exact all-pairs SQL at sf1 — and report them as SKIPPED so a
 partial run is self-describing, never silently complete;
 --only: check just the named queries — the complement of a
 SPARK_GRAFT_ONLY subset Verify run — reported as a PARTIAL check;
 --hash: print `query<TAB>rows<TAB>sha256` of every Verify output,
 normalized as the check normalizes it (columns and rows sorted), so
 two runs — e.g. at different core counts — compare with `diff`)

Every query's row count is printed. An empty output fails the check
unless the query and SF are in EMPTY_OK (tools/empty_ok.tsv) with the
reason it is empty.
"""
import sys, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

import datetime
import hashlib
import os

# (query -> (SFs where an empty result is expected, or None for every
# SF; why)), from empty_ok.tsv beside this script — the one allowlist
# RegistrySpec reads too. An oracle pass on an empty output checks
# nothing, so each entry states why the data makes the result empty.
def _load_empty_ok():
    out = {}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "empty_ok.tsv")) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, sfs, why = line.rstrip("\n").split("\t")
            out[name] = (None if sfs == "*" else set(sfs.split(",")), why)
    return out

EMPTY_OK = _load_empty_ok()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals) and isinstance(vals.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c])
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        # unify nullable ints
        if str(df[c].dtype) in ("Int64", "Int32", "int32"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def empty_ok(name, sf):
    sfs = EMPTY_OK.get(name, (set(), ""))[0]
    return sfs is None or sf in sfs


def read_output(outdir, name):
    return pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{outdir}/{name}/*.parquet"))],
                     ignore_index=True)


def hashes(outdir):
    """Order-independent digest of every query output under outdir."""
    for name in sorted(json.load(open(f"{outdir}/oracle_sql.json"))):
        g = norm(read_output(outdir, name))
        h = hashlib.sha256(g.to_csv(index=False, float_format="%.17g").encode()).hexdigest()
        print(f"{name}\t{len(g)}\t{h}")


def main(sfdir, outdir, skip=(), only=None):
    sf = os.path.basename(os.path.normpath(sfdir))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        # driver testdata ships single files; generated sf1 ships
        # directory-style parquet (many part files) — glob those
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    fails = []
    for name in sorted(skip):
        print(f"SKIP {name} (oracle excluded by --skip)")
    if only is not None:
        print(f"PARTIAL check: only {sorted(only)}")
    for name, sql in sorted(oracle.items()):
        if name in skip:
            continue
        if only is not None and name not in only:
            continue
        try:
            exp = con.execute(sql).df()
            got = read_output(outdir, name)
            e, g = norm(exp), norm(got)
            if list(e.columns) != list(g.columns):
                fails.append((name, f"cols differ: oracle={list(e.columns)} spark={list(g.columns)}"))
                continue
            if len(e) != len(g):
                fails.append((name, f"rows differ: oracle={len(e)} spark={len(g)}"))
                continue
            bad = None
            # Driver-parity dtype gate: the driver's hasher stringifies values
            # exactly, so an integer column on one side vs float on the other
            # (e.g. DuckDB HUGEINT -> pandas float64) hash-fails even when the
            # values are numerically equal. Mirror that here instead of letting
            # the tolerance compare paper over it (how the round-7 q_benford /
            # q_vocab_coverage oracle-typing bugs survived three sweeps).
            dtype_bad = None
            for c in e.columns:
                ek, gk = e[c].dtype.kind, g[c].dtype.kind
                if {ek, gk} == {"f", "i"}:
                    dtype_bad = (c, e[c].dtype, g[c].dtype); break
            if dtype_bad:
                c, ed, gd = dtype_bad
                fails.append((name, f"dtype mismatch in col {c}: oracle={ed} spark={gd} (driver hash would fail)"))
                continue
            for c in e.columns:
                ec, gc = e[c], g[c]
                if ec.dtype.kind == "f" or gc.dtype.kind == "f":
                    import numpy as np
                    ecv = ec.astype("float64").to_numpy()
                    gcv = gc.astype("float64").to_numpy()
                    mask = ~(pd.isna(ecv) & pd.isna(gcv))
                    if not np.allclose(ecv[mask], gcv[mask], rtol=1e-9, atol=1e-9, equal_nan=True):
                        bad = c; break
                else:
                    if not ec.fillna("␀").astype(str).equals(gc.fillna("␀").astype(str)):
                        bad = c; break
            if bad:
                fails.append((name, f"value mismatch in col {bad}"))
                i = (e[bad].astype(str) != g[bad].astype(str)).idxmax() if True else 0
                print(f"  {name}: first diff at row {i}: oracle={e[bad][i]!r} spark={g[bad][i]!r}")
            elif len(g) == 0 and not empty_ok(name, sf):
                fails.append((name, f"empty result at {sf} (not in EMPTY_OK)"))
            else:
                note = f" — empty as expected: {EMPTY_OK[name][1]}" if len(g) == 0 else ""
                print(f"OK   {name} ({len(e)} rows){note}")
        except Exception as ex:
            fails.append((name, f"error: {ex}"))
    print()
    if fails:
        for n, m in fails: print(f"FAIL {n}: {m}")
        sys.exit(1)
    suffix = " [PARTIAL --only run]" if only is not None else ""
    print((f"ALL PASS (skipped {len(skip)})" if skip else "ALL PASS") + suffix)

if __name__ == "__main__":
    if sys.argv[1] == "--hash":
        hashes(sys.argv[2])
        sys.exit(0)
    _skip = ()
    _only = None
    if "--skip" in sys.argv:
        i = sys.argv.index("--skip")
        _skip = tuple(sys.argv[i + 1].split(","))
        del sys.argv[i:i + 2]
    if "--only" in sys.argv:
        i = sys.argv.index("--only")
        _only = frozenset(sys.argv[i + 1].split(","))
        del sys.argv[i:i + 2]
    main(sys.argv[1], sys.argv[2], _skip, _only)
