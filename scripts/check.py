#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <outDir>

Reads every <outDir>/<name> parquet written by graft.Verify, runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB over the
<sfDir> parquet tables, sorts columns by name, and compares values
exactly (with a tiny-float-diff report to distinguish rounding issues
from real bugs). A gate of oracle_sql.json with no output directory,
or with one that holds no readable parquet, fails as MISSING.

Also writes <outDir>/result_hashes.json: per gate, a sha256 of its
output (columns sorted by name, rows sorted), so two runs compare with
`diff`.
"""
import hashlib, json, math, os, sys
import duckdb
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    """Canonical, TYPE-SENSITIVE rendering of a pandas cell.

    The driver converts both sides through pandas (`rel.df()`) and hashes
    string renderings, so an int64 5 and a float64 5.0 must NOT compare
    equal here (DuckDB HUGEINT -> pandas float64 is exactly the class of
    bug this has to surface).
    """
    if v is None:
        return "None"
    if isinstance(v, np.ndarray):
        return tuple(norm(x) for x in v.tolist())
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return "f:" + repr(v)
    if isinstance(v, bool):
        return "b:" + repr(v)
    if isinstance(v, int):
        return "i:" + repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"): return v.isoformat()
    return v

def row_key(row):
    """The gate's row order: rows are sorted before hashing."""
    return tuple(str(x) for x in row)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    found = {d for d in os.listdir(out_dir)
             if os.path.isdir(os.path.join(out_dir, d))}
    names = sorted(found | set(oracle))
    hashes = {}
    for name in names:
        if name not in found:
            results[name] = "MISSING no output (the gate failed or never ran)"
            continue
        try:
            got_rel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            gcols = sorted(got_rel.columns)
            # go through pandas like the correctness gate does — dtype
            # coercions (e.g. HUGEINT -> float64) must be visible to the mimic
            got_df = got_rel.df()[gcols]
        except Exception as e:
            # a write job that failed mid-way can leave an empty directory
            results[name] = f"MISSING no readable parquet output ({e})"
            continue
        got = [tuple(norm(v) for v in row)
               for row in got_df.itertuples(index=False, name=None)]
        hashes[name] = hashlib.sha256(repr(
            (gcols, sorted(got, key=row_key))
        ).encode()).hexdigest()
        if name not in oracle:
            results[name] = f"NO-ORACLE rows={len(got)}"
            continue
        try:
            exp_rel = con.sql(oracle[name])
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR {e}"
            continue
        ecols = sorted(exp_rel.columns)
        if gcols != ecols:
            results[name] = f"SCHEMA-MISMATCH got={gcols} exp={ecols}"
            continue
        exp = [tuple(norm(v) for v in row)
               for row in exp_rel.df()[ecols].itertuples(index=False, name=None)]
        if len(got) != len(exp):
            results[name] = f"ROWCOUNT got={len(got)} exp={len(exp)}"
            continue
        got_s, exp_s = sorted(got, key=row_key), sorted(exp, key=row_key)
        if got_s == exp_s:
            results[name] = f"OK rows={len(got)}"
            continue
        # diagnose first diff
        diag = "VALUE-MISMATCH"
        for i, (g, e) in enumerate(zip(got_s, exp_s)):
            if g != e:
                diag = f"VALUE-MISMATCH row{i} got={g} exp={e}"
                break
        results[name] = diag
    with open(os.path.join(out_dir, "result_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
    bad = 0
    for name in names:
        r = results[name]
        flag = "  " if r.startswith(("OK", "NO-ORACLE")) else "!!"
        if flag == "!!": bad += 1
        print(f"{flag} {name}: {r[:500]}")
    print(f"\n{len(names)-bad}/{len(names)} pass")
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
