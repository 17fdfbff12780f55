#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle hash compare.

Usage: python3 tools/check.py [sfDir] [verifyOutDir] [only_query ...]

Reads oracle_sql.json + per-query spark parquet from verifyOutDir, runs each
oracle SQL in DuckDB over the sfDir parquet tables, and compares cell-by-cell
(columns sorted by name, row order as produced — queries must end in a total
ORDER BY). Stricter than any hash: exact equality, NaN==NaN, None==None.

CHECK_JSON=<dest.json> also writes a snapshot: pass/fail lists and
`no_oracle`, the output dirs that have no oracle entry. The committed
CORRECTNESS_SELF_*.json artifacts come from (sfDir: the sf0.01 or sf0.1
fixture directory, outDir: any scratch directory):
  sbt -batch "runMain graft.Verify <sfDir> <outDir>"
  CHECK_JSON=CORRECTNESS_SELF_sf001.json python3 tools/check.py <sfDir> <outDir>
"""
import duckdb, sys, json, glob, os

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails, passes = [], []

import math

def norm(v):
    # Type-faithful: never cross-coerce int/float (the driver's hash
    # compare is type-sensitive — DuckDB HUGEINT vs Spark BIGINT fails
    # there), and distinguish -0.0 from 0.0 via copysign.
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:
            return ("f", "nan")
        if v == 0.0:
            return ("f", 0.0, math.copysign(1.0, v))
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    return v

def pandas_lens(parquet_path, name):
    """Return an error string if the driver's pandas comparer would choke
    on this Spark output (unsortable object cells / Decimal objects),
    else None. Mirrors the driver: pyarrow -> pandas -> sort_values."""
    import decimal
    import pandas as pd
    import pyarrow.parquet as pq
    df = pq.read_table(parquet_path).to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            for v in df[c].head(50):
                if isinstance(v, (dict, list, tuple)) or hasattr(v, "ndim"):
                    return (f"column '{c}' holds {type(v).__name__} cells — "
                            "driver sort_values raises 'unhashable type'")
                if isinstance(v, decimal.Decimal):
                    return (f"column '{c}' holds Decimal objects — DuckDB "
                            "side lands float64, driver hash mismatches")
    try:
        df.sort_values(by=list(df.columns))
    except Exception as e:
        return f"sort_values failed: {str(e)[:150]}"
    return None


for name in sorted(oracle):
    if only and name not in only:
        continue
    sql = oracle[name]
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: missing spark output"); fails.append(name); continue
    try:
        orel = con.sql(sql)
        ocols = list(orel.columns)
        otypes_all = [str(t) for t in orel.types]
        orows = orel.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {str(e)[:200]}"); fails.append(name); continue
    srel = con.sql(f"SELECT * FROM read_parquet('{files[0]}')")
    scols = list(srel.columns)
    stypes_all = [str(t) for t in srel.types]
    srows = srel.fetchall()
    if sorted(ocols) != sorted(scols):
        print(f"FAIL {name}: columns oracle={sorted(ocols)} spark={sorted(scols)}")
        fails.append(name); continue
    if len(orows) != len(srows):
        print(f"FAIL {name}: rows oracle={len(orows)} spark={len(srows)}")
        fails.append(name); continue
    operm = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sperm = sorted(range(len(scols)), key=lambda i: scols[i])
    # Result-type check through the same DuckDB lens on both sides:
    # catches SUM-type promotions (HUGEINT vs BIGINT) the value compare
    # used to coerce away.
    # int widths <= 64 bits all land in pandas int64 under the driver's
    # compare — only HUGEINT (int128) breaks out of it. Collapse the
    # equivalent widths; keep everything else exact.
    def tnorm(t):
        return "INT64" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                                "UTINYINT", "USMALLINT", "UINTEGER") else t
    otypes = [tnorm(otypes_all[i]) for i in operm]
    stypes = [tnorm(stypes_all[i]) for i in sperm]
    if otypes != stypes:
        print(f"FAIL {name}: result types differ\n  cols : {sorted(ocols)}\n  oracle: {otypes}\n  spark : {stypes}")
        fails.append(name); continue
    bad = None
    for ri, (orow, srow) in enumerate(zip(orows, srows)):
        ov = tuple(norm(orow[i]) for i in operm)
        sv = tuple(norm(srow[i]) for i in sperm)
        if ov != sv:
            bad = (ri, ov, sv); break
    if bad:
        ri, ov, sv = bad
        print(f"FAIL {name}: row {ri} differs\n  cols : {sorted(ocols)}\n  oracle: {ov}\n  spark : {sv}")
        fails.append(name); continue
    # Driver-lens emulation (round-9 process bug: the DuckDB-relation
    # compare above passed q212/q214/q215/q220 while the driver's pandas
    # `sort_values` comparer could not ingest them at all). Reproduce
    # that lens: read the Spark parquet via pyarrow→pandas, sort_values
    # on every column, and reject any cell the pandas path can't hash or
    # hashes differently across engines (dict/list/ndarray from nested
    # types, Decimal objects from DECIMAL columns).
    lens_err = pandas_lens(files[0], name)
    if lens_err:
        print(f"FAIL {name}: driver-lens: {lens_err}")
        fails.append(name)
    else:
        print(f"PASS {name}: {len(orows)} rows")
        passes.append(name)

print(f"\n{len(passes)} passed, {len(fails)} failed" + (f": {fails}" if fails else ""))

jpath = os.environ.get("CHECK_JSON")
if jpath:
    no_oracle = sorted(d for d in os.listdir(out)
                       if os.path.isdir(f"{out}/{d}") and d not in oracle
                       and (not only or d in only))
    with open(jpath, "w") as f:
        json.dump({"sf_dir": sf, "verify_out": out,
                   "n_pass": len(passes), "n_fail": len(fails),
                   "failed": sorted(fails), "passed": sorted(passes),
                   "no_oracle": no_oracle},
                  f, indent=1, sort_keys=True)
    print(f"wrote {jpath}")
sys.exit(1 if fails else 0)
