#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf tables, load the Spark parquet dump, sort columns by
name + rows, and compare values and schema. Usage:
  python3 tools/compare.py <sfdir> <verify_out_dir> [query ...]
"""
import sys, glob, json, os, math
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

# DuckDB settings for one query's twin, reset after it; the SQL runs
# unchanged. q123: the join-order optimizer builds the twin's top hash join
# on sh b ⋈ szs sb ⋈ szs sa (at sf0.1, 15.5 M size-filtered doc pairs times
# b's shingles, 1.01 billion rows), which spilled more than 17 GB of temp
# files. In the written order (sh a ⋈ sh b on the shingle first, 2.53 M
# rows at sf0.1) the twin finishes in about a second without spilling.
QUERY_SETTINGS = {
    "q123_containment_join": {"disabled_optimizers": "join_order"},
}

import decimal

def canon(v):
    # Type-tagged so heterogeneous columns (null vs str vs number) stay
    # sortable in Python 3 instead of raising TypeError mid-gate.
    # Numbers share tag 1 with native values: ints stay exact (no 2^53
    # truncation) and Python compares int/float numerically.
    if v is None:
        return (0, "")
    if isinstance(v, (list, np.ndarray)):
        return (3, tuple(canon(x) for x in v))
    if isinstance(v, (float, np.floating)):
        if np.isnan(v):
            return (0, "")
        r = round(float(v), 9)
        # Bit-faithful zero: the driver's hash distinguishes -0.0 from
        # +0.0 (it bit-hashes the raw value), while Python's == does
        # not. Tag the sign of zero so the local gate fails exactly
        # where the driver would (caused the only r6 red row, q210).
        return (1, r, 1 if (r == 0.0 and np.signbit(r)) else 0)
    if isinstance(v, decimal.Decimal):
        # Same bit-faithful zero rule as the float branch: DuckDB can
        # surface a rounded difference as DECIMAL('-0.000000'), which
        # the driver's bit-level hash distinguishes from +0.0.
        f = float(v)
        if math.isnan(f):
            return (0, "")
        r = round(f, 9)
        return (1, r, 1 if (r == 0.0 and math.copysign(1.0, f) < 0) else 0)
    if isinstance(v, (bool, np.bool_)):
        return (1, int(v), 0)
    if isinstance(v, (int, np.integer)):
        return (1, int(v), 0)
    return (2, str(v))

def rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(tuple(canon(v) for v in r) for r in df.itertuples(index=False))

fails = 0
for name in sorted(oracle):
    if only and name not in only:
        continue
    settings = QUERY_SETTINGS.get(name, {})
    try:
        for k, v in settings.items():
            con.execute(f"SET {k} = '{v}'")
        d = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        fails += 1
        continue
    finally:
        for k in settings:
            con.execute(f"RESET {k}")
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    s = pd.concat([pd.read_parquet(f) for f in sorted(files)])
    if sorted(d.columns) != sorted(s.columns):
        print(f"FAIL {name}: columns duck={sorted(d.columns)} spark={sorted(s.columns)}")
        fails += 1
        continue
    if len(d) != len(s):
        print(f"FAIL {name}: rows duck={len(d)} spark={len(s)}")
        fails += 1
        continue
    cols = sorted(d.columns)
    dt_mismatch = [(c, str(d[c].dtype), str(s[c].dtype))
                   for c in cols if str(d[c].dtype) != str(s[c].dtype)]
    dn, sn = rows(d), rows(s)
    if dn != sn:
        bad = next(i for i in range(len(dn)) if dn[i] != sn[i])
        print(f"FAIL {name}: row {bad} differs (cols {cols}):\n  duck={dn[bad]!r}\n  spark={sn[bad]!r}")
        fails += 1
    else:
        flag = f" (dtype diff: {dt_mismatch})" if dt_mismatch else ""
        print(f"OK   {name}: {len(d)} rows{flag}")
print(f"\n{fails} failures")
# Close DuckDB and flush before exit: left to interpreter teardown, the
# connection's threads could abort the process (exit 134) after a clean
# comparison.
con.close()
sys.stdout.flush()
sys.exit(1 if fails else 0)
