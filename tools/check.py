#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py [sfDir] [outDir] [--setop]
Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB against the sfDir
tables, and compares: row count, column names, and values. The compare is
EXACT for all types (floats included) by design — the Det integer-cents
aggregation makes derived doubles bit-identical across engines, and the
driver's gate is an exact hash; a loose local check would hide real
driver failures.

--setop: compare as MULTISETS inside DuckDB (EXCEPT ALL both ways)
instead of ordered row-by-row in Python. For large-SF validation runs
where graft.Verify wrote with full parallelism
(SPARK_GRAFT_VERIFY_PARALLEL=1): multi-file parquet output has no
global row order, and pulling tens of millions of rows into Python
tuples would dominate the run. Values still compare exactly — only the
order check is given up, which the parallel write already forfeited.
"""
import sys, os, json, glob, math, atexit, shutil, tempfile
import duckdb

import bpe_oracle

setop = "--setop" in sys.argv
args = [a for a in sys.argv[1:] if a != "--setop"]
sf = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out = args[1] if len(args) > 1 else "/tmp/verify_out"

con = duckdb.connect()
# Large-SF tuning: the recursive-CTE oracles (q104/q114 PageRank) spill
# tens of GB at sf10; fewer threads shrink the concurrent working set
# (slower, but disk-feasible), and an explicit temp dir points the spill
# at the roomiest mount. DUCKDB_THREADS / DUCKDB_MEM / DUCKDB_TMP env.
# Without DUCKDB_TMP the spill goes to a fresh temp directory, removed at
# exit (DuckDB's own default, `.tmp/` under the working directory, puts
# gigabytes into the working tree).
import os as _os
if _os.environ.get("DUCKDB_THREADS"):
    con.execute(f"PRAGMA threads={int(_os.environ['DUCKDB_THREADS'])}")
if _os.environ.get("DUCKDB_MEM"):
    con.execute(f"PRAGMA memory_limit='{_os.environ['DUCKDB_MEM']}'")
spill = _os.environ.get("DUCKDB_TMP")
if not spill:
    spill = tempfile.mkdtemp(prefix="check_duckdb_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
atexit.register(con.close)  # runs first: close before the spill goes
con.execute(f"PRAGMA temp_directory='{spill}'")
ONLY = [q for q in _os.environ.get("CHECK_ONLY", "").split(",") if q]
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
if ONLY:
    oracle = {k: v for k, v in oracle.items() if any(s in k for s in ONLY)}
# Oracles whose monolithic SQL does not fit in memory here, computed in
# bounded steps instead: each entry materializes the oracle's rows and
# returns the SELECT over them that stands in for the recorded SQL.
STEPWISE = {"q115_bpe_encode": lambda: bpe_oracle.bpe_encode(con, "res_q115")}
fail = 0
for name in sorted(oracle):
    sql = oracle[name]
    d = f"{out}/{name}"
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output at {d}")
        fail += 1
        continue
    if setop:
        try:
            # TEMP TABLEs, not views: the diff below references each side
            # up to three times (count + both EXCEPT directions), and a
            # view would re-run the oracle SQL each time — observed as a
            # multi-minute hang on the heavy oracles even at sf0.001.
            con.execute(f"CREATE OR REPLACE TEMP TABLE _got AS SELECT * FROM '{d}/*.parquet'")
            got_cols = [r[0] for r in con.execute(
                "SELECT name FROM pragma_table_info('_got')").fetchall()]
            if name in STEPWISE:
                sql = STEPWISE[name]()
            con.execute(f"CREATE OR REPLACE TEMP TABLE _exp AS {sql}")
            exp_cols = [r[0] for r in con.execute(
                "SELECT name FROM pragma_table_info('_exp')").fetchall()]
            if sorted(got_cols) != sorted(exp_cols):
                print(f"FAIL {name}: cols spark={sorted(got_cols)} oracle={sorted(exp_cols)}")
                fail += 1
                continue
            proj = ", ".join(f'"{c}"' for c in exp_cols)
            n_got, n_exp, n_diff = con.execute(
                f"SELECT (SELECT count(*) FROM _got), (SELECT count(*) FROM _exp), "
                f"(SELECT count(*) FROM ((SELECT {proj} FROM _got EXCEPT ALL SELECT {proj} FROM _exp) "
                f"UNION ALL (SELECT {proj} FROM _exp EXCEPT ALL SELECT {proj} FROM _got)))"
            ).fetchone()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fail += 1
            continue
        if n_got != n_exp or n_diff != 0:
            print(f"FAIL {name}: rows spark={n_got} oracle={n_exp} multiset-diff={n_diff}")
            fail += 1
        else:
            print(f"OK   {name}: {n_got} rows (multiset)")
        continue
    try:
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchall()
        got_cols = [c[0] for c in con.description]
        if name in STEPWISE:
            sql = STEPWISE[name]()
        exp = con.execute(sql).fetchall()
        exp_cols = [c[0] for c in con.description]
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        fail += 1
        continue
    if sorted(got_cols) != sorted(exp_cols):
        print(f"FAIL {name}: cols spark={sorted(got_cols)} oracle={sorted(exp_cols)}")
        fail += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
        fail += 1
        continue
    # reorder spark cols to oracle col order, then compare row-by-row
    perm = [got_cols.index(c) for c in exp_cols]
    bad = None
    for i, (g, e) in enumerate(zip(got, exp)):
        g = [g[j] for j in perm]
        for j, (a, b) in enumerate(zip(g, e)):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if a != b and not (math.isnan(a) and math.isnan(b)):
                    bad = (i, exp_cols[j], a, b, abs(a - b))
                    break
            else:
                bad = (i, exp_cols[j], a, b, None)
                break
        if bad:
            break
    if bad:
        i, c, a, b, d_ = bad
        print(f"FAIL {name}: row {i} col {c}: spark={a!r} oracle={b!r} diff={d_}")
        fail += 1
    else:
        print(f"OK   {name}: {len(got)} rows")
print(f"\n{'ALL OK' if fail == 0 else f'{fail} FAILURES'} / {len(oracle)} queries")
sys.exit(1 if fail else 0)
