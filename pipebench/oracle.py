"""DuckDB oracle check of the query workloads' outputs.

Each query's timed form is written by the JVM to `<dump>/<name>/`; its
oracle SQL (the library's own, `SparkEntry.oracleSql`) runs in DuckDB
over the same generated tables. The two are compared as exact multisets
(`EXCEPT ALL` both ways, every type exact), the library's large-input
check mode: the timed forms drop determinism-only global sorts, so row
order is not part of the contract. Queries without an oracle get a
rows-only check (at least one row). Expected results come from DuckDB
alone, never from the code under test.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(data, dump, names, sqls):
    """Returns {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("PRAGMA threads=4")
    con.execute(f"PRAGMA temp_directory='{os.path.join(dump, '.duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name in names:
        files = glob.glob(os.path.join(dump, name, "*.parquet"))
        if name not in sqls:
            n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] \
                if files else 0
            out[name] = None if n > 0 else "rows-only check: no rows"
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE _exp AS {sqls[name]}")
            exp_cols = [r[0] for r in con.execute(
                "SELECT name FROM pragma_table_info('_exp')").fetchall()]
            if files:
                con.execute(f"CREATE OR REPLACE TEMP TABLE _got AS "
                            f"SELECT * FROM read_parquet({files!r})")
            else:
                con.execute("CREATE OR REPLACE TEMP TABLE _got AS SELECT * FROM _exp LIMIT 0")
            got_cols = [r[0] for r in con.execute(
                "SELECT name FROM pragma_table_info('_got')").fetchall()]
            if sorted(got_cols) != sorted(exp_cols):
                out[name] = f"columns {sorted(got_cols)} != oracle {sorted(exp_cols)}"
                continue
            proj = ", ".join(f'"{c}"' for c in exp_cols)
            n_got, n_exp, n_diff = con.execute(
                f"SELECT (SELECT count(*) FROM _got), (SELECT count(*) FROM _exp), "
                f"(SELECT count(*) FROM ((SELECT {proj} FROM _got EXCEPT ALL "
                f"SELECT {proj} FROM _exp) UNION ALL (SELECT {proj} FROM _exp "
                f"EXCEPT ALL SELECT {proj} FROM _got)))").fetchone()
            out[name] = None if n_got == n_exp and n_diff == 0 else (
                f"rows {n_got} vs oracle {n_exp}, multiset difference {n_diff}")
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {str(e)[:200]}"
    con.close()
    return out
