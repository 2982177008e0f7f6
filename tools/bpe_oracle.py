"""q115_bpe_encode's DuckDB oracle, paid in installments.

The monolithic oracle SQL (TextOps.q115Sql) derives the merge table in
plan: every round's scalar subqueries re-derive the whole CTE chain
before them, which exhausts DuckDB's memory on a 15 GB host even at
sf0.01. This computes the same result in bounded steps: the
corpus-wide pair counting (w0) and the per-doc encode (e0..e5) are
sharded by doc_id, and the 5 merge rounds run on the small distinct-word
table with each round's winning pair as a one-row table (so the replace
literals never round-trip through Python escaping). Every fragment is
the recorded oracle SQL's own.

Used by tools/check.py and tools/check_sf10_remainder.py.
"""
import time

ROUNDS = 5  # TextOps.BpeRounds


def _replace(src, i):
    return (f"replace({src}, "
            f"'|' || (SELECT l FROM b_p{i}) || '|' || (SELECT r FROM b_p{i}) || '|', "
            f"'|' || (SELECT l FROM b_p{i}) || (SELECT r FROM b_p{i}) || '|')")


def bpe_encode(con, res_table, chunks=16, log=None):
    """Materialize q115's oracle rows (doc_id, n_bpe_tokens, n_ws_tokens)
    in `res_table` on DuckDB connection `con` (which has a `documents`
    view), `chunks` doc shards at a time; returns the oracle's ordered
    SELECT over that table."""
    t0 = time.time()

    def step(msg):
        if log:
            log(f"  q115 {msg} ({time.time() - t0:.0f}s)")

    for t in ["b_w0_raw", "b_w", "b_w_next", res_table] + [f"b_p{i}" for i in range(1, ROUNDS + 1)]:
        con.execute(f"DROP TABLE IF EXISTS {t}")
    con.execute("CREATE TABLE b_w0_raw (s VARCHAR, cnt BIGINT)")
    for k in range(chunks):
        con.execute(f"""INSERT INTO b_w0_raw
          SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s,
                 COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
                WHERE doc_id % {chunks} = {k})
          WHERE len(w) > 0 AND w NOT LIKE '%|%' GROUP BY 1""")
        step(f"w0 chunk {k + 1}/{chunks}")
    con.execute("CREATE TABLE b_w AS "
                "SELECT s, CAST(SUM(cnt) AS BIGINT) AS cnt "
                "FROM b_w0_raw GROUP BY s")
    for i in range(1, ROUNDS + 1):
        con.execute(f"""CREATE TABLE b_p{i} AS
          SELECT a[j] AS l, a[j+1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
          FROM (SELECT cnt, string_split(s[2:-2], '|') AS a FROM b_w),
               unnest(generate_series(1, len(a) - 1)) AS u(j)
          GROUP BY 1, 2 ORDER BY pc DESC, l ASC, r ASC LIMIT 1""")
        con.execute(f"CREATE TABLE b_w_next AS "
                    f"SELECT CAST(cnt AS BIGINT) AS cnt, {_replace('s', i)} AS s FROM b_w")
        con.execute("DROP TABLE b_w")
        con.execute("ALTER TABLE b_w_next RENAME TO b_w")
        step(f"merge round {i}/{ROUNDS}")
    con.execute(f"""CREATE TABLE {res_table}
      (doc_id BIGINT, n_bpe_tokens BIGINT, n_ws_tokens BIGINT)""")
    rounds = ",\n".join(
        f"e{i} AS (SELECT doc_id, n_sp, n_ws, {_replace('s', i)} AS s FROM e{i - 1})"
        for i in range(1, ROUNDS + 1))
    for k in range(chunks):
        con.execute(f"""INSERT INTO {res_table}
          WITH e0 AS (
            SELECT doc_id,
              '|' || regexp_replace(text, '(.)', '\\1|', 'g') AS s,
              len(text) - len(replace(text, ' ', '')) AS n_sp,
              len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS n_ws
            FROM documents
            WHERE text NOT LIKE '%|%' AND doc_id % {chunks} = {k}),
          {rounds}
          SELECT doc_id,
            CAST(len(s) - len(replace(s, '|', '')) - 1 - n_sp AS BIGINT),
            CAST(n_ws AS BIGINT)
          FROM e{ROUNDS}""")
        step(f"encode chunk {k + 1}/{chunks}")
    return f"SELECT doc_id, n_bpe_tokens, n_ws_tokens FROM {res_table} ORDER BY doc_id"
