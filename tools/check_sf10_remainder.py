#!/usr/bin/env python3
"""Close the sf10 oracle remainder (SCALE.md): value-exact DuckDB
recompute of the four queries whose MONOLITHIC oracle SQL is infeasible
at sf10 on this host, decomposed into bounded steps with identical
semantics:

- q104_pagerank / q114_ppr: the chained r0..r5 CTE joins spill >70GB as
  one plan; materialize each round as a table instead (one join+groupby
  per step, integer fixed-point arithmetic copied verbatim).
- q67_cluster_rep: the per-doc MinHash (8 md5 lambdas over every
  shingle) is the grind; compute it in doc-sharded chunks, then iterate
  the reach closure to a fixed point (the WITH RECURSIVE UNION
  semantics, level by level).
- q115_bpe_encode: tools/bpe_oracle.py (shared with check.py) shards
  the corpus-wide pair counting (w0) and the per-doc encode (e0..e5)
  by doc ranges and runs the 5 merge rounds on the small distinct-word
  table.

Every fragment is copied from the recorded oracle SQL
(oracle_sql.json) byte-for-byte where possible — this is the SAME
oracle, paid for in installments. Compare = exact multiset (EXCEPT ALL
both ways) against the Spark dumps.

Usage: check_sf10_remainder.py [sfDir] [dumpDir] [q104,q67,...]
"""
import duckdb
import sys
import time

import bpe_oracle

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_sf10"
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
CHUNKS = 16

import os
# disk-backed: materialized step tables page out instead of holding RAM
con = duckdb.connect(os.environ.get("DB", "/tmp/sf10_check.duckdb"))
con.execute("SET threads=8")
con.execute("SET memory_limit='24GB'")
con.execute("SET temp_directory='/tmp/duck_sf10_rem'")
for t in ("documents", "lineitem", "orders"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def compare(q, res_table, dump_name):
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM '{OUT}/{dump_name}/*.parquet'").fetchall()]
    sel = ", ".join(cols)
    n_res, n_dump, d1, d2 = con.execute(f"""
        SELECT
          (SELECT count(*) FROM {res_table}),
          (SELECT count(*) FROM '{OUT}/{dump_name}/*.parquet'),
          (SELECT count(*) FROM ((SELECT {sel} FROM {res_table}) EXCEPT ALL
             (SELECT {sel} FROM '{OUT}/{dump_name}/*.parquet'))),
          (SELECT count(*) FROM ((SELECT {sel} FROM '{OUT}/{dump_name}/*.parquet')
             EXCEPT ALL (SELECT {sel} FROM {res_table})))
        """).fetchone()
    ok = n_res == n_dump and d1 == 0 and d2 == 0
    print(f"{'OK  ' if ok else 'FAIL'} {q}: rows={n_res} dump={n_dump} "
          f"diff={d1}+{d2}", flush=True)
    return ok


def want(q):
    return ONLY is None or any(q.startswith(o) for o in ONLY)


results = {}
t0 = time.time()

# ---------------------------------------------------------------- q104
if want("q104"):
    con.execute("""CREATE TABLE pr_p AS
      SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")
    con.execute("""CREATE TABLE pr_e AS
      SELECT c AS src, sp + 1000000000 AS dst FROM pr_p
      UNION ALL SELECT sp + 1000000000, c FROM pr_p""")
    con.execute(
        "CREATE TABLE pr_deg AS SELECT src, COUNT(*) AS od FROM pr_e GROUP BY src")
    cnt = con.execute("SELECT COUNT(*) FROM pr_deg").fetchone()[0]
    con.execute(f"""CREATE TABLE pr_r AS
      SELECT src AS node, 1000000000000 // {cnt} AS rank FROM pr_deg""")
    for i in range(5):
        con.execute(f"""CREATE TABLE pr_r_next AS
          SELECT e.dst AS node,
            15000000000000 // (100 * {cnt})
              + (85 * SUM(r.rank // d.od)) // 100 AS rank
          FROM pr_e e JOIN pr_r r ON e.src = r.node
               JOIN pr_deg d ON d.src = e.src
          GROUP BY e.dst""")
        con.execute("DROP TABLE pr_r")
        con.execute("ALTER TABLE pr_r_next RENAME TO pr_r")
        print(f"  q104 round {i+1}/5 done ({time.time()-t0:.0f}s)", flush=True)
    con.execute("""CREATE TABLE res_q104 AS
      SELECT node, CAST(rank AS BIGINT) AS rank FROM pr_r
      ORDER BY rank DESC, node ASC LIMIT 50""")
    results["q104"] = compare("q104_pagerank", "res_q104", "q104_pagerank")

# ---------------------------------------------------------------- q114
if want("q114"):
    if not con.execute(
            "SELECT count(*) FROM duckdb_tables() WHERE table_name='pr_e'"
            ).fetchone()[0]:
        con.execute("""CREATE TABLE pr_p AS
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")
        con.execute("""CREATE TABLE pr_e AS
          SELECT c AS src, sp + 1000000000 AS dst FROM pr_p
          UNION ALL SELECT sp + 1000000000, c FROM pr_p""")
        con.execute("CREATE TABLE pr_deg AS "
                    "SELECT src, COUNT(*) AS od FROM pr_e GROUP BY src")
    con.execute("""CREATE TABLE ppr_sb AS SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(75000000000 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(75000000000 AS BIGINT))) AS t(node, b)""")
    con.execute("""CREATE TABLE ppr_r AS
      SELECT node, CAST(500000000000 AS BIGINT) AS rank FROM ppr_sb""")
    for i in range(5):
        con.execute("""CREATE TABLE ppr_r_next AS
          SELECT COALESCE(c.node, sb.node) AS node,
            COALESCE(sb.b, 0) + (85 * COALESCE(c.sc, 0)) // 100 AS rank
          FROM (SELECT e.dst AS node, SUM(r.rank // d.od) AS sc
                FROM pr_e e JOIN ppr_r r ON e.src = r.node
                     JOIN pr_deg d ON d.src = e.src
                GROUP BY e.dst) c
          FULL JOIN ppr_sb sb ON sb.node = c.node""")
        con.execute("DROP TABLE ppr_r")
        con.execute("ALTER TABLE ppr_r_next RENAME TO ppr_r")
        print(f"  q114 round {i+1}/5 done ({time.time()-t0:.0f}s)", flush=True)
    con.execute("""CREATE TABLE res_q114 AS
      SELECT node, CAST(rank AS BIGINT) AS rank FROM ppr_r WHERE rank > 0
      ORDER BY rank DESC, node ASC LIMIT 30""")
    results["q114"] = compare("q114_ppr", "res_q114", "q114_ppr")

# ----------------------------------------------------------------- q67
if want("q67"):
    con.execute("""CREATE TABLE c67_mh (doc_id BIGINT, m0 BIGINT, m1 BIGINT,
      m2 BIGINT, m3 BIGINT, m4 BIGINT, m5 BIGINT, m6 BIGINT, m7 BIGINT)""")
    for k in range(CHUNKS):
        con.execute(f"""INSERT INTO c67_mh
          WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            WHERE len(string_split(text, ' ')) >= 3 AND doc_id % {CHUNKS} = {k}),
          sh AS (SELECT doc_id,
            [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)] AS s
            FROM toks)
          SELECT doc_id,
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('a:' || x), 1, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('a:' || x), 9, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('a:' || x), 17, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('a:' || x), 25, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('b:' || x), 1, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('b:' || x), 9, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('b:' || x), 17, 8) AS BIGINT)), 'min'),
            list_aggregate(list_transform(s, x -> CAST('0x' || substring(md5('b:' || x), 25, 8) AS BIGINT)), 'min')
          FROM sh""")
        print(f"  q67 mh chunk {k+1}/{CHUNKS} ({time.time()-t0:.0f}s)", flush=True)
    con.execute("""CREATE TABLE c67_edges AS
      WITH bands AS (
        SELECT doc_id, 0 AS band, m0 || '|' || m1 AS key FROM c67_mh UNION ALL
        SELECT doc_id, 1, m2 || '|' || m3 FROM c67_mh UNION ALL
        SELECT doc_id, 2, m4 || '|' || m5 FROM c67_mh UNION ALL
        SELECT doc_id, 3, m6 || '|' || m7 FROM c67_mh),
      bcap AS (
        SELECT doc_id, band, key FROM (
          SELECT doc_id, band, key,
            row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
          FROM bands) WHERE rn <= 1000),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bcap a JOIN bcap b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION SELECT doc_b, doc_a FROM cand""")
    # The oracle's `reach` closure materializes every (id, reachable-id)
    # pair — cluster_size^2 tuples, 66M+ at sf10 (the 100x replication
    # makes clusters of >= 100 verbatim copies). Its ONLY consumer is
    # `cc = MIN(r) per id`, i.e. the minimum reachable id — which
    # min-LABEL-PROPAGATION computes identically on the symmetric edge
    # set (labels decrease monotonically toward the min of the
    # component; the fixed point is exactly MIN over the closure's reach
    # set) with |V| state per round instead of the closure. Same final
    # value, paid in |V|-sized installments.
    con.execute("""CREATE TABLE c67_lbl AS
      SELECT DISTINCT src AS id, src AS lbl FROM c67_edges""")
    rounds = 0
    while True:
        con.execute("""CREATE TABLE c67_lbl_next AS
          SELECT id, MIN(lbl) AS lbl FROM (
            SELECT id, lbl FROM c67_lbl
            UNION ALL
            SELECT e.src AS id, p.lbl FROM c67_edges e
              JOIN c67_lbl p ON p.id = e.dst)
          GROUP BY id""")
        changed = con.execute("""SELECT count(*) FROM c67_lbl_next n
          JOIN c67_lbl o USING (id) WHERE n.lbl != o.lbl""").fetchone()[0]
        con.execute("DROP TABLE c67_lbl")
        con.execute("ALTER TABLE c67_lbl_next RENAME TO c67_lbl")
        rounds += 1
        print(f"  q67 label round {rounds}: {changed} changed "
              f"({time.time()-t0:.0f}s)", flush=True)
        if changed == 0:
            break
    con.execute("""CREATE TABLE res_q67 AS
      WITH cc AS (SELECT id AS doc_id, lbl AS cluster_id FROM c67_lbl),
      q AS (SELECT doc_id,
          CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
            / len(string_split(text,' ')) AS q
        FROM documents),
      j AS (SELECT cc.cluster_id, cc.doc_id, q.q FROM cc JOIN q USING (doc_id)),
      r AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY q DESC, doc_id ASC) AS rn,
          COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
        FROM j)
      SELECT cluster_id, n_docs, doc_id AS rep_doc_id, q AS rep_ratio
      FROM r WHERE rn = 1""")
    results["q67"] = compare("q67_cluster_rep", "res_q67", "q67_cluster_rep")

# ---------------------------------------------------------------- q115
if want("q115"):
    bpe_oracle.bpe_encode(con, "res_q115", CHUNKS,
                          log=lambda m: print(m, flush=True))
    results["q115"] = compare("q115_bpe_encode", "res_q115", "q115_bpe_encode")

print(f"\n{'ALL OK' if all(results.values()) else 'FAILURES'} / "
      f"{len(results)} queries in {time.time()-t0:.0f}s: {results}", flush=True)
sys.exit(0 if all(results.values()) else 1)
