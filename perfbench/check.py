"""Answer checks. Each returns the set of operations whose answer is wrong;
run.py counts them as failed.

- Queries: the answer the harness wrote for each query is compared with
  the query's DuckDB oracle over the same tables: same column names and
  types, same row count, and an empty symmetric EXCEPT ALL.
- Lineage: each script's edges must equal its expected multiset.
- Manifest: each scan's rows must equal a DuckDB replay of the op log up
  to that scan.
"""
import collections
import csv
import os

import duckdb

from gen import EDGE_COLS, MANIFEST_COLS, MANIFEST_KEYS, ROW_BYTES, TABLES


def query_answer_ok(con, answer, oracle):
    """True when the parquet answer at `answer` equals the oracle SQL's
    result exactly; `con` has the workload's tables as views."""
    got = f"'{answer}/*.parquet'"
    gd = con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()
    ed = con.execute(f"DESCRIBE {oracle}").fetchall()
    if sorted(r[:2] for r in gd) != sorted(r[:2] for r in ed):
        return False
    cols = ", ".join(f'"{r[0]}"' for r in sorted(gd))
    con.execute(f"CREATE OR REPLACE TEMP VIEW _got AS SELECT {cols} FROM {got}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW _exp AS SELECT {cols} FROM ({oracle}) _o")
    n_got = con.execute("SELECT count(*) FROM _got").fetchone()[0]
    n_exp = con.execute("SELECT count(*) FROM _exp").fetchone()[0]
    return n_got == n_exp and not con.execute(
        "(SELECT * FROM _got EXCEPT ALL SELECT * FROM _exp) UNION ALL "
        "(SELECT * FROM _exp EXCEPT ALL SELECT * FROM _got) LIMIT 1").fetchall()


def check_queries(data_dir, answers, oracles):
    """answers: query -> parquet dir, or 'ERROR ...' when the verify pass
    threw. Returns (wrong query names, answer row counts)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    wrong, rows = set(), {}
    for name, path in sorted(answers.items()):
        try:
            ok = not path.startswith("ERROR") and query_answer_ok(con, path, oracles[name])
        except duckdb.Error:
            ok = False
        if ok:
            rows[name] = con.execute(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
        else:
            wrong.add(name)
    return wrong, rows


def check_lineage(edges_tsv, expected, executed):
    """executed: (script id, repetition) of each successful script.
    Returns the set of those whose edges differ from the expected ones."""
    got = collections.defaultdict(list)
    with open(edges_tsv, newline="") as f:
        for row in csv.reader(f, delimiter="\t", quoting=csv.QUOTE_NONE):
            got[(row[0], int(row[1]))].append(tuple(row[2:2 + len(EDGE_COLS)]))
    wrong = set()
    for sid, rep in executed:
        want = [tuple(v.replace("__R__", str(rep)) for v in e) for e in expected[sid]]
        if sorted(got.get((sid, rep), [])) != want:
            wrong.add((sid, rep))
    return wrong


def check_manifest(base, ops, applied, scans):
    """Replays the op log in DuckDB: the base slice, then every applied
    write in order, comparing each scan result on the way. Returns (wrong
    scan op ids, user bytes written per write op, live user bytes at the
    end, rows returned per scan op)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    cols = ", ".join(MANIFEST_COLS)
    con.execute(f"CREATE TABLE t AS SELECT {cols} FROM '{base}'")
    on = " AND ".join(f"t.{k} = n.{k}" for k in MANIFEST_KEYS)
    wrong, written, scan_rows = set(), {}, {}
    for i in sorted(applied):
        op = ops[i]
        kind = op["kind"]
        if kind in ("append", "upsert"):
            new = f"(SELECT {cols} FROM '{op['file']}')"
            if kind == "upsert":
                con.execute(f"DELETE FROM t USING {new} n WHERE {on}")
            con.execute(f"INSERT INTO t SELECT * FROM {new}")
            written[i] = con.execute(f"SELECT sum({ROW_BYTES}) FROM {new}").fetchone()[0]
        elif kind == "delete":
            con.execute(f"DELETE FROM t WHERE {op['pred']}")
        elif kind == "scan":
            path = scans.get(str(i))
            if path is None or not os.path.isdir(path):
                wrong.add(i)
                continue
            diff = con.execute(
                f"(SELECT {cols} FROM '{path}/*.parquet' EXCEPT ALL "
                f"SELECT {cols} FROM t WHERE {op['pred']}) UNION ALL "
                f"(SELECT {cols} FROM t WHERE {op['pred']} EXCEPT ALL "
                f"SELECT {cols} FROM '{path}/*.parquet') LIMIT 1").fetchall()
            if diff:
                wrong.add(i)
            scan_rows[i] = con.execute(
                f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
    live = con.execute(f"SELECT coalesce(sum({ROW_BYTES}), 0) FROM t").fetchone()[0]
    return wrong, written, live, scan_rows
