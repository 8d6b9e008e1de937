"""Tests of the benchmark's own generators and answer checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need neither Spark nor a build: the generators run on the tables
that ship with the benchmark, and each check is fed a correct answer and
then one perturbed answer, which it must count as wrong.
"""
import hashlib
import os
import random
import shutil
import tempfile
import unittest

import duckdb

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
LINEITEM = os.path.join(HERE, "data", "sf0.001", "lineitem.parquet")
MANIFEST_LINEITEM = os.path.join(HERE, "data", "sf0.01", "lineitem.parquet")

SCRIPTS = {
    case: f"use adhoc;\nselect col400l from adhoc.tab40 /* {case} */;"
    for case in gen.LINEAGE_TEMPLATES}
SCRIPTS["0006"] = "use adhoc;\ncreate table test_tab101 as select col400l from adhoc.tab40;"
SCRIPTS["0009"] = ("create table dw.dest_table_1 (c int);\n"
                   "insert into table dw.dest_table_1 select col103i from dw.tab10;")
ORACLES = {
    q: "SELECT * FROM (VALUES " + ", ".join(
        f"('{tgt}', 'c{i}', 'dw', 'tab10', 'col10{i}', 'SELECT')" for i in range(3)) +
       ") AS t(target, out_column, parent_schema, parent_table, parent_column, context)"
    for q, tgt in ((q, {"0006": "adhoc.test_tab101", "0009": "dw.dest_table_1"}.get(c, ""))
                   for c, (q, _) in gen.LINEAGE_TEMPLATES.items())}


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def test_query_order(self):
        panel = [f"q{i}" for i in range(12)]
        a = gen.query_order(random.Random(7), panel)
        self.assertEqual(a, gen.query_order(random.Random(7), panel))
        self.assertNotEqual(a, gen.query_order(random.Random(8), panel))
        self.assertEqual(sorted(a), sorted(panel))

    def test_lineage_corpus(self):
        a = gen.lineage_corpus(random.Random(3), SCRIPTS, ORACLES, clients=2, per_client=20)
        b = gen.lineage_corpus(random.Random(3), SCRIPTS, ORACLES, clients=2, per_client=20)
        self.assertEqual(a, b)
        corpus, expected = a
        names = [s["sql"] for c in corpus for s in c if "test_tab101" in s["sql"]]
        self.assertTrue(names)
        # renamed targets are unique per script and carry the repetition token
        for sql in names:
            self.assertNotRegex(sql, r"\btest_tab101\b")
            self.assertIn("__R__", sql)

    def test_manifest_oplog(self):
        out = []
        for _ in range(2):
            d = tempfile.mkdtemp()
            self.addCleanup(shutil.rmtree, d)
            base, ops = gen.manifest_oplog(random.Random(5), MANIFEST_LINEITEM, d, n_ops=40)
            files = sorted(os.listdir(d))
            out.append(([o.get("pred") for o in ops], [o["kind"] for o in ops],
                        files, [digest(os.path.join(d, f)) for f in files]))
        self.assertEqual(out[0], out[1])
        self.assertIn("compact", out[0][1])
        # Scans read rows that upserts insert under new keys.
        con = duckdb.connect()
        reached = 0
        for i, o in enumerate(ops):
            if o["kind"] == "scan":
                for u in ops[:i]:
                    if u["kind"] == "upsert":
                        reached += con.execute(
                            f"SELECT count(*) FROM '{u['file']}' WHERE l_linenumber > 7 "
                            f"AND {o['pred']}").fetchone()[0]
        self.assertGreater(reached, 0)


class ChecksCatchPerturbations(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.dir)
        self.con = duckdb.connect()

    def write(self, name, sql):
        path = os.path.join(self.dir, name)
        os.makedirs(path)
        self.con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
        return path

    def test_changed_query_value(self):
        oracle = "SELECT CAST(range AS BIGINT) AS k, range * 2.5 AS v FROM range(50)"
        good = self.write("good", oracle)
        bad = self.write("bad", "SELECT k, CASE WHEN k = 17 THEN v + 1 ELSE v END AS v "
                                f"FROM ({oracle})")
        data = os.path.join(HERE, "data", "sf0.001")
        wrong, rows = check.check_queries(data, {"good": good, "bad": bad},
                                          {"good": oracle, "bad": oracle})
        self.assertEqual(wrong, {"bad"})
        self.assertEqual(rows, {"good": 50})

    def test_dropped_lineage_edge(self):
        corpus, expected = gen.lineage_corpus(random.Random(1), SCRIPTS, ORACLES, 1, 2)
        sids = [s["id"] for s in corpus[0]]
        path = os.path.join(self.dir, "edges.tsv")
        with open(path, "w") as f:
            for sid in sids:
                edges = expected[sid][1:] if sid == sids[1] else expected[sid]
                for e in edges:
                    f.write("\t".join([sid, "4"] + [v.replace("__R__", "4") for v in e]) + "\n")
        self.assertEqual(check.check_lineage(path, expected, [(s, 4) for s in sids]),
                         {(sids[1], 4)})

    def test_lost_manifest_row(self):
        cols = ", ".join(gen.MANIFEST_COLS)
        src = (f"SELECT {cols.replace('l_shipdate', 'CAST(l_shipdate AS TIMESTAMPTZ) AS l_shipdate')} "
               f"FROM '{LINEITEM}'")
        base = os.path.join(self.write("base", f"{src} WHERE l_orderkey < 2000"), "part-0.parquet")
        pred = "l_orderkey BETWEEN 100 AND 900"
        self.con.execute("SET TimeZone = 'UTC'")
        full = self.write("scan0", f"SELECT * FROM '{base}' WHERE {pred}")
        lost = self.write("scan1", f"SELECT * FROM '{base}' WHERE {pred} QUALIFY "
                                   "row_number() OVER (ORDER BY l_orderkey, l_linenumber) > 1")
        ops = [{"kind": "scan", "pred": pred}, {"kind": "scan", "pred": pred}]
        wrong, _, _, rows = check.check_manifest(base, ops, [0, 1], {"0": full, "1": lost})
        self.assertEqual(wrong, {1})
        self.assertEqual(rows[0], rows[1] + 1)

    def test_lost_upserted_row(self):
        cols = ", ".join(gen.MANIFEST_COLS)
        src = (f"SELECT {cols.replace('l_shipdate', 'CAST(l_shipdate AS TIMESTAMPTZ) AS l_shipdate')} "
               f"FROM '{LINEITEM}'")
        self.con.execute("SET TimeZone = 'UTC'")
        base = os.path.join(self.write("base", f"{src} WHERE l_orderkey < 2000"), "part-0.parquet")
        # An upsert that changes one row and inserts one under a new key.
        fresh = cols.replace("l_linenumber", "l_linenumber + 100 AS l_linenumber")
        upsert = os.path.join(self.write(
            "upsert", f"SELECT {cols.replace('l_quantity', 'l_quantity + 1 AS l_quantity')} "
                      f"FROM '{base}' WHERE l_orderkey = 3 AND l_linenumber = 1 "
                      f"UNION ALL SELECT {fresh} FROM '{base}' "
                      f"WHERE l_orderkey = 5 AND l_linenumber = 1"), "part-0.parquet")
        pred = "l_orderkey BETWEEN 1 AND 10"
        after = (f"SELECT * FROM '{base}' WHERE {pred} AND NOT (l_orderkey = 3 AND "
                 f"l_linenumber = 1) UNION ALL SELECT * FROM '{upsert}'")
        full = self.write("scan0", after)
        lost = self.write("scan1", f"SELECT * FROM ({after}) WHERE l_linenumber <= 7")
        ops = [{"kind": "upsert", "file": upsert}, {"kind": "scan", "pred": pred},
               {"kind": "scan", "pred": pred}]
        wrong, _, _, rows = check.check_manifest(base, ops, [0, 1, 2], {"1": full, "2": lost})
        self.assertEqual(wrong, {2})
        self.assertEqual(rows[1], rows[2] + 1)


if __name__ == "__main__":
    unittest.main()
