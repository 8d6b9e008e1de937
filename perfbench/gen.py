"""Seeded input generators for the benchmark workloads.

Every generator takes a `random.Random` built from the run's seed, so the
same seed gives byte-identical inputs:

- `query_order`: the order of the query panel;
- `lineage_corpus`: SQL scripts templated from the ported reference
  scripts, with their expected column-lineage edges;
- `manifest_oplog`: the op log of the manifest-rw workload, with the
  parquet files its writes take as input.
"""
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def query_order(rng, panel):
    """The panel of queries in the order the client sends them: a seeded
    shuffle. The panel itself is fixed (pool.json): drawing it per seed
    made run-to-run spread depend on which queries were drawn."""
    order = list(panel)
    rng.shuffle(order)
    return order


# Each lineage template: the reference case id, the registered query
# whose frozen oracle rows hold its edges, and the tables it creates or
# inserts into (renamed per generated script, so clients never share a
# DDL target).
LINEAGE_TEMPLATES = {
    "0001": ("q60_lineage_basic", []),
    "0002": ("q61_lineage_join", []),
    "0004": ("q63_lineage_lateralview", []),
    "0005": ("q62_lineage_union", []),
    "0006": ("q65_lineage_ctas", ["test_tab101"]),
    "0007": ("q69_lineage_asterisks", []),
    "0008": ("q64_lineage_groupby", []),
    "0009": ("q66_lineage_multiinsert", ["dest_table_1", "dest_table_2"]),
}
EDGE_COLS = ["target", "out_column", "parent_schema", "parent_table",
             "parent_column", "context"]


def frozen_edges(oracle_sql):
    """Rows of a frozen VALUES oracle, as tuples in EDGE_COLS order."""
    con = duckdb.connect()
    cols = ", ".join(EDGE_COLS)
    return [tuple(r) for r in con.execute(
        f"SELECT {cols} FROM ({oracle_sql}) t").fetchall()]


def lineage_corpus(rng, scripts, oracles, clients, per_client):
    """`per_client` scripts for each of `clients` clients. A script joins
    one, two or three templates, in turn, so every client sends the same
    mix of script sizes; the seed picks the templates, each ported
    reference case equally likely. Every table a template creates or inserts
    into is renamed to `<name>_<script>_r__R__`, where the harness puts
    the repetition number in place of `__R__`. Returns (corpus, expected):
    corpus[c] = [{"id", "sql"}], expected[id] = sorted edge tuples, with
    `__R__` still in them."""
    frozen = {case: frozen_edges(oracles[q])
              for case, (q, _) in LINEAGE_TEMPLATES.items()}
    cases = sorted(LINEAGE_TEMPLATES)
    corpus, expected = [], {}
    for c in range(clients):
        mine = []
        for k in range(per_client):
            sid = f"c{c}s{k}"
            parts, edges = [], []
            for case in rng.choices(cases, k=1 + k % 3):
                sql = scripts[case].rstrip().rstrip(";") + ";"
                renames = {t: f"{t}_{sid}_{len(parts)}_r__R__"
                           for t in LINEAGE_TEMPLATES[case][1]}
                for old, new in renames.items():
                    sql = re.sub(rf"\b{old}\b", new, sql)
                parts.append(sql)
                for row in frozen[case]:
                    row = list(row)
                    for i in (0, 3):  # target and parent_table
                        for old, new in renames.items():
                            row[i] = re.sub(rf"\b{old}\b", new, row[i])
                    edges.append(tuple(row))
            mine.append({"id": sid, "sql": "\n".join(parts)})
            expected[sid] = sorted(edges)
        corpus.append(mine)
    return corpus, expected


MANIFEST_SCHEMA = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP")
MANIFEST_KEYS = ["l_orderkey", "l_linenumber"]
MANIFEST_COLS = [c.split()[0] for c in MANIFEST_SCHEMA.split(", ")]
# Rendered size of a row: its fields joined by commas plus a newline, the
# user bytes that write and space amplification are measured against.
ROW_BYTES = ("length(concat_ws(',', " + ", ".join(
    f"coalesce(CAST({c} AS VARCHAR), '')" for c in MANIFEST_COLS) + ")) + 1")


# The manifest-rw op log. Its sizes and mix are assumed, not measured
# from a user's traffic: a fixed cycle of ten ops (four scans, three
# appends, two upserts, one delete), a compaction after every
# COMPACT_EVERY writes, and a table that starts with BASE_ROWS rows.
BASE_ROWS = 10000
SLICE_ROWS = 1000
SCAN_ROWS = 2000
UPSERT_ROWS = 300
UPSERT_NEW_ROWS = 50
DELETE_ROWS = 60
COMPACT_EVERY = 6
OP_CYCLE = ["scan", "append", "scan", "upsert", "scan", "append", "delete", "scan",
            "append", "upsert"]


def manifest_oplog(rng, lineitem, out_dir, n_ops):
    """Op log for manifest-rw over slices of `lineitem`, in key order:
    a base slice (loaded at set-up), then appends of the next slices,
    upserts of live keys plus new keys, range deletes, range scans, and a
    compaction after every COMPACT_EVERY writes. The seed picks the
    keys and ranges. Input rows go to one parquet file per write under
    `out_dir`. Returns (base_file, ops)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    cols = ", ".join(c if c != "l_shipdate" else
                     "CAST(l_shipdate AS TIMESTAMPTZ) AS l_shipdate"
                     for c in MANIFEST_COLS)
    con.execute(f"CREATE TABLE src_n AS SELECT row_number() OVER "
                f"(ORDER BY l_orderkey, l_linenumber) - 1 AS rn, {cols} FROM '{lineitem}'")
    total = con.execute("SELECT count(*) FROM src_n").fetchone()[0]
    start = rng.randrange(0, total // 4)
    pos = start + BASE_ROWS

    def write(name, sql):
        path = os.path.join(out_dir, name)
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return path

    def key_at(rn):
        return con.execute(
            f"SELECT l_orderkey FROM src_n WHERE rn = {min(rn, total - 1)}").fetchone()[0]

    base = write("base.parquet", f"SELECT {', '.join(MANIFEST_COLS)} FROM src_n "
                 f"WHERE rn >= {start} AND rn < {pos}")
    ops, writes, upserts = [], 0, 0
    for i in range(n_ops):
        if writes and writes % COMPACT_EVERY == 0 and ops[-1]["kind"] != "compact":
            ops.append({"kind": "compact"})
            continue
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        if kind == "append" and pos + SLICE_ROWS > total:
            kind = "scan"
        if kind == "scan":
            lo = rng.randrange(start, pos)
            ops.append({"kind": "scan", "pred": f"l_orderkey BETWEEN {key_at(lo)} "
                        f"AND {key_at(lo + SCAN_ROWS)}"})
            continue
        writes += 1
        if kind == "append":
            f = write(f"op{i}.parquet", f"SELECT {', '.join(MANIFEST_COLS)} FROM src_n "
                      f"WHERE rn >= {pos} AND rn < {pos + SLICE_ROWS}")
            pos += SLICE_ROWS
            ops.append({"kind": "append", "file": f})
        elif kind == "upsert":
            rns = sorted(rng.sample(range(start, pos), UPSERT_ROWS))
            changed = ", ".join(
                f"{c} + 1 AS {c}" if c == "l_quantity" else
                f"'U' AS {c}" if c == "l_returnflag" else c for c in MANIFEST_COLS)
            # New keys: an existing order key with a line number no source
            # row has (they run 1 to 7) and no earlier upsert used, so the
            # scans, whose ranges are over order keys, read these rows too.
            upserts += 1
            fresh = ", ".join(
                f"l_linenumber + {100 * upserts} AS l_linenumber" if c == "l_linenumber"
                else c for c in MANIFEST_COLS)
            f = write(f"op{i}.parquet",
                      f"SELECT {changed} FROM src_n WHERE rn IN ({', '.join(map(str, rns))}) "
                      f"UNION ALL SELECT {fresh} FROM src_n "
                      f"WHERE rn IN ({', '.join(map(str, rns[::UPSERT_ROWS // UPSERT_NEW_ROWS]))})")
            ops.append({"kind": "upsert", "file": f})
        else:
            lo = rng.randrange(start, pos)
            ops.append({"kind": "delete", "pred": f"l_orderkey BETWEEN {key_at(lo)} "
                        f"AND {key_at(lo + DELETE_ROWS)}"})
    return base, ops
