#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Reads each query's Spark-written parquet from outDir, runs the oracle SQL
from oracle_sql.json in DuckDB over the sfDir tables, and compares:
column names (sorted), column TYPES, row counts, and values.

ALL value comparisons run inside DuckDB as a symmetric EXCEPT ALL — exact,
typed, multi-threaded, spill-capable. Round 5 proved the old small-output
Python path (Decimal->float norm()) was blind exactly where the driver's
hash is strict: at ~1e15 magnitudes a cents-level DECIMAL(38,2) divergence
vanishes in the float conversion (2^53 mantissa), which is how q196 passed
locally while failing the driver gate. Type-strict EXCEPT ALL sees it.

On mismatch a few witness rows from each direction are printed; for
all-float witness pairs a near-miss tag is added as a diagnostic (it still
counts as FAIL — the driver's hash has no tolerance).
"""
import sys, json, glob, os, math
import duckdb


TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]


def keep(name, filt):
    """Whether the query filter selects `name`, by graft.Verify's rule for
    SPARK_GRAFT_ONLY: no filter keeps every name, else a name is kept if
    any comma-separated part is a substring of it. Parts split as Java's
    String.split does, which drops trailing empty parts."""
    if not filt:
        return True
    parts = filt.split(",")
    while parts and not parts[-1]:
        parts.pop()
    return any(p in name for p in parts)


def main(argv):
    sf_dir, out_dir = argv[1], argv[2]
    filt = argv[3] if len(argv) > 3 else ""
    # Queries that threw inside Verify leave no output dir; without this
    # manifest the dir scan below silently shrinks coverage (the round-7
    # failure mode: one bad loader dropped 60 queries from the artifact).
    errs_path = f"{out_dir}/verify_errors.json"
    errs = json.load(open(errs_path)) if os.path.exists(errs_path) else {}
    errs = sorted((q, e) for q, e in errs.items() if keep(q, filt))
    qdirs = [d for d in sorted(glob.glob(f"{out_dir}/*/"))
             if keep(os.path.basename(d.rstrip("/")), filt)]
    # a gate that checks nothing must not pass
    if not errs and not qdirs:
        print(f"no query matches filter {filt!r} in {out_dir}" if filt
              else f"no query output in {out_dir}")
        sys.exit(2)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    for qname, err in errs:
        print(f"FAIL {qname}: did not run: {err[:200]}")
        n_fail += 1
    for qdir in qdirs:
        name = os.path.basename(qdir.rstrip("/"))
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got_cnt = con.execute(
            f"SELECT count(*) FROM '{qdir}/*.parquet'").fetchone()[0]
        if name not in oracles:
            print(f"----  {name}: no oracle ({got_cnt} rows)"); n_noracle += 1
            continue
        # DESCRIBE binds without executing — cheap schema for both sides.
        try:
            gd = con.execute(
                f"DESCRIBE SELECT * FROM '{qdir}/*.parquet'").fetchall()
            ed = con.execute("DESCRIBE " + oracles[name]).fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        got_cols = [r[0] for r in gd]
        exp_cols = [r[0] for r in ed]
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: cols {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1; continue
        # type-strict: the driver hash-compares typed values, so a
        # HUGEINT/BIGINT-vs-INT oracle mismatch fails there even when the
        # numeric values are identical.
        gt = dict(r[:2] for r in gd)
        et = dict(r[:2] for r in ed)
        tdiff = {c: (gt.get(c), et.get(c)) for c in gt if gt.get(c) != et.get(c)}
        if tdiff:
            print(f"FAIL {name}: column types differ (spark vs oracle): {tdiff}")
            n_fail += 1; continue
        cols = ", ".join(f'"{c}"' for c in sorted(got_cols))
        try:
            con.execute(f"CREATE OR REPLACE TEMP VIEW _got AS "
                        f"SELECT {cols} FROM '{qdir}/*.parquet'")
            con.execute(f"CREATE OR REPLACE TEMP VIEW _exp AS "
                        f"SELECT {cols} FROM ({oracles[name]}) _oracle")
            exp_cnt = con.execute("SELECT count(*) FROM _exp").fetchone()[0]
            if got_cnt != exp_cnt:
                print(f"FAIL {name}: rowcount {got_cnt} != {exp_cnt}")
                n_fail += 1; continue
            extra = con.execute(
                "SELECT * FROM _got EXCEPT ALL SELECT * FROM _exp "
                "LIMIT 3").fetchall()
            missing = con.execute(
                "SELECT * FROM _exp EXCEPT ALL SELECT * FROM _got "
                "LIMIT 3").fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        if extra or missing:
            near = ""
            if len(extra) == 1 and len(missing) == 1 and all(
                (a == b) or (isinstance(a, float) and isinstance(b, float)
                             and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
                for a, b in zip(extra[0], missing[0])):
                near = " (float near-miss)"
            print(f"FAIL {name}: symmetric diff non-empty{near}\n"
                  f"  got-only {extra}\n  exp-only {missing}")
            n_fail += 1
        else:
            print(f"ok    {name} ({got_cnt} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv)
