#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, a closed loop for a
fixed time, every timed answer checked, metrics printed by name and unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run it from the root of a checkout. The first run builds the program
together with the harness (perfbench/harness, sbt, offline); later runs
reuse the build until a source file changes. Each run starts a fresh JVM
on local[nproc], sets up once (setup_s), warms up untimed, works in its own directory under .bench_run/ and
removes it at the end. Tests: python3 -m unittest discover -s perfbench

Workloads (see BENCHMARK.json for why each was chosen):
  queries-sf0.001  one client, a panel of registered queries (one per cost
                   band) in seeded order on 0.001-scale tables, each to
                   its full answer
  lineage-batch    nproc clients extracting and storing column lineage
                   of generated scripts, one Spark session each
  manifest-rw      one client replaying a seeded op log of appends,
                   upserts, deletes, range scans and compactions against
                   one Manifest connector table

With --trace 0 the last line of stdout carries the end-to-end metrics;
with --trace 1 half the operations are traced, and the last line carries
the per-layer metrics of the traced ones, with the tracing overhead
measured against the untraced ones. The lines before it give the same
numbers with sample counts for a reader.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ["queries-sf0.001", "lineage-batch", "manifest-rw"]
THREADS = len(os.sched_getaffinity(0))
# Untimed warm-up per workload, as a fixed amount of work rather than a
# time, so a run on a slowed host starts its loop as warm as any other:
# passes of the query panel, scripts per lineage client, manifest ops.
WARMUP = {"queries": 2, "lineage": 12, "manifest": 16}
HARNESS_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=/root/.sbt/repositories "
                "-Dsbt.offline=true -Xmx3g",
}


class BenchError(Exception):
    pass


def locked(name):
    """An exclusive lock file under the build dir, held for a `with`."""
    os.makedirs(BUILD, exist_ok=True)
    f = open(os.path.join(BUILD, name + ".lock"), "w")
    fcntl.flock(f, fcntl.LOCK_EX)
    return f


def source_stamp():
    """Hash of every source the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    for top in roots:
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for fn in sorted(files):
                if fn.endswith((".scala", ".sbt", ".java")):
                    p = os.path.join(d, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(HARNESS, "project", "build.properties"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program and harness unless the stamp says they are current;
    returns the java classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("program sources not found: run from the root of a checkout")
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "harness.stamp")
    with locked("build"):
        stamp = source_stamp()
        current = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
        if not current:
            log = os.path.join(BUILD, "build.log")
            tmp = os.path.join(BUILD, "tmp")
            os.makedirs(tmp, exist_ok=True)
            env = {**os.environ, **SBT_ENV}
            env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
            with open(log, "w") as out:
                rc = subprocess.call(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                    cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, env=env)
            if rc != 0:
                raise BenchError(f"build failed, see {log}")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))
    return ":".join([classes] + jars), stamp


def java(cp, args, run_dir, heap, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness"] + args)
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness timed out after {timeout}s")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited with {rc}:\n{tail}")


def catalog(cp, stamp):
    """The program's registered queries and lineage scripts (cached per
    build)."""
    path = os.path.join(BUILD, f"catalog-{stamp[:16]}.json")
    with locked("catalog"):
        if not os.path.exists(path):
            scratch = os.path.join(BUILD, "catalog-run")
            os.makedirs(scratch, exist_ok=True)
            java(cp, ["--catalog", path + ".tmp"], scratch, "1g", 120)
            os.replace(path + ".tmp", path)
            shutil.rmtree(scratch, ignore_errors=True)
    with open(path) as f:
        return json.load(f)


def load_panel(cat):
    """The query panel (pool.json), less any query no longer registered
    with an oracle."""
    with open(os.path.join(HERE, "pool.json")) as f:
        panel = json.load(f)["panel"]
    oracles = {q["name"] for q in cat["queries"] if q["oracle"]}
    return [q for q in panel if q in oracles]


# ---------------------------------------------------------------- metrics

def pct(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def tail_p(n):
    """The highest percentile with at least ten operations beyond it, never
    below the median."""
    return max(0.5, 1 - 10 / n)


def end_to_end(res, failed_ids):
    """End-to-end metrics over the correct operations."""
    ok = [o for o in res["ops"] if o[6] and o[0] not in failed_ids]
    lat = [(o[5] - o[4]) / 1e6 for o in ok]
    p = tail_p(len(lat)) if lat else 0.5
    m = {
        "ops_per_s": (len(ok) / res["loop_s"], "1/s"),
        "op_p50_ms": (pct(lat, 0.5) if lat else 0.0, "ms"),
        "op_tail_ms": (pct(lat, p) if lat else 0.0, "ms"),
        "setup_s": ((res["setup"]["session_ms"] + res["setup"]["table_warm_ms"]) / 1e3, "s"),
    }
    notes = {"op_tail_ms": f"p{100 * p:.1f} of {len(lat)} ops",
             "op_p50_ms": f"{len(lat)} ops", "setup_s": "one set-up in a fresh JVM"}
    return m, notes


PER_LAYER = [
    ("setup.session_ms", "ms"), ("setup.table_warm_ms", "ms"),
    ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
    ("operators.build_tasks", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"),
    ("catalyst.exchanges", "count"), ("catalyst.joins", "count"),
    ("exec.ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.scan_mb", "MB"),
    ("exec.shuffle_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.output_rows", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_wait_ms", "ms"),
    ("lineage.preprocess_ms", "ms"), ("lineage.parse_ms", "ms"),
    ("lineage.analyze_ms", "ms"), ("lineage.extract_ms", "ms"),
    ("lineage.extract_self_ms", "ms"), ("lineage.statements", "count"),
    ("lineage.skipped_statements", "count"), ("lineage.edges", "count"),
    ("lineage.store_ms", "ms"), ("lineage.store_jobs", "count"),
    ("lineage.store_bytes", "bytes"),
    ("sources.write_ms", "ms"), ("sources.upsert_ms", "ms"), ("sources.delete_ms", "ms"),
    ("sources.scan_ms", "ms"), ("sources.compact_ms", "ms"),
    ("sources.read_p50_ms", "ms"), ("sources.write_p50_ms", "ms"),
    ("sources.bytes_written", "bytes"), ("sources.jobs_per_write", "count"),
    ("sources.bytes_read_per_scan", "bytes"), ("sources.rows_read_per_row_returned", "ratio"),
    ("sources.bytes_rewritten", "bytes"), ("sources.files_live", "count"),
    ("sources.write_amp", "ratio"), ("sources.space_amp", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"), ("jvm.heap_peak_mb", "MB"),
    ("jvm.rss_peak_mb", "MB"),
    ("trace.ops", "count"), ("trace.overhead_pct", "%"),
]
# jvm.heap_peak_mb sums the peaks of the heap pools, an upper bound of the
# heap's peak; jvm.rss_peak_mb is the process's VmHWM at the end of the loop.
WRITES = ("append", "upsert", "delete")


def per_layer(res, extra):
    """Per-layer numbers from the traced operations: means per operation
    of the kind the layer serves, from spans (self time) and counters."""
    traced = {o[0]: o for o in res["ops"] if o[8]}
    span = {}
    for name, op, _parent, t0, t1 in res["spans"]:
        if op in traced:
            span[(op, name)] = span.get((op, name), 0.0) + (t1 - t0) / 1e6
    cnt = {}
    for op, key, v in res["counters"]:
        if op in traced:
            cnt[(op, key)] = v

    def c(op, key):
        return cnt.get((op, key), 0.0)

    def s(op, name):
        return span.get((op, name), 0.0)

    def csum(op, suffix, layers=None):
        return sum(v for (o, k), v in cnt.items() if o == op and k.endswith("." + suffix)
                   and (layers is None or k.split(".")[0] in layers))

    def mean(xs):
        xs = list(xs)
        return (sum(xs) / len(xs)) if xs else 0.0

    by_kind = {}
    for op, o in traced.items():
        by_kind.setdefault(o[2], []).append(op)
    queries, scripts = by_kind.get("query", []), by_kind.get("script", [])
    writes = [op for k in WRITES for op in by_kind.get(k, [])]
    scans, compacts = by_kind.get("scan", []), by_kind.get("compact", [])
    spark_ops = queries + [op for k, v in by_kind.items() if k not in ("query", "script")
                           for op in v]
    exec_layers = ("exec", "sources", "extract", "store")
    mb = 1024 * 1024
    m = {
        "setup.session_ms": res["setup"]["session_ms"],
        "setup.table_warm_ms": res["setup"]["table_warm_ms"],
        "operators.build_ms": mean(s(op, "operators.build") - c(op, "build.df_analysis_ms")
                                   for op in queries),
        "operators.build_jobs": mean(c(op, "build.jobs") for op in queries),
        "operators.build_tasks": mean(c(op, "build.tasks") for op in queries),
        "catalyst.analysis_ms": mean(c(op, "build.df_analysis_ms") +
                                     csum(op, "analysis_ms", exec_layers) for op in spark_ops),
        "catalyst.optimization_ms": mean(csum(op, "optimization_ms", exec_layers)
                                         for op in spark_ops),
        "catalyst.planning_ms": mean(csum(op, "planning_ms", exec_layers) for op in spark_ops),
        "catalyst.plan_nodes": mean(csum(op, "plan_nodes", exec_layers) for op in spark_ops),
        "catalyst.exchanges": mean(csum(op, "exchanges", exec_layers) for op in spark_ops),
        "catalyst.joins": mean(csum(op, "joins", exec_layers) for op in spark_ops),
        "exec.ms": mean(s(op, "exec.write") - sum(c(op, f"exec.{ph}_ms") for ph in (
            "analysis", "optimization", "planning")) for op in queries),
        "exec.task_cpu_ms": mean(csum(op, "task_cpu_ms", exec_layers) for op in spark_ops),
        "exec.scan_mb": mean(csum(op, "bytes_read", exec_layers) / mb for op in spark_ops),
        "exec.shuffle_mb": mean(csum(op, "shuffle_bytes", exec_layers) / mb for op in spark_ops),
        "exec.spill_mb": mean(csum(op, "spill_bytes", exec_layers) / mb for op in spark_ops),
        "exec.output_rows": mean(extra.get("rows", {}).get(traced[op][3], 0) for op in queries),
        "exec.jobs": mean(csum(op, "jobs", exec_layers) for op in spark_ops),
        "exec.stages": mean(csum(op, "stages", exec_layers) for op in spark_ops),
        "exec.tasks": mean(csum(op, "tasks", exec_layers) for op in spark_ops),
        "exec.task_wait_ms": mean(csum(op, "task_wait_ms", exec_layers) for op in spark_ops),
        "lineage.preprocess_ms": mean(s(op, "lineage.preprocess") for op in scripts),
        "lineage.parse_ms": mean(c(op, "lineage.parse_ms") for op in scripts),
        "lineage.analyze_ms": mean(c(op, "lineage.analyze_ms") for op in scripts),
        "lineage.extract_ms": mean(s(op, "lineage.extract") for op in scripts),
        "lineage.extract_self_ms": mean(
            s(op, "lineage.extract") - c(op, "lineage.parse_ms") - c(op, "lineage.analyze_ms")
            for op in scripts),
        "lineage.statements": mean(c(op, "lineage.statements") for op in scripts),
        "lineage.skipped_statements": mean(c(op, "lineage.skipped_statements")
                                           for op in scripts),
        "lineage.edges": mean(c(op, "lineage.edges") for op in scripts),
        "lineage.store_ms": mean(s(op, "lineage.store") for op in scripts),
        "lineage.store_jobs": mean(c(op, "store.jobs") for op in scripts),
        "lineage.store_bytes": mean(c(op, "lineage.store_bytes") for op in scripts),
        "sources.write_ms": mean(s(op, "sources.append") for op in by_kind.get("append", [])),
        "sources.upsert_ms": mean(s(op, "sources.upsert") for op in by_kind.get("upsert", [])),
        "sources.delete_ms": mean(s(op, "sources.delete") for op in by_kind.get("delete", [])),
        "sources.scan_ms": mean(s(op, "sources.scan") for op in scans),
        "sources.compact_ms": mean(s(op, "sources.compact") for op in compacts),
        "sources.read_p50_ms": statistics.median(
            [s(op, "sources.scan") for op in scans]) if scans else 0.0,
        "sources.write_p50_ms": statistics.median(
            [s(op, "sources." + traced[op][2]) for op in writes]) if writes else 0.0,
        "sources.bytes_written": mean(c(op, "sources.bytes_written") for op in writes),
        "sources.jobs_per_write": mean(c(op, "sources.jobs") for op in writes),
        "sources.bytes_read_per_scan": mean(c(op, "sources.bytes_read") for op in scans),
        "sources.rows_read_per_row_returned": (
            sum(c(op, "sources.records_read") for op in scans) /
            max(1, sum(extra.get("scan_rows", {}).get(op, 0) for op in scans))),
        "sources.bytes_rewritten": mean(c(op, "sources.bytes_written") for op in compacts),
        "sources.files_live": float(extra.get("files_live", 0)),
        "sources.write_amp": (
            sum(c(op, "sources.bytes_written") for op in writes + compacts) /
            max(1, sum(extra.get("user_bytes", {}).get(op, 0) for op in writes))
            if writes else 0.0),
        "sources.space_amp": extra.get("space_amp", 0.0),
        "jvm.gc_ms": float(res["jvm"]["gc_ms"]),
        "jvm.gc_count": float(res["jvm"]["gc_count"]),
        "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
        "jvm.rss_peak_mb": res["jvm"]["rss_peak_mb"],
        "trace.ops": float(len(traced)),
        "trace.overhead_pct": extra.get("overhead_pct", 0.0),
    }
    samples = {"operators": len(queries), "lineage": len(scripts), "sources.writes": len(writes),
               "sources.scans": len(scans), "sources.compacts": len(compacts),
               "spark ops": len(spark_ops)}
    return {k: (m[k], unit) for k, unit in PER_LAYER}, samples


def overhead_pct(res):
    """Tracing overhead: how much longer traced operations took than the
    untraced ones of the same query (or op kind), as a percentage; each
    group weighted by its size. Falls back to all traced against all
    untraced operations when no group has both."""
    groups = {}
    for o in res["ops"]:
        if o[6]:
            key = o[3] if o[2] == "query" else o[2]
            groups.setdefault(key, ([], []))[int(o[8])].append((o[5] - o[4]) / 1e6)
    both = [(u, t) for u, t in groups.values() if u and t]
    if not both:
        u = [x for g in groups.values() for x in g[0]]
        t = [x for g in groups.values() for x in g[1]]
        both = [(u, t)] if u and t else []
    if not both:
        return 0.0
    w = sum(len(u) + len(t) for u, t in both)
    ratio = sum((len(u) + len(t)) * statistics.mean(t) / statistics.mean(u)
                for u, t in both) / w
    return 100.0 * (ratio - 1)


# ---------------------------------------------------------------- running

def run_workload(workload, seed, seconds, trace, cp, cat):
    t_start = time.time()
    rng = random.Random(f"{workload}:{seed}")
    run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}-{time.time_ns()}")
    inputs, out, work = (os.path.join(run_dir, d) for d in ("inputs", "out", "work"))
    for d in (inputs, out, work):
        os.makedirs(d)
    try:
        plan = {"workload": workload.split("-")[0], "seconds": seconds, "trace": trace,
                "threads": THREADS, "warmup": WARMUP[workload.split("-")[0]],
                "work": work, "out": out}
        oracles = {q["name"]: q["oracle"] for q in cat["queries"]}
        extra = {}
        if workload.startswith("queries"):
            plan["data"] = os.path.join(HERE, "data", "sf0.001")
            plan["queries"] = gen.query_order(rng, load_panel(cat))
        elif workload == "lineage-batch":
            plan["data"] = ""
            plan["scripts"], expected = gen.lineage_corpus(
                rng, cat["lineage_scripts"], oracles, THREADS, per_client=40)
        else:
            plan["data"] = ""
            base, ops = gen.manifest_oplog(
                rng, os.path.join(HERE, "data", "sf0.01", "lineitem.parquet"), inputs,
                n_ops=int(10 * seconds) + 20)
            plan.update(base=base, ops=ops, schema=gen.MANIFEST_SCHEMA, keys=gen.MANIFEST_KEYS)
        t_gen = time.time()
        plan_path = os.path.join(inputs, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result_path = os.path.join(out, "result.json")
        java(cp, [plan_path, result_path], run_dir, "4g", HARNESS_TIMEOUT_S)
        t_java = time.time()
        with open(result_path) as f:
            res = json.load(f)
        ops = res["ops"]
        if workload.startswith("queries"):
            wrong, extra["rows"] = check.check_queries(
                plan["data"], res["verify"]["answers"], oracles)
            failed = {o[0] for o in ops if o[3] in wrong}
        elif workload == "lineage-batch":
            executed = {tuple(o[3].rsplit(".", 1)): o[0] for o in ops if o[6]}
            wrong = check.check_lineage(
                res["verify"]["edges"], expected,
                [(sid, int(rep)) for sid, rep in executed])
            failed = {executed[(sid, str(rep))] for sid, rep in wrong}
        else:
            v = res["verify"]
            wrong, user, live, extra["scan_rows"] = check.check_manifest(
                plan["base"], plan["ops"], v["applied"], v["scans"])
            failed = set(wrong)
            extra["user_bytes"] = user
            extra["files_live"] = v["files_live"]
            extra["space_amp"] = v["bytes_stored"] / max(1, live)
        failed |= {o[0] for o in ops if not o[6]}
        print(f"# {workload}: inputs {t_gen - t_start:.1f}s, harness {t_java - t_gen:.1f}s, "
              f"checks {time.time() - t_java:.1f}s", file=sys.stderr)
        errors = sorted({o[7] for o in ops if not o[6]})
        for e in errors[:5]:
            print(f"# error: {e}", file=sys.stderr)
        if trace:
            extra["overhead_pct"] = overhead_pct(res)
            metrics, samples = per_layer(res, extra)
            notes = {"trace.ops": "samples: " + ", ".join(f"{k} {v}" for k, v in samples.items())}
        else:
            metrics, notes = end_to_end(res, failed)
        return {"correct": not failed, "attempted": len(ops), "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}, notes
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(workload, result, notes):
    print(f"# {workload}: {result['attempted']} ops attempted, {result['failed']} failed "
          f"(fail_ratio {result['failed'] / max(1, result['attempted']):.4f})")
    for k, m in result["metrics"].items():
        print(f"#   {k:38s} {m['value']:14.4f} {m['unit']:6s} {notes.get(k, '')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp, stamp = build()
        cat = catalog(cp, stamp)
        results = {}
        for w in (WORKLOADS if a.workload == "all" else [a.workload]):
            results[w], notes = run_workload(w, a.seed, a.seconds, a.trace, cp, cat)
            report(w, results[w], notes)
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2
    if a.workload == "all":
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}/{k}": m for w, r in results.items()
                             for k, m in r["metrics"].items()}}
    else:
        final = results[a.workload]
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
