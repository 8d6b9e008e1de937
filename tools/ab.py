#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark: a git revision against the
working tree.

    python3 tools/ab.py --rev <rev> --workload <w> [<w> ...] --pairs <n> \\
        --seed <first> [--seconds 10] [--trace 0|1]

The revision is extracted with `git archive` into `<tmp>/ab-<sha>`, where
`<tmp>` is the system temp dir (`TMPDIR`). A later call for the same
revision reuses that directory and its benchmark build; delete it by hand
when done. Before the pairs, each side runs the first workload once for
one second, untimed, so that both builds are done and warm.

Pair i (0-based) runs `perfbench/run.py` once in each checkout, on seed
`first + i` for every workload, the revision first when i is even and the
working tree first when i is odd. For each pair it prints every metric,
revision -> working tree. For each workload it then prints each side's
failed ops and runs with a wrong answer, each metric's median and
quartiles, the pairs each side won (ties count for neither; the direction
is the metric's `better` in BENCHMARK.json), and whether the working
tree's gain is claimable. It is claimable when at least ten pairs ran,
none was dropped for a crashed run, every run of both sides answered
correctly, the working tree failed no more ops than the revision, it won
at least nine tenths of the pairs run, and its median beats the
revision's by more than the distance between the revision's quartiles.
It only calls `perfbench/run.py`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev):
    sha = subprocess.check_output(["git", "rev-parse", "--verify", rev + "^{commit}"],
                                  cwd=ROOT, text=True).strip()
    d = os.path.join(tempfile.gettempdir(), f"ab-{sha[:12]}")
    if not os.path.isdir(d):
        tmp = d + ".part"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", tmp], stdin=archive.stdout)
        if archive.wait():
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, d)
    return sha, d


def bench(checkout, workload, seed, seconds, trace):
    """The benchmark's final JSON line, or None if the run failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    if p.returncode:
        print(f"  run failed in {checkout} (exit {p.returncode}):\n"
              + "".join("    " + l + "\n" for l in p.stderr.splitlines()[-5:]))
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload, pairs, n_run, better):
    """Medians, quartiles and pairs won over the pairs that completed;
    `n_run` counts the dropped ones too."""
    print(f"\n{workload}: {len(pairs)} of {n_run} pairs completed, revision -> working tree")
    failed = [sum(p[i]["failed"] for p in pairs) for i in (0, 1)]
    wrong = [sum(not p[i]["correct"] for p in pairs) for i in (0, 1)]
    print(f"  failed ops {failed[0]} -> {failed[1]}, runs with a wrong answer {wrong[0]} -> {wrong[1]}")
    sound = len(pairs) == n_run and not any(wrong) and failed[1] <= failed[0]
    for m in pairs[0][0]["metrics"]:
        a = [p[0]["metrics"][m]["value"] for p in pairs]
        b = [p[1]["metrics"][m]["value"] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        sign = {"higher": 1, "lower": -1}.get(better.get(m))
        line = (f"  {m:34s} {qa[1]:10.2f} ({qa[0]:.2f}-{qa[2]:.2f}) -> "
                f"{qb[1]:10.2f} ({qb[0]:.2f}-{qb[2]:.2f})")
        if qa[1]:
            line += f"  {100 * (qb[1] - qa[1]) / qa[1]:+6.1f}%"
        if sign:
            won = sum(sign * (y - x) > 0 for x, y in zip(a, b))
            lost = sum(sign * (y - x) < 0 for x, y in zip(a, b))
            claim = (sound and n_run >= 10 and won >= 0.9 * n_run
                     and sign * (qb[1] - qa[1]) > qa[2] - qa[0])
            line += f"  won {won}/{n_run}, lost {lost}" + ("  gain claimable" if claim else "")
        print(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", required=True)
    ap.add_argument("--workload", required=True, nargs="+")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    sha, rev_dir = extract(a.rev)
    sides = [(sha[:12], rev_dir), ("working tree", ROOT)]
    print(f"revision {sha[:12]} in {rev_dir}; working tree {ROOT}")
    for _, d in sides:
        bench(d, a.workload[0], 0, 1, 0)
    failed = False
    for w in a.workload:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = sides if i % 2 == 0 else sides[::-1]
            got = {name: bench(d, w, seed, a.seconds, a.trace) for name, d in order}
            res = [got[name] for name, _ in sides]
            if None in res:
                failed = True
                print(f"{w} pair {i} seed {seed}: dropped, a run failed")
                continue
            pairs.append(res)
            print(f"{w} pair {i} seed {seed} ({order[0][0]} first): "
                  f"ops {res[0]['attempted']}/{res[0]['failed']} failed -> "
                  f"{res[1]['attempted']}/{res[1]['failed']} failed")
            for m, v in res[0]["metrics"].items():
                print(f"  {m:34s} {v['value']:12.2f} -> {res[1]['metrics'][m]['value']:12.2f} {v['unit']}")
            sys.stdout.flush()
        if pairs:
            summarize(w, pairs, a.pairs, better)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
