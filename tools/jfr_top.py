#!/usr/bin/env python3
"""Rank lock waits, forked processes or CPU samples in a JFR recording.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr,settings=profile <command>
    jfr print --json --events jdk.JavaMonitorEnter,jdk.ProcessStart /tmp/x.jfr > x.json
    python3 tools/jfr_top.py x.json [top]      # or read the JSON from stdin

Prints, largest first: seconds threads spent blocked entering a monitor
(jdk.JavaMonitorEnter), by monitor class and top frame; and processes
started (jdk.ProcessStart), by command, each path argument folded to its
file extension (`chmod 0644 <*.crc>`). Each --under (below) keeps only
the events whose stack has a matching frame, so forks under
`graft.sources` count apart from the rest of the process's:

    jfr print --json --stack-depth 400 --events jdk.JavaMonitorEnter,jdk.ProcessStart /tmp/x.jfr > x.json
    python3 tools/jfr_top.py --under graft.sources x.json

    jfr print --json --stack-depth 400 --events jdk.ExecutionSample /tmp/x.jfr > cpu.json
    python3 tools/jfr_top.py --cpu [--under <frame substring>]... cpu.json [top]

With --cpu, ranks CPU samples (jdk.ExecutionSample) by the nearest
`graft.` frame on their stack. Each --under keeps only the events with a
frame (`package.Class.method`) containing that substring; given more than
once, an event must match all. The default print depth of 5 frames hides
most graft frames under Spark's, hence --stack-depth; record deep stacks
too (-XX:FlightRecorderOptions=stackdepth=1024). Standard library only.
"""
import argparse
import collections
import json
import re
import sys


def seconds(iso):
    h, m, s = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso).groups()
    return float(h or 0) * 3600 + float(m or 0) * 60 + float(s or 0)


def top_frame(values):
    fs = (values.get("stackTrace") or {}).get("frames") or []
    if not fs:
        return "?"
    m = fs[0]["method"]
    return f"{m['type']['name'].replace('/', '.')}.{m['name']}:{fs[0].get('lineNumber')}"


def fold(arg):
    if "/" not in arg:
        return arg
    name = arg.rsplit("/", 1)[-1]
    return f"<*.{name.rsplit('.', 1)[-1]}>" if "." in name else "<path>"


def label(under):
    return " under " + " and ".join(under) if under else ""


def frame_names(values):
    fs = (values.get("stackTrace") or {}).get("frames") or []
    return [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}" for f in fs]


def under_all(names, under):
    return all(any(u in n for n in names) for u in under)


def cpu(events, under, top):
    samples, total = collections.Counter(), 0
    for ev in events:
        if ev["type"] != "jdk.ExecutionSample":
            continue
        names = frame_names(ev["values"])
        if under_all(names, under):
            total += 1
            samples[next((n for n in names if n.startswith("graft.")), "(no graft frame)")] += 1
    print(f"# jdk.ExecutionSample: {total} samples{label(under)}; samples, share, nearest graft frame")
    for name, n in samples.most_common(top):
        print(f"{n:10d} {100.0 * n / total:6.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cpu", action="store_true")
    ap.add_argument("--under", action="append", default=[])
    ap.add_argument("json", nargs="?", default="-")
    ap.add_argument("top", nargs="?", type=int, default=10)
    args = ap.parse_args()
    src = open(args.json) if args.json != "-" else sys.stdin
    events, top = json.load(src)["recording"]["events"], args.top
    if args.cpu:
        return cpu(events, args.under, top)
    blocked, waits, forks = collections.Counter(), collections.Counter(), collections.Counter()
    for ev in events:
        v = ev["values"]
        if not under_all(frame_names(v), args.under):
            continue
        if ev["type"] == "jdk.JavaMonitorEnter":
            key = (v["monitorClass"]["name"].replace("/", "."), top_frame(v))
            blocked[key] += seconds(v["duration"])
            waits[key] += 1
        elif ev["type"] == "jdk.ProcessStart":
            forks[" ".join(fold(a) for a in v["command"].split())] += 1
    print(f"# jdk.JavaMonitorEnter{label(args.under)}: seconds blocked, waits, monitor class, top frame")
    for key, s in blocked.most_common(top):
        print(f"{s:10.3f} {waits[key]:7d}  {key[0]}  {key[1]}")
    print(f"# jdk.ProcessStart{label(args.under)}: {sum(forks.values())} processes; processes, command")
    for cmd, n in forks.most_common(top):
        print(f"{n:10d}  {cmd}")


if __name__ == "__main__":
    main()
