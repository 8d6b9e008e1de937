#!/usr/bin/env python3
"""Rank lock waits and forked processes in a JFR recording.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr,settings=profile <command>
    jfr print --json --events jdk.JavaMonitorEnter,jdk.ProcessStart /tmp/x.jfr > x.json
    python3 tools/jfr_top.py x.json [top]      # or read the JSON from stdin

Prints, largest first: seconds threads spent blocked entering a monitor
(jdk.JavaMonitorEnter), by monitor class and top frame; and processes
started (jdk.ProcessStart), by command, each path argument folded to its
file extension (`chmod 0644 <*.crc>`). Standard library only.
"""
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


def main():
    src = open(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1] != "-" else sys.stdin
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    blocked, waits, forks = collections.Counter(), collections.Counter(), collections.Counter()
    for ev in json.load(src)["recording"]["events"]:
        v = ev["values"]
        if ev["type"] == "jdk.JavaMonitorEnter":
            key = (v["monitorClass"]["name"].replace("/", "."), top_frame(v))
            blocked[key] += seconds(v["duration"])
            waits[key] += 1
        elif ev["type"] == "jdk.ProcessStart":
            forks[" ".join(fold(a) for a in v["command"].split())] += 1
    print("# jdk.JavaMonitorEnter: seconds blocked, waits, monitor class, top frame")
    for key, s in blocked.most_common(top):
        print(f"{s:10.3f} {waits[key]:7d}  {key[0]}  {key[1]}")
    print("# jdk.ProcessStart: processes, command")
    for cmd, n in forks.most_common(top):
        print(f"{n:10d}  {cmd}")


if __name__ == "__main__":
    main()
