#!/usr/bin/env python3
"""Count the subprocesses a JVM started, from its JFR recordings.

Record every JVM a benchmark run starts, then count:

    mkdir -p /tmp/fc
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/fc/%p.jfr" \\
        python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0
    python3 scripts/fork_census.py /tmp/fc/*.jfr

Where the JDK does not expand `%p` (JDK 17 does not), name a directory
instead, `filename=/tmp/fc/`, and JFR writes one file per JVM. The build
JVM (sbt) is recorded too, in a file of its own.

For each recording it prints the `jdk.ProcessStart` events grouped three
ways: by command (arguments that are paths dropped, so `chmod 0644 /a/b`
counts as `chmod 0644`), by the Hadoop call that ran it (the innermost
frame outside `org.apache.hadoop.util`, e.g. `RawLocalFileSystem.
setPermission`) and by the innermost graft or Spark frame that caused it.
It reads the events with the JDK's `jfr print --json --stack-depth 400`;
jfr's default depth of 5 frames ends inside Hadoop's `Shell` and hides
every caller.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

CALLER_PREFIXES = ("graft.", "perfbench.", "org.apache.spark.")


def jfr_binary():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("fork_census: no `jfr` tool on PATH or in $JAVA_HOME/bin")
    return found


def process_starts(jfr, recording):
    out = subprocess.run(
        [jfr, "print", "--json", "--stack-depth", "400", "--events", "jdk.ProcessStart",
         recording], check=True, capture_output=True, text=True).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def frames(event):
    trace = event.get("stackTrace") or {}
    for f in trace.get("frames") or []:
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def command_kind(event):
    words = (event.get("command") or "?").split()
    return " ".join(w for w in words if "/" not in w) or "?"


def hadoop_call(event):
    for name in frames(event):
        if name.startswith("org.apache.hadoop.") and not name.startswith("org.apache.hadoop.util."):
            return name
    return "(no Hadoop frame)"


def caller(event):
    for name in frames(event):
        if name.startswith(CALLER_PREFIXES):
            return name
    return "(no graft or Spark frame)"


def table(title, counter):
    print(f"  {title}:")
    for key, n in counter.most_common():
        print(f"    {n:7d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recordings", nargs="+", help="JFR files (.jfr)")
    args = ap.parse_args()
    jfr = jfr_binary()
    total = collections.Counter()
    for rec in args.recordings:
        events = process_starts(jfr, rec)
        print(f"{rec}: {len(events)} process starts")
        if events:
            table("by command", collections.Counter(map(command_kind, events)))
            table("by Hadoop call", collections.Counter(map(hadoop_call, events)))
            table("by graft/Spark caller", collections.Counter(map(caller, events)))
        total.update(map(command_kind, events))
    if len(args.recordings) > 1:
        print(f"all recordings: {sum(total.values())} process starts")
        table("by command", total)


if __name__ == "__main__":
    main()
