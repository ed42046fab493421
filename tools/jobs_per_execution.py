#!/usr/bin/env python3
"""Spark jobs per root SQL execution, from a Spark event log.

Prints one line per root SQL execution, in start order: its id, the
number of Spark jobs it ran (nested executions included), its wall, and
the first `graft.` frame of its call site. Jobs that ran outside any SQL
execution (RDD actions, parallel file listing) get one line of their own,
and a last line gives the totals.

Usage:
  tools/jobs_per_execution.py EVENT_LOG [--within FRAME]

EVENT_LOG is an event log file (plain, or `.zstd` as Spark 4 writes by
default; decompressed with the `zstd` command) or an `eventlog_v2_*`
directory. `--within FRAME` keeps only what ran between the first start
and the last end of the root executions whose call stack contains FRAME,
e.g. `--within 'graft.KgIncrementalJob$.run'` for the applies of a run.

Event logs come from e.g.
  BENCH_EVENTLOG=true BENCH_EVENTLOG_DIR=/tmp/ev \\
    sbt -batch "runMain graft.tools.BenchOne kg_incr_job 1"
"""
import argparse
import json
import os
import subprocess
import sys

SQL = "org.apache.spark.sql.execution.ui."


def event_files(path):
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<appId>[.<codec>]: roll order is the index
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def events(path):
    for f in event_files(path):
        if f.endswith(".zstd"):
            text = subprocess.run(["zstd", "-dc", f], check=True, capture_output=True).stdout
            lines = text.decode("utf-8").splitlines()
        elif f.endswith((".lz4", ".lzf", ".snappy")):
            sys.exit(f"{f}: only plain and .zstd event logs are supported")
        else:
            with open(f, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
        for line in lines:
            if line:
                yield json.loads(line)


def graft_frame(details):
    for frame in details.splitlines():
        if frame.startswith("graft."):
            return frame
    return details.splitlines()[0] if details else "?"


def summarize(path, within=None):
    """Returns (rows, outside, totals): one row per root execution as
    (id, jobs, wall_s, frame), the jobs outside any SQL execution, and
    (executions, jobs, wall_s) over the rows."""
    execs = {}  # id -> dict(root, start, end, details)
    jobs = []  # (submission ms, execution id or None)
    for e in events(path):
        kind = e["Event"]
        if kind == SQL + "SparkListenerSQLExecutionStart":
            eid = int(e["executionId"])
            root = int(e.get("rootExecutionId", eid))
            execs[eid] = {"root": root, "start": e["time"], "end": None,
                          "details": e.get("details", "")}
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            execs[int(e["executionId"])]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs.append((e["Submission Time"], int(eid) if eid is not None else None))

    def root_of(eid):
        while execs[eid]["root"] != eid and execs[eid]["root"] in execs:
            eid = execs[eid]["root"]
        return eid

    roots = {eid: x for eid, x in execs.items() if root_of(eid) == eid}
    lo, hi = float("-inf"), float("inf")
    if within is not None:
        hits = [x for x in roots.values() if within in x["details"]]
        if not hits:
            sys.exit(f"no root execution's call stack contains {within!r}")
        lo = min(x["start"] for x in hits)
        hi = max(x["end"] if x["end"] is not None else x["start"] for x in hits)
    per_root = {eid: 0 for eid, x in roots.items() if lo <= x["start"] <= hi}
    outside = 0
    for t, eid in jobs:
        if eid is None or eid not in execs:
            outside += lo <= t <= hi
        elif root_of(eid) in per_root:
            per_root[root_of(eid)] += 1
    rows = []
    for eid in sorted(per_root, key=lambda r: (roots[r]["start"], r)):
        x = roots[eid]
        wall = (x["end"] - x["start"]) / 1000 if x["end"] is not None else float("nan")
        rows.append((eid, per_root[eid], wall, graft_frame(x["details"])))
    totals = (len(rows), sum(r[1] for r in rows) + outside, sum(r[2] for r in rows))
    return rows, outside, totals


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("event_log")
    ap.add_argument("--within", help="call-stack frame selecting the span to report")
    a = ap.parse_args()
    rows, outside, (n, jobs, wall) = summarize(a.event_log, a.within)
    print(f"{'exec':>5} {'jobs':>4} {'wall_s':>7}  call site")
    for eid, j, w, frame in rows:
        print(f"{eid:>5} {j:>4} {w:>7.2f}  {frame}")
    print(f"{'-':>5} {outside:>4} {'':>7}  (jobs outside any SQL execution)")
    print(f"total: {n} root executions, {jobs} jobs, {wall:.2f} s in executions")


if __name__ == "__main__":
    main()
