#!/usr/bin/env python3
"""Summarize a Spark event log: jobs, tasks and span per streaming
micro-batch and per SQL execution.

Diagnostic only. Event logging slows a run, so nothing this prints is a
measurement; use it to see which Spark jobs a workload starts and where
their time goes, then measure with the benchmark itself.

    python3 tools/evlog_summary.py <event log file or directory> [--jobs]

Write the log by running any main with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=file:///some/dir` (for example through
JAVA_TOOL_OPTIONS). A directory argument reads the newest log in it.
`--jobs` also lists every job with its execution, batch and span.
"""

import argparse
import json
import os
import sys
from collections import defaultdict

BATCH_KEY = "streaming.sql.batchId"
QUERY_KEY = "sql.streaming.queryId"
EXEC_KEY = "spark.sql.execution.id"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path):
    """The files of one event log: `path` itself, or the newest log in a
    directory. A rolling log (an `eventlog_v2_*` directory) is all its
    `events_<n>_*` files in order."""
    if os.path.isfile(path):
        return [path]
    entries = [os.path.join(path, f) for f in os.listdir(path)]
    parts = [f for f in entries if os.path.basename(f).startswith("events_")]
    if parts:
        return sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
    if not entries:
        sys.exit(f"no event log in {path}")
    return log_files(max(entries, key=os.path.getmtime))


def read_events(path):
    for name in log_files(path):
        with open(name) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(events):
    """Returns (jobs, executions): jobs maps job id to a dict of start,
    end, tasks, exec id, batch key; executions maps exec id to a dict of
    root operator, start, end."""
    jobs = {}
    stage_job = {}  # a stage runs in the first job that lists it
    tasks = defaultdict(int)  # stage id -> finished tasks
    executions = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            batch = None
            if BATCH_KEY in props:
                batch = (props.get(QUERY_KEY, "?")[:8], int(props[BATCH_KEY]))
            jid = e["Job ID"]
            jobs[jid] = {"start": e["Submission Time"], "end": None,
                         "exec": props.get(EXEC_KEY), "batch": batch}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]] += 1
        elif kind == SQL_START:
            executions[str(e["executionId"])] = {
                "root": root_node(e.get("sparkPlanInfo")),
                "start": e["time"], "end": None}
        elif kind == SQL_END:
            x = executions.get(str(e["executionId"]))
            if x is not None:
                x["end"] = e["time"]
    for j in jobs.values():
        j["tasks"] = 0
    for sid, n in tasks.items():
        if sid in stage_job:
            jobs[stage_job[sid]]["tasks"] += n
    return jobs, executions


def root_node(info):
    """The plan's top operator below the adaptive wrapper: it names the
    action (CollectLimit, Execute InsertIntoHadoopFsRelationCommand, ...)."""
    while info and info.get("nodeName") == "AdaptiveSparkPlan" and info.get("children"):
        info = info["children"][0]
    return (info or {}).get("nodeName", "?")


def span_ms(rows):
    starts = [r["start"] for r in rows]
    ends = [r["end"] for r in rows if r["end"] is not None]
    return (max(ends) - min(starts)) if starts and ends else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="event log file, or a directory of them")
    ap.add_argument("--jobs", action="store_true", help="also list every job")
    args = ap.parse_args()
    jobs, executions = summarize(read_events(args.log))

    by_batch = defaultdict(list)
    by_exec = defaultdict(list)
    for jid, j in sorted(jobs.items()):
        if j["batch"] is not None:
            by_batch[j["batch"]].append(j)
        if j["exec"] is not None:
            by_exec[j["exec"]].append(j)

    print(f"{len(jobs)} jobs, {sum(j['tasks'] for j in jobs.values())} tasks, "
          f"{len(executions)} SQL executions")
    print("\nper streaming batch (query, batch): jobs  tasks  span_ms")
    for key in sorted(by_batch):
        rows = by_batch[key]
        print(f"  {key[0]} {key[1]:>4}  {len(rows):>5}  "
              f"{sum(r['tasks'] for r in rows):>5}  {span_ms(rows):>7}")
    print("\nper SQL execution: id  jobs  tasks  span_ms  root operator")
    for xid in sorted(executions, key=int):
        x = executions[xid]
        rows = by_exec.get(xid, [])
        span = (x["end"] - x["start"]) if x["end"] is not None else 0
        print(f"  {xid:>4}  {len(rows):>4}  {sum(r['tasks'] for r in rows):>5}  "
              f"{span:>7}  {x['root']}")
    if args.jobs:
        print("\nper job: id  exec  batch  tasks  span_ms")
        for jid, j in sorted(jobs.items()):
            b = f"{j['batch'][1]}" if j["batch"] else "-"
            print(f"  {jid:>4}  {j['exec'] or '-':>4}  {b:>5}  {j['tasks']:>5}  "
                  f"{span_ms([j]):>7}")


if __name__ == "__main__":
    main()
