#!/usr/bin/env python3
"""Summarise an uncompressed Spark event log per SQL execution.

For each SQL execution (query) the log records, print:

  - the jobs it ran,
  - its shuffle stages (stages whose tasks are ShuffleMapTasks),
  - its broadcast stages (stages of the jobs a broadcast exchange runs),
  - the bytes of physical-plan description Spark rendered for it (at the
    execution start and at every adaptive plan update),
  - the first `graft.` frame of its call site: the program line that
    started it.

Jobs that ran outside any SQL execution are summed in one `-` row.

Write the log with

    -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
    -Dspark.eventLog.dir=<dir>

and run

    python3 tools/eventlog_queries.py <dir>/<app-id>

`--json` prints one JSON object per execution instead of the table.
"""

import argparse
import json
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
JOB_START = "SparkListenerJobStart"
TASK_END = "SparkListenerTaskEnd"
NO_QUERY = "-"


def first_graft_frame(details):
    """The first call-site line naming a `graft.` class, or ''."""
    for line in (details or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return ""


def summarise(lines):
    """Per-execution rows, in execution-id order, then the `-` row of
    jobs outside any execution when there are any."""
    queries = {}
    job_query = {}
    stage_job = {}
    broadcast_jobs = set()
    shuffle_stages = set()

    def query(qid):
        return queries.setdefault(qid, {
            "execution": qid, "jobs": 0, "shuffle_stages": 0,
            "broadcast_stages": 0, "plan_bytes": 0, "frame": ""})

    for raw in lines:
        raw = raw.strip()
        if not raw:
            continue
        ev = json.loads(raw)
        kind = ev.get("Event")
        if kind == SQL_START:
            q = query(str(ev["executionId"]))
            q["plan_bytes"] += len(ev.get("physicalPlanDescription", "").encode("utf-8"))
            q["frame"] = first_graft_frame(ev.get("details"))
        elif kind == SQL_UPDATE:
            q = query(str(ev["executionId"]))
            q["plan_bytes"] += len(ev.get("physicalPlanDescription", "").encode("utf-8"))
        elif kind == JOB_START:
            props = ev.get("Properties") or {}
            job = ev["Job ID"]
            job_query[job] = props.get("spark.sql.execution.id", NO_QUERY)
            if props.get("spark.job.description", "").startswith("broadcast exchange"):
                broadcast_jobs.add(job)
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
            query(job_query[job])["jobs"] += 1
        elif kind == TASK_END and ev.get("Task Type") == "ShuffleMapTask":
            shuffle_stages.add(ev["Stage ID"])

    # A stage belongs to the first job that listed it (a skipped stage
    # reappears in later jobs' lists but ran once).
    for stage, job in stage_job.items():
        q = query(job_query[job])
        if job in broadcast_jobs:
            q["broadcast_stages"] += 1
        elif stage in shuffle_stages:
            q["shuffle_stages"] += 1

    ordered = sorted((q for k, q in queries.items() if k != NO_QUERY),
                     key=lambda q: int(q["execution"]))
    if NO_QUERY in queries:
        ordered.append(queries[NO_QUERY])
    return ordered


def table(rows):
    header = ("execution", "jobs", "shuffle_stages", "broadcast_stages", "plan_bytes", "frame")
    out = ["\t".join(header)]
    for r in rows:
        out.append("\t".join(str(r[h]) for h in header))
    executions = [r for r in rows if r["execution"] != NO_QUERY]
    out.append("total\tqueries=%d\tjobs=%d\tshuffle_stages=%d\tbroadcast_stages=%d\tplan_bytes=%d" % (
        len(executions), sum(r["jobs"] for r in rows),
        sum(r["shuffle_stages"] for r in rows),
        sum(r["broadcast_stages"] for r in rows),
        sum(r["plan_bytes"] for r in rows)))
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog", help="an uncompressed Spark event log file")
    ap.add_argument("--json", action="store_true", help="one JSON object per execution")
    args = ap.parse_args(argv)
    with open(args.eventlog, encoding="utf-8") as f:
        rows = summarise(f)
    if args.json:
        for r in rows:
            print(json.dumps(r))
    else:
        print(table(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
