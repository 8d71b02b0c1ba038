#!/usr/bin/env python3
"""Per-span SQL-execution timeline of a Spark event log.

Reads the event log of a traced perfbench run (or any run whose spans set a
Spark job group) and prints, per job group, its SQL executions in start
order: the start offset from the span's first event, the jobs the
execution ran, its wall ms, its task ms (summed task durations of its
jobs' stages), its executor CPU ms and the first `graft.*` frames of its
call site. Task ms is wall time: when several executions overlap, their
tasks share the cores with the driver's planning and it grows, while CPU
ms stays with the work done. Jobs that
belong to no SQL execution (parquet schema inference, RDD actions) are
counted apart, per span.

Usage:
  python3 tools/verb_timeline.py <eventlog> [jobGroup]

`jobGroup` selects spans by job group id (`perfbench-12`) or by span name
(`cli.rectify`, the group's description); without it every span prints.
`eventlog` is a log file or a rolling log directory (`eventlog_v2_*`);
zstd-compressed parts (`*.zst`, `*.zstd`, Spark's default codec) are read
through the `zstd` CLI. To record a log without touching the code:

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=DIR" \\
    python3 perfbench/run.py --workload curate_rights --seed 7 --trace 1
"""
import json
import os
import subprocess
import sys
from collections import defaultdict

FRAMES = 2  # graft.* call-site frames printed per execution

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def lines(path):
    """Event lines of a log file, or of a rolling log directory
    (`eventlog_v2_*`, Spark 4's default: `events_<n>_*` parts in order)."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [ln for f in parts for ln in lines(os.path.join(path, f))]
    if path.endswith((".zst", ".zstd")):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def graft_frames(call_site):
    """The first graft.* frames of a long call site (one frame a line)."""
    frames = [ln.strip() for ln in (call_site or "").splitlines()]
    return [f for f in frames if f.startswith("graft.")][:FRAMES]


def parse(path):
    jobs = {}          # job id -> dict(group, desc, exec, start, end, stages)
    task_ms = defaultdict(int)  # stage id -> summed task ms
    cpu_ms = defaultdict(float)  # stage id -> summed executor CPU ms
    execs = {}         # execution id -> dict(start, end, frames)
    for raw in lines(path):
        e = json.loads(raw)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            jid = e["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "exec": int(ex) if ex not in (None, "") else None,
                "start": e.get("Submission Time"),
                "end": None,
                "stages": e.get("Stage IDs", []),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch and finish:
                task_ms[e["Stage ID"]] += finish - launch
            metrics = e.get("Task Metrics") or {}
            cpu_ms[e["Stage ID"]] += metrics.get("Executor CPU Time", 0) / 1e6
        elif ev == SQL_START:
            execs[e["executionId"]] = {
                "start": e.get("time"), "end": None,
                "frames": graft_frames(e.get("details"))}
        elif ev == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e.get("time")
    return jobs, task_ms, cpu_ms, execs


def spans(jobs):
    """job group -> (description, [job ids]) in first-job order."""
    out = {}
    for jid in sorted(jobs, key=lambda j: (jobs[j]["start"] or 0, j)):
        g = jobs[jid]["group"]
        if g is None:
            continue
        desc, ids = out.setdefault(g, (jobs[jid]["desc"], []))
        ids.append(jid)
    return out


def report(path, select=None):
    jobs, task_ms, cpu_ms, execs = parse(path)
    for group, (desc, ids) in spans(jobs).items():
        if select and select not in (group, desc):
            continue
        def job_task_ms(j):
            return sum(task_ms.get(s, 0) for s in jobs[j]["stages"])

        def job_cpu_ms(j):
            return sum(cpu_ms.get(s, 0.0) for s in jobs[j]["stages"])
        by_exec = defaultdict(list)
        loose = []
        for j in ids:
            x = jobs[j]["exec"]
            (by_exec[x] if x is not None and x in execs else loose).append(j)
        starts = [jobs[j]["start"] for j in ids if jobs[j]["start"]]
        starts += [execs[x]["start"] for x in by_exec if execs[x]["start"]]
        ends = [jobs[j]["end"] for j in ids if jobs[j]["end"]]
        t0 = min(starts)
        wall = (max(ends) - t0) / 1000 if ends else 0.0
        total_task = sum(job_task_ms(j) for j in ids) / 1000
        total_cpu = sum(job_cpu_ms(j) for j in ids) / 1000
        print(f"== {desc} ({group}): {len(ids)} jobs, {wall:.2f} s from first "
              f"to last job, {total_task:.2f} task-s, {total_cpu:.2f} CPU-s; "
              f"{len(by_exec)} SQL "
              f"executions; {len(loose)} jobs outside any execution "
              f"({sum(job_task_ms(j) for j in loose)} task-ms)")
        print(f"   {'start_s':>8s} {'exec':>6s} {'jobs':>4s} {'exec_ms':>8s} "
              f"{'task_ms':>8s} {'cpu_ms':>7s}  call site")
        for x in sorted(by_exec, key=lambda x: (execs[x]["start"] or 0, x)):
            ex = execs[x]
            ms = (ex["end"] - ex["start"]) if ex["end"] and ex["start"] else -1
            tms = sum(job_task_ms(j) for j in by_exec[x])
            cms = sum(job_cpu_ms(j) for j in by_exec[x])
            site = " < ".join(ex["frames"]) or "-"
            print(f"   {(ex['start'] - t0) / 1000:8.3f} {x:6d} "
                  f"{len(by_exec[x]):4d} {ms:8d} {tms:8d} {cms:7.0f}  {site}")
        print()


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        raise SystemExit(__doc__)
    report(sys.argv[1], sys.argv[2] if len(sys.argv) == 3 else None)
