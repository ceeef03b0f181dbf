#!/usr/bin/env python3
"""Summarise a Spark event log per SQL execution.

    python3 tools/evlog.py <eventLogDir|eventLogFile> [--jobs A-B]

For each SQL execution (and each job run outside one, keyed by its call
site) prints: description, wall time, jobs, stages, summed task time,
shuffle write / read MB and max / median task time. `--jobs A-B` keeps
only jobs A..B (inclusive), e.g. one iteration of a benchmark run; an
execution is listed when any of its jobs is kept, with only the kept
jobs' numbers.

Getting a log from a perfbench run without editing the benchmark (the
harness JVM reads JAVA_TOOL_OPTIONS):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/tmp/evlog" \\
      python3 perfbench/run.py --workload curate --seed 11 --seconds 10

The directory must exist first. Logs must be uncompressed: the standard
library has no zstd reader.
"""

import argparse
import json
import os
import statistics
import sys


def events(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if not f.startswith("."))
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarise(path, jobs_range=None):
    execs = {}          # execution id -> {desc, start, end}
    job_exec = {}       # job id -> group key
    job_stages = {}     # job id -> stage ids
    job_time = {}       # job id -> [submit, complete]
    stage_job = {}      # stage id -> job id
    stage_tasks = {}    # stage id -> [task dicts]
    for e in events(path):
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart"):
            execs[e["executionId"]] = {"desc": e.get("description", ""),
                                       "start": e["time"], "end": None}
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                job_exec[jid] = ("sql", int(xid))
            else:
                site = props.get("callSite.short") or \
                    (e.get("Stage Infos") or [{}])[0].get("Stage Name", "?")
                job_exec[jid] = ("job", jid, site)
            job_stages[jid] = e.get("Stage IDs", [])
            job_time[jid] = [e.get("Submission Time"), None]
            for s in job_stages[jid]:
                stage_job.setdefault(s, jid)
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_time:
                job_time[e["Job ID"]][1] = e.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rd = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            stage_tasks.setdefault(e["Stage ID"], []).append(
                {"s": dur, "w": sw, "r": rd})

    keep = sorted(j for j in job_exec
                  if jobs_range is None or jobs_range[0] <= j <= jobs_range[1])
    groups = {}
    for j in keep:
        key = job_exec[j][:2]
        g = groups.setdefault(key, {"jobs": [], "stages": set()})
        g["jobs"].append(j)
        g["stages"].update(s for s in job_stages[j] if s in stage_tasks)
        if key[0] == "job":
            g["desc"] = job_exec[j][2]
    rows = []
    for key, g in groups.items():
        tasks = [t for s in g["stages"] for t in stage_tasks.get(s, [])]
        times = [t["s"] for t in tasks]
        if key[0] == "sql" and key[1] in execs and jobs_range is None \
                and execs[key[1]]["end"] is not None:
            x = execs[key[1]]
            wall = (x["end"] - x["start"]) / 1e3
        else:
            span = [job_time[j] for j in g["jobs"]
                    if None not in job_time[j]]
            wall = (max(t[1] for t in span) - min(t[0] for t in span)) / 1e3 \
                if span else float("nan")
        desc = execs.get(key[1], {}).get("desc", "") if key[0] == "sql" \
            else g.get("desc", "")
        rows.append({
            "first_job": min(g["jobs"]),
            "what": (f"sql {key[1]}" if key[0] == "sql" else f"job {key[1]}"),
            "desc": desc,
            "wall_s": wall,
            "jobs": len(g["jobs"]),
            "stages": len(g["stages"]),
            "task_s": sum(times),
            "sw_mb": sum(t["w"] for t in tasks) / 1e6,
            "sr_mb": sum(t["r"] for t in tasks) / 1e6,
            "max_task_s": max(times) if times else 0.0,
            "med_task_s": statistics.median(times) if times else 0.0,
        })
    rows.sort(key=lambda r: r["first_job"])
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path", help="event log directory or file")
    ap.add_argument("--jobs", help="keep jobs A-B (inclusive)")
    a = ap.parse_args()
    rng = None
    if a.jobs:
        lo, hi = a.jobs.split("-")
        rng = (int(lo), int(hi))
    rows = summarise(a.path, rng)
    hdr = f"{'what':>9} {'wall_s':>7} {'jobs':>4} {'stg':>4} {'task_s':>7} " \
          f"{'sw_mb':>7} {'sr_mb':>7} {'max_t':>6} {'med_t':>6}  description"
    print(hdr)
    tot = {"wall_s": 0.0, "jobs": 0, "stages": 0, "task_s": 0.0,
           "sw_mb": 0.0, "sr_mb": 0.0}
    for r in rows:
        print(f"{r['what']:>9} {r['wall_s']:7.3f} {r['jobs']:4d} "
              f"{r['stages']:4d} {r['task_s']:7.3f} {r['sw_mb']:7.2f} "
              f"{r['sr_mb']:7.2f} {r['max_task_s']:6.3f} "
              f"{r['med_task_s']:6.3f}  {r['desc'][:70]}")
        for k in tot:
            tot[k] += r[k]
    print(f"{'total':>9} {tot['wall_s']:7.3f} {tot['jobs']:4d} "
          f"{tot['stages']:4d} {tot['task_s']:7.3f} {tot['sw_mb']:7.2f} "
          f"{tot['sr_mb']:7.2f}")


if __name__ == "__main__":
    sys.exit(main())
