#!/usr/bin/env python3
"""Summarize a Spark event log: per-SQL-execution wall time and callsite.

Usage: python3 tools/joblog.py <decompressed-event-log> [--jobs]

Maps every job to its SQL execution and prints executions in submission
order with job-wall totals, then an aggregate by description. An
execution's description is the job description set when it ran, else the
action callsite (e.g. `collect at KMeansOps.scala:189`). The curate*
pipelines run every stage's jobs under `curate/<stage>` (`curate/exact_dup`,
`curate/span`, `curate/near_dup`, ...), so the aggregate is the per-stage
attribution of a curate run.
"""
import json, sys, collections

path = sys.argv[1]
show_jobs = "--jobs" in sys.argv

execs = {}          # execId -> {desc, start, end}
jobs = []           # (jobId, start, end, execId, ntasks)
for line in open(path):
    try:
        e = json.loads(line)
    except json.JSONDecodeError:
        continue
    ev = e.get("Event", "")
    if ev.endswith("SparkListenerSQLExecutionStart"):
        execs[e["executionId"]] = {"desc": e.get("description", ""),
                                   "start": e.get("time", 0), "end": None,
                                   "root": e.get("rootExecutionId", e["executionId"])}
    elif ev.endswith("SparkListenerSQLExecutionEnd"):
        if e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e.get("time", 0)
    elif ev == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        eid = props.get("spark.sql.execution.id")
        jobs.append({"id": e["Job ID"], "start": e["Submission Time"],
                     "end": None, "exec": int(eid) if eid is not None else None,
                     "ntasks": sum(s.get("Number of Tasks", 0)
                                   for s in e.get("Stage Infos", []))})
    elif ev == "SparkListenerJobEnd":
        for j in jobs[::-1]:
            if j["id"] == e["Job ID"]:
                j["end"] = e["Completion Time"]
                break

# per-execution job wall (sum of its jobs' durations) + exec wall
by_exec = collections.defaultdict(lambda: [0.0, 0])
for j in jobs:
    if j["end"] is None:
        continue
    by_exec[j["exec"]][0] += (j["end"] - j["start"]) / 1000.0
    by_exec[j["exec"]][1] += 1

print(f"{len(jobs)} jobs across {len(execs)} sql executions")
print(f"{'exec':>5} {'wall(s)':>8} {'jobsum(s)':>9} {'njobs':>5}  description")
rows = []
for eid in sorted(execs):
    ex = execs[eid]
    wall = ((ex["end"] or ex["start"]) - ex["start"]) / 1000.0
    js, nj = by_exec.get(eid, [0.0, 0])
    rows.append((eid, wall, js, nj, ex["desc"]))
for eid, wall, js, nj, desc in rows:
    if wall < 0.03 and js < 0.03:
        continue
    print(f"{eid:>5} {wall:8.2f} {js:9.2f} {nj:>5}  {desc}")

agg = collections.defaultdict(lambda: [0.0, 0.0, 0])
for eid, wall, js, nj, desc in rows:
    agg[desc][0] += wall
    agg[desc][1] += js
    agg[desc][2] += 1
print("\nBy description (total exec wall):")
for desc, (w, js, n) in sorted(agg.items(), key=lambda kv: -kv[1][0]):
    print(f"{w:8.2f}s jobsum={js:7.2f}s n={n:<3} {desc}")

if show_jobs:
    print("\nJobs:")
    for j in jobs:
        dur = ((j["end"] or j["start"]) - j["start"]) / 1000.0
        print(f"{j['id']:>4} {dur:7.2f}s tasks={j['ntasks']:<4} exec={j['exec']}")
