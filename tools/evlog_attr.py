#!/usr/bin/env python3
"""Per-operation job timelines from a Spark event log.

Usage: python3 tools/evlog_attr.py <event log> [--summary]

<event log> is a Spark event log: a plain or `.zstd` file, or the
`eventlog_v2_*` directory a rolling log writes (its `events_*` files are
read in order). Compressed files are decompressed with `zstd -dc`.

It prints one block per operation of the paper's pipeline:
  - each refresh micro-batch: the jobs whose properties carry
    `streaming.sql.batchId` (foreachBatch's sink jobs inherit them);
  - each `SocialPipeline.runDaily` call: the other jobs whose call site,
    or whose SQL execution's call site, is in `SocialPipeline`. A new call
    starts at the first scan or fill job after a sink job, so calls run
    concurrently (perfbench's warm-up) print as one block.
Each block lists its SQL executions and, under each, its jobs; a job with
no execution (an eager fill) is listed on its own. Every line gives the
start offset from the block's start, the duration, the task count and the
summed executor deserialize time of the job's tasks. A micro-batch's line
also gives the `durationMs` its `QueryProgressEvent` reports (trigger and
`addBatch`). An execution's line also gives its commit tail: its end minus
the end of its last job, the time a write spends committing after its
tasks are done (none for an execution that nests others). The last lines
give the medians per kind, the commit tail's over every execution of the
kind. `--summary` prints only the block lines and those medians.

To record a log from perfbench without touching it (Spark reads `spark.*`
JVM system properties):

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir> \
    -Dspark.hadoop.fs.file.impl=graft.extensions.NioLocalFileSystem" \
    python3 perfbench/run.py --workload pipeline --seed 7 --seconds 10 --trace 0

The last property matters: the event log opens a `file:` filesystem when
the context starts, before `GraftExtensions` installs the engine's, and
Hadoop caches that first one, so without it the run writes through Hadoop's
stock local filesystem.
"""
import glob
import json
import os
import statistics
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def lines(path):
    files = sorted(glob.glob(os.path.join(path, "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1])) \
        if os.path.isdir(path) else [path]
    for f in files:
        if f.endswith(".zstd") or f.endswith(".zst"):
            out = subprocess.run(["zstd", "-dc", f], check=True, capture_output=True).stdout
            yield from out.decode("utf-8").splitlines()
        else:
            with open(f, encoding="utf-8") as fh:
                yield from fh


def load(path):
    execs, jobs, stage_job, progress = {}, {}, {}, {}
    for line in lines(path):
        e = json.loads(line)
        kind = e["Event"]
        if kind == SQL_START:
            execs[e["executionId"]] = {"start": e["time"], "end": None,
                                       "root": e.get("rootExecutionId", e["executionId"]),
                                       "desc": e.get("description", ""),
                                       "details": e.get("details", "")}
        elif kind == PROGRESS:
            p = e["progress"]
            progress[(p["id"][:8], p["batchId"])] = p.get("durationMs") or {}
        elif kind == SQL_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos", [])
            exec_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                "exec": int(exec_id) if exec_id is not None else None,
                "batch": (props.get("sql.streaming.queryId", "")[:8],
                          int(props["streaming.sql.batchId"]))
                if "streaming.sql.batchId" in props else None,
                "site": "\n".join(s.get("Details", "") for s in infos),
                "name": infos[-1]["Stage Name"] if infos else "",
                "tasks": 0, "deser_ms": 0}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            j = jobs[stage_job[e["Stage ID"]]]
            j["tasks"] += 1
            j["deser_ms"] += (e.get("Task Metrics") or {}).get("Executor Deserialize Time", 0)
    for x in execs.values():
        x["nests"] = False
    for i, x in execs.items():
        if x["root"] != i and x["root"] in execs:
            execs[x["root"]]["nests"] = True
    return execs, jobs, progress


def role(job, execs):
    """scan, fill or sink for a runDaily job; None for any other job."""
    site = job["site"]
    if job["exec"] in execs:
        site += "\n" + execs[job["exec"]]["details"]
    if "graft.pipeline.SocialPipeline$" not in site:
        return None
    if "scanPartition" in site:
        return "scan"
    return "fill" if "graft.ops.Checkpoints$" in site else "sink"


def blocks(execs, jobs):
    out = {}
    last_role, n = None, 0
    for j in sorted(jobs.values(), key=lambda j: (j["start"], j["id"])):
        if j["batch"] is not None:
            out.setdefault(("micro-batch", "%s#%d" % j["batch"]), []).append(j)
            continue
        r = role(j, execs)
        if r is None:
            continue
        if r != "sink" and last_role == "sink":
            n += 1
        last_role = r
        out.setdefault(("runDaily", "call %d" % (n + 1)), []).append(j)
    return sorted(out.items(), key=lambda kv: min(j["start"] for j in kv[1]))


def ms(a, b):
    return "%6d ms" % (b - a) if a is not None and b is not None else "     ? ms"


def tail(x, group):
    """An execution's end minus its last job's end, or None if either is
    unknown or the execution nests others (a micro-batch's own execution
    ends after its sinks' executions, not after a commit)."""
    ends = [j["end"] for j in group]
    if x["end"] is None or None in ends or x["nests"]:
        return None
    return x["end"] - max(ends)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1:
        sys.exit(__doc__)
    summary = "--summary" in sys.argv
    execs, jobs, progress = load(args[0])
    t0 = min((j["start"] for j in jobs.values()), default=0)
    per_kind, tails = {}, {}
    for (kind, name), js in blocks(execs, jobs):
        by_exec = {}
        for j in js:
            by_exec.setdefault(j["exec"] if j["exec"] in execs else None, []).append(j)
        xs = [execs[x] for x in by_exec if x is not None]
        start = min([j["start"] for j in js] + [x["start"] for x in xs])
        end = max([j["end"] or j["start"] for j in js] + [x["end"] or x["start"] for x in xs])
        tasks = sum(j["tasks"] for j in js)
        per_kind.setdefault(kind, []).append((len(js), tasks, end - start))
        tails.setdefault(kind, []).extend(
            t for t in (tail(execs[x], g) for x, g in by_exec.items() if x is not None) if t is not None)
        batch = ""
        if kind == "micro-batch":
            d = progress.get(js[0]["batch"], {})
            batch = "  trigger %s ms  addBatch %s ms" % (
                d.get("triggerExecution", "?"), d.get("addBatch", "?"))
        print("%-11s %-12s at %8.3f s  wall %s  %2d jobs  %3d tasks  deser %4d ms%s" % (
            kind, name, (start - t0) / 1000, ms(start, end), len(js), tasks,
            sum(j["deser_ms"] for j in js), batch))
        if summary:
            continue
        rows = [(j["start"], None, [j]) for j in by_exec.pop(None, [])]
        rows += [(execs[x]["start"], x, sorted(v, key=lambda j: j["start"]))
                 for x, v in by_exec.items()]
        for _, x, group in sorted(rows, key=lambda r: r[0]):
            if x is not None:
                sx = execs[x]
                t = tail(sx, group)
                print("  sql %-5d +%6d ms %s  tail %s  %s" % (
                    x, sx["start"] - start, ms(sx["start"], sx["end"]),
                    "%4d ms" % t if t is not None else "   ? ms",
                    " ".join(sx["desc"].split())[:60]))
            for j in group:
                print("  %s job %-5d +%6d ms %s  %3d tasks  deser %4d ms  %s" % (
                    "  " if x is not None else "", j["id"], j["start"] - start,
                    ms(j["start"], j["end"]), j["tasks"], j["deser_ms"], j["name"][:50]))
    for kind, rows in per_kind.items():
        t = tails.get(kind)
        print("median %-11s over %3d: %4.1f jobs  %5.1f tasks  wall %6.1f ms%s" % (
            kind, len(rows), statistics.median(r[0] for r in rows),
            statistics.median(r[1] for r in rows), statistics.median(r[2] for r in rows),
            "  commit tail %5.1f ms over %d executions" % (statistics.median(t), len(t))
            if t else ""))


if __name__ == "__main__":
    main()
