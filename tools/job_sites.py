#!/usr/bin/env python3
"""Where a perfbench span's Spark jobs come from: jobs and job-ms per
span, grouped by engine call site and job description.

Reads an UNCOMPRESSED Spark event log and the span tree that a traced
perfbench run writes. Every job carries the id of the span that started
it in the local property `perfbench.span`; a job counts toward that span
and every span above it.

Usage:
  # 1. a traced run with the event log on (no engine or harness change):
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/tmp/events" \
    python3 perfbench/run.py --workload index_serve_takedown --seed 71 \
      --seconds 8 --trace 1
  # 2. the summary of every span whose name starts with a prefix:
  python3 tools/job_sites.py /tmp/events/eventlog_v2_local-<app id> \
    .bench_build/perfbench/traces/index_serve_takedown-seed71.json \
    --span maintenance. [--top 40]

A call site is the first engine (or harness) frame of the job's result
stage, `TargetedDelete.discoverTouched (TargetedDelete.scala:120)`; the
description is the job's
`spark.job.description` (the leg name `IndexMaintenance.runLegs` sets),
or "-" when none was set. Job-ms is each job's completion minus its
submission time, summed; jobs that overlap add up, so job-ms can exceed
the span's wall.
"""
import argparse
import collections
import json
import os
import re


def log_files(path):
    """The event log's files in order: a single-file log, or the
    `events_<n>_<app>` files of a rolling log directory (`eventlog_v2_*`)."""
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in
            sorted(parts, key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))]


SPARK_FRAMES = ("org.apache.spark.", "java.", "javax.", "jdk.", "sun.", "scala.")


def user_site(details):
    """The first frame of a long call site outside Spark, Scala and the
    JDK, as `Object.method (File.scala:line)`; None when there is none."""
    for fr in (details or "").splitlines():
        fr = fr.strip()
        if fr and not fr.startswith(SPARK_FRAMES):
            m = re.match(r"(.*)\.([^.(]+)\((.*)\)$", fr)
            if not m:
                return fr
            owner = m.group(1).rsplit(".", 1)[-1].rstrip("$")
            return "%s.%s (%s)" % (owner, m.group(2), m.group(3))
    return None


def load_jobs(path):
    """{job id: (span id, site, description, ms)} from an event log. A
    job that Spark started from its own threads (a broadcast or an
    adaptive stage) has no user frame; it takes the site of the SQL
    execution it ran for, marked `[async]`."""
    starts, ends, sql = {}, {}, {}
    for part in log_files(path):
        for line in open(part):
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                stages = e.get("Stage Infos") or []
                result = max(stages, key=lambda s: s["Stage ID"]) if stages else {}
                starts[e["Job ID"]] = (
                    int(props.get("perfbench.span") or 0),
                    user_site(result.get("Details")),
                    props.get("spark.sql.execution.id"),
                    props.get("spark.job.description") or "-",
                    e.get("Submission Time", 0))
            elif ev == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e.get("Completion Time", 0)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                sql[str(e["executionId"])] = user_site(e.get("details"))
    out = {}
    for j, (sp, site, ex, desc, t0) in starts.items():
        if site is None:
            site = "[async] %s" % (sql.get(ex) or "?")
        out[j] = (sp, site, desc, max(0, ends.get(j, t0) - t0))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("event_log")
    ap.add_argument("trace", help="span tree JSON of the same run")
    ap.add_argument("--span", default="maintenance.",
                    help="report spans whose name starts with this")
    ap.add_argument("--top", type=int, default=40,
                    help="rows per span in the call-site table")
    a = ap.parse_args()

    spans = {s["id"]: s for s in json.load(open(a.trace))["trace"]["spans"]}

    def chain(sid):
        while sid in spans:
            yield sid
            sid = spans[sid]["parent"]

    jobs = load_jobs(a.event_log)
    per_span = collections.defaultdict(list)
    for sp, site, desc, ms in jobs.values():
        for sid in chain(sp):
            per_span[sid].append((site, desc, ms))

    for sid in sorted(spans):
        s = spans[sid]
        if not s["name"].startswith(a.span):
            continue
        rows = per_span.get(sid, [])
        print("%s (span %d): wall %.2f s, %d jobs, %d job-ms" % (
            s["name"], sid, s["wall_s"], len(rows), sum(r[2] for r in rows)))
        by = collections.defaultdict(lambda: [0, 0])
        for site, desc, ms in rows:
            by[(site, desc)][0] += 1
            by[(site, desc)][1] += ms
        print("  %5s %8s  %-64s %s" % ("jobs", "job-ms", "call site", "description"))
        for (site, desc), (n, ms) in sorted(by.items(), key=lambda kv: (-kv[1][0], -kv[1][1]))[:a.top]:
            print("  %5d %8d  %-64s %s" % (n, ms, site, desc))
        print()


if __name__ == "__main__":
    main()
