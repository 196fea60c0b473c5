#!/usr/bin/env python
"""Per-JOB trace for named bench queries: duration, stage count, task
count and the driver callsite of every Spark job each query schedules.

The r15 optimization rounds steer by job/stage counts (qprofile.py);
this is the next lens down — WHICH jobs a query pays for and what each
cost.  Uses the Spark event log (written to a temp dir for just this
run) so no listener plumbing is needed: JobStart carries the callsite
and stage infos, JobEnd the completion time.

Usage:
  python tools/jobtrace.py q_dedup_report [q_... ...]
  SPARK_GRAFT_SF_DIR=... python tools/jobtrace.py ...

Prints, per query, one line per job:
  job <id>  <sec>s  stages=<n> tasks=<n>  <callsite>
and a per-query summary line (wall seconds, job count, sum of job secs).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: jobtrace.py q_name [q_name ...]", file=sys.stderr)
        raise SystemExit(2)
    evdir = tempfile.mkdtemp(prefix="jobtrace_ev_")
    from datayours_spark.session import engine_builder

    registry = entrymod.queries()
    # the engine's session conf, plus event logging
    spark = engine_builder("datayours-jobtrace").config(map={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }).getOrCreate()
    sc = spark.sparkContext
    registry["q_tally_minmax"](spark, bench.SF_DIR).count()
    registry["q_text_stats"](spark, bench.SF_DIR).count()
    bench._warm_streaming(spark)
    bench._warm_arrow(spark)
    st = sc.statusTracker()
    marks: list[tuple[str, float, set[int]]] = []
    for name in names:
        before = set(st.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = registry[name](spark, bench.SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        jobs = set(st.getJobIdsForGroup(None) or []) - before
        marks.append((name, dt, jobs))
    app_id = sc.applicationId
    spark.stop()
    # parse the event log
    jobinfo: dict[int, dict] = {}
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):  # .inprogress / rolling (v2 dir) variants
        cands = sorted(os.listdir(evdir))
        if not cands:
            raise SystemExit(f"no event log written under {evdir}")
        path = os.path.join(evdir, cands[0])
    if os.path.isdir(path):  # rolling event log: events_* files inside
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        files = [path]

    def _lines():
        for p in files:
            with open(p) as fh:
                yield from fh

    if True:
        for line in _lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                stages = ev.get("Stage Infos", [])
                site = props.get("callSite.short", "?")
                if site == "?" and stages:
                    # SQL executions rarely set callSite; the RESULT
                    # stage's name (callsite of its final RDD) plus its
                    # RDD scope names still identify the action
                    last = max(
                        stages, key=lambda s: s.get("Stage ID", 0)
                    )
                    site = last.get("Stage Name", "?")
                    scopes = []
                    for r in last.get("RDD Info", []):
                        sc_ = r.get("Scope")
                        if sc_:
                            try:
                                scopes.append(json.loads(sc_)["name"])
                            except Exception:
                                pass
                    if scopes:
                        site += "  [" + ",".join(scopes[:4]) + "]"
                jobinfo[jid] = {
                    "start": ev["Submission Time"],
                    "stages": len(stages),
                    "tasks": sum(
                        s.get("Number of Tasks", 0) for s in stages
                    ),
                    "site": site,
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobinfo:
                    jobinfo[jid]["end"] = ev["Completion Time"]
    for name, dt, jobs in marks:
        print(f"== {name}  wall={dt:.2f}s  jobs={len(jobs)}")
        tot = 0.0
        for jid in sorted(jobs):
            ji = jobinfo.get(jid)
            if not ji:
                continue
            sec = (ji.get("end", ji["start"]) - ji["start"]) / 1000.0
            tot += sec
            print(
                f"  job {jid:4d} {sec:7.2f}s stages={ji['stages']:2d} "
                f"tasks={ji['tasks']:4d}  {ji['site']}"
            )
        print(f"  -- sum job secs {tot:.2f} (gaps = driver/plan time)")
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
