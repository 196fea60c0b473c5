"""Spans around the engine's layers, recorded from outside the engine.

A traced run wraps the engine's public functions at their module
attributes (nothing inside ``datayours_spark`` changes) and opens a span
per call: name, start, end, parent and the request / trigger / query id it
belongs to.  Each span runs under its own Spark job group, so the status
tracker attributes every job to exactly one span; job, stage, task,
shuffle and input-record counts come from Spark's status store once
the listener bus has drained.  Spans stay in memory and are written when
the run ends.  An untraced run installs nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._kids: dict | None = None

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **ids):
        """One layer call.  ``ids`` (request, trigger, query, ...) are
        inherited from the enclosing span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            **({k: v for k, v in parent.items() if k in _ID_KEYS} if parent else {}),
            **ids,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call of the original."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- counts --------------------------------------------------------

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def resolve(self) -> None:
        """Attach job/stage/task/shuffle/input counts to every span."""
        if not self.enabled:
            return
        self.drain()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue  # counted where it ended (a stream trigger)
            rec.update(self.job_counts(tracker.getJobIdsForGroup(rec["group"])))

    def job_counts(self, job_ids) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "shuffle_bytes": 0, "input_records": 0}
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                if attempts.isEmpty():
                    continue
                st = attempts.head()
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_records"] += st.inputRecords()
        return out

    def stream_jobs(self, run_id: str) -> set:
        """Job ids the stream has run so far (its ``runId`` job group)."""
        self.drain()
        return set(self.sc.statusTracker().getJobIdsForGroup(run_id))

    # -- derived -------------------------------------------------------

    def self_time(self, rec: dict) -> float:
        """The span's duration minus the part its children cover."""
        if self._kids is None:  # spans are complete once this is asked
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s["parent"], []).append(s)
        kids = self._kids.get(rec["id"], ())
        return (rec["end"] - rec["start"]) - sum(s["end"] - s["start"] for s in kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


_ID_KEYS = ("request", "trigger", "query", "cycle")
