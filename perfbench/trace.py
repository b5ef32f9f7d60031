"""Spans around the package's public calls, and Spark work read from
the in-process status store.

Everything here is measured from outside the package: ``Tracer.wrap``
replaces a public function or method with one that records a span
around the original call, and Spark jobs are read back from
``SparkContext.statusStore`` (works with ``spark.ui.enabled=false``).

A Spark job belongs to the innermost span whose interval contains the
job's submission time. Attribution is by time, not by job group,
because the calls under test run one after another and the partition
tree's pool threads do not inherit job-group properties.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

# job submission times are milliseconds; allow for that rounding
_CLOCK_SLACK_S = 0.002
_INHERITED = object()


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.overhead_s = 0.0  # time spent reading the status store
        self._local = threading.local()
        self._main_stack: list[dict] = []  # open spans of the main thread
        self._patched: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext
        # jobs before this point (the set-up's) are not read
        listed = self._sc._jsc.sc().statusStore().jobsList(self._sc._gateway.jvm.java.util.ArrayList())
        self._last_job = listed.apply(0).jobId() if listed.size() else -1

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span. A span opened on a thread with no open span
        of its own (a streaming callback, say) is parented to the
        innermost open span of the main thread, which is waiting on it."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        opener = stack or self._main_stack
        parent = opener[-1] if opener else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        is_root = not stack and stack is self._main_stack
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            if is_root:
                self.read_jobs()

    def wrap(self, owner, attr: str, name: str, on_call=None, on_result=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``on_call(args, kwargs) -> dict`` and ``on_result(span, args,
        kwargs, result)`` add counts to the span; they run outside it,
        so their cost is not charged to the layer."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        own = vars(owner).get(attr, _INHERITED)  # what restore puts back
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            before = on_call(args, kwargs) if on_call is not None else {}
            with tracer.span(name, **before) as s:
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, args, kwargs, out)
            return out

        self._patched.append((owner, attr, own))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, own in reversed(self._patched):
            if own is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patched.clear()

    # ------------------------------------------------------- spark jobs
    def read_jobs(self) -> None:
        """Pull every job finished since the last call from the status
        store (it keeps only the last ~1000 jobs and stages, so this
        runs after each client op)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self._sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        # newest first; every job group (streaming runs its batches in one)
        done_jobs = []
        listed = store.jobsList(gw.jvm.java.util.ArrayList())
        for k in range(listed.size()):
            jd = listed.apply(k)
            if jd.jobId() <= self._last_job:
                break
            done_jobs.append(jd)
        for jd in sorted(done_jobs, key=lambda j: j.jobId()):
            jid = jd.jobId()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                break  # still running: read it next time
            job = {
                "id": jid,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "tasks": 0,
                "input_bytes": 0,
                "input_records": 0,
                "shuffle_bytes": 0,
                "output_bytes": 0,
                "busy_s": 0.0,
                "gc_s": 0.0,
            }
            ids = jd.stageIds()
            for k in range(ids.size()):
                attempts = store.stageData(
                    ids.apply(k), False, gw.jvm.java.util.ArrayList(), False, no_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    job["tasks"] += st.numCompleteTasks()
                    job["input_bytes"] += st.inputBytes()
                    job["input_records"] += st.inputRecords()
                    job["shuffle_bytes"] += st.shuffleWriteBytes()
                    job["output_bytes"] += st.outputBytes()
                    job["busy_s"] += st.executorRunTime() / 1000.0
                    job["gc_s"] += st.jvmGcTime() / 1000.0
            self.jobs.append(job)
            self._last_job = jid
        self.overhead_s += time.perf_counter() - t0

    # ------------------------------------------------------ attribution
    def attribute(self) -> None:
        """Set ``span["jobs"]``: ids of jobs whose submission falls in
        the span and in none of its open children."""
        by_parent: dict = {}
        for s in self.spans:
            s["jobs"] = []
            by_parent.setdefault(s["parent"], []).append(s)

        def inside(s, t):
            return s["end"] is not None and s["start"] - _CLOCK_SLACK_S <= t <= s["end"] + _CLOCK_SLACK_S

        def owner(s, t):
            for c in by_parent.get(s["id"], []):
                if inside(c, t):
                    return owner(c, t)
            return s

        roots = by_parent.get(None, [])
        for j in self.jobs:
            for r in roots:
                if inside(r, j["start"]):
                    owner(r, j["start"])["jobs"].append(j["id"])
                    break

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def span_work(self, span: dict) -> dict:
        """Spark work of a span and its descendants, plus ``driver_s``:
        wall time covered by no Spark job."""
        jobs_by_id = {j["id"]: j for j in self.jobs}
        jobs = [jobs_by_id[i] for s in self.subtree(span) for i in s.get("jobs", [])]
        wall = span["end"] - span["start"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out = {"wall_s": wall, "driver_s": max(wall - covered, 0.0), "jobs": len(jobs)}
        for k in ("tasks", "input_bytes", "input_records", "shuffle_bytes", "output_bytes", "busy_s", "gc_s"):
            out[k] = sum(j[k] for j in jobs)
        return out

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "jobs": self.jobs}, f)
