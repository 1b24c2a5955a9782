"""Tracing for the benchmark's traced runs.

Two recorders, both owned by the benchmark and applied from the outside:

- :class:`Tracer` keeps spans in memory (name, start, end, parent, request
  id and a few attributes) and wraps the engine's public callables where
  their callers look them up, so no engine file is edited.
- :class:`StageMetrics` sets a Spark job group around a layer call and
  reads the jobs' stage metrics from the JVM status store (the REST API
  needs the UI, which the engine's session turns off).
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``request`` tags new spans with the
    request that caused them."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self.request = None
        self._patched: list = []
        # Spark jobs of traced layer calls, written out with the spans
        self.jobs: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": self.request, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``on_result(rec, args, result)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ analysis
    def finished(self) -> list:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict:
        """span id -> (duration, self time), in seconds. Self time is the
        duration minus the direct children's durations; the recorder is
        single-threaded, so children never overlap."""
        child = {}
        for s in self.finished():
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out = {}
        for s in self.finished():
            dur = s["end"] - s["start"]
            kids = child.get(s["id"], 0.0)
            out[s["id"]] = (dur, dur - kids)
        return out

    def bad_spans(self) -> int:
        """Spans that do not nest: a child outside its parent's interval,
        or a negative self time. A consistent trace has none."""
        by_id = {s["id"]: s for s in self.spans}
        bad = 0
        for sid, (_, self_t) in self.self_times().items():
            s = by_id[sid]
            p = by_id.get(s["parent"]) if s["parent"] is not None else None
            if self_t < -1e-6 or (p is not None and (
                    s["start"] < p["start"] or p["end"] is None
                    or s["end"] > p["end"])):
                bad += 1
        return bad

    def dump(self, path: str) -> None:
        times = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.finished():
                dur, self_t = times[s["id"]]
                f.write(json.dumps({**s, "dur_s": dur, "self_s": self_t},
                                   default=str) + "\n")
            for job in self.jobs:
                f.write(json.dumps({"spark_job": job}) + "\n")


def request_stats(tracer: Tracer, root: str) -> dict:
    """Per request whose root span is named ``root``: total milliseconds
    and call count of every span name recorded for that request."""
    spans = tracer.finished()
    times = tracer.self_times()
    per = {s["id"]: {} for s in spans if s["name"] == root}
    for s in spans:
        d = per.get(s["request"])
        if d is not None:
            ms, calls = d.get(s["name"], (0.0, 0))
            d[s["name"]] = (ms + times[s["id"]][0] * 1e3, calls + 1)
    return per


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


# --------------------------------------------------------- Spark metrics

class StageMetrics:
    """Job-group scoped Spark stage metrics for one layer call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, prefix: str):
        self._n += 1
        gid = f"perfbench-{prefix}-{self._n}"
        self.sc.setJobGroup(gid, prefix)
        rec = {"group": gid, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc._jsc.clearJobGroup()

    def read(self, rec: dict, classify=None) -> dict:
        """Totals over every job of the group: jobs, tasks, executor run,
        CPU and GC seconds, shuffle and spill bytes, call seconds and the
        driver gap (call time covered by no job). ``classify(job_ids)``
        maps job ids to job kinds; per-kind job wall time lands in
        ``job_s``."""
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway
        out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "job_s": {}, "job_list": [],
               "call_s": rec["end"] - rec["start"]}
        spans = []
        job_ids = list(sc.statusTracker().getJobIdsForGroup(rec["group"]))
        kinds = classify(set(job_ids)) if classify else {}
        for jid in sorted(job_ids):
            jd = store.job(jid)
            if not jd.completionTime().isDefined():
                continue
            t0 = jd.submissionTime().get().getTime() / 1e3
            t1 = jd.completionTime().get().getTime() / 1e3
            spans.append((t0, t1))
            out["jobs"] += 1
            kind = kinds.get(jid, "other")
            out["job_list"].append({"job": jid, "name": jd.name(),
                                    "kind": kind, "wall_s": t1 - t0})
            out["job_s"][kind] = out["job_s"].get(kind, 0.0) + (t1 - t0)
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else []:
                seq = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                      False, gw.new_array(jvm.double, 0))
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["tasks"] += sd.numCompleteTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
        covered, last = 0.0, rec["start"]
        for t0, t1 in sorted(spans):
            t0, t1 = max(t0, last), min(t1, rec["end"])
            if t1 > t0:
                covered += t1 - t0
                last = t1
        out["driver_gap_s"] = max(0.0, out["call_s"] - covered)
        return out


def job_kind_by_output(spark, keywords):
    """A ``classify`` for :meth:`StageMetrics.read`: a job's kind is the
    table its SQL execution writes (the last part of the output path of
    the plan's insert command) when that is one of ``keywords``, else
    ``other``. Every job of a write, including the sampling job of a
    range repartition, belongs to the write's SQL execution."""
    jss = spark._jsparkSession

    def classify_all(job_ids) -> dict:
        kinds = {}
        execs = jss.sharedState().statusStore().executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            m = _INSERT.search(ex.physicalPlanDescription() or "")
            table = os.path.basename(m[1].rstrip("/")) if m else ""
            kind = table if table in keywords else "other"
            it = ex.jobs().keys().iterator()
            while it.hasNext():
                jid = it.next()
                if jid in job_ids:
                    kinds[jid] = kind
        return kinds

    return classify_all


_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n"
                     r"Input(?: \[\d+\])?: .*\nArguments: [a-z]+:([^,\s]+),")


# ----------------------------------------------------------- host info

def descendants(pid: int) -> list:
    """Process ids below ``pid`` (read from /proc)."""
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids) -> float:
    """User plus system CPU seconds used so far by ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
