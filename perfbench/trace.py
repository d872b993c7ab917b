"""Tracing from outside the program: spans around calls into each layer,
and the Spark-side counts that fall inside them.

A :class:`Tracer` records spans (name, parent, start, end) in memory. Each
span also sets the Spark job group, so the jobs it causes are tagged in the
UI. When the traced pass ends, :meth:`Tracer.collect` reads the jobs and
stages from the UI REST API (``/api/v1/applications/<id>``) once and gives
each job to the innermost span whose time window holds its submission —
one client drives the session, so windows never overlap, and jobs started
from helper threads inside an operator are still counted.

Catalyst phase times come from ``queryExecution().tracker().phases()``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import time
import urllib.request
from contextlib import contextmanager

#: REST stage fields summed into each action's execution record
_STAGE_SUMS = {
    "executorRunTime": ("exec.run_s", 1e-3),
    "executorCpuTime": ("exec.cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "inputBytes": ("scan.input_bytes", 1),
    "inputRecords": ("scan.input_rows", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleWriteRecords": ("shuffle.records", 1),
    "diskBytesSpilled": ("spill.bytes", 1),
}


def percentile(values, q: float, min_beyond: int = 10):
    """Nearest-rank ``q`` quantile of ``values``, or None unless at least
    ``min_beyond`` samples lie above it (a p90 needs 100 samples)."""
    xs = sorted(values)
    if not xs:
        return None
    idx = max(0, math.ceil(q * len(xs)) - 1)
    if q < 1.0 and len(xs) - idx - 1 < min_beyond:
        return None
    return xs[idx]


def _rest_time(s: str | None) -> float | None:
    """'2026-01-01T10:00:00.123GMT' -> epoch seconds."""
    if not s:
        return None
    t = dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Force optimization and physical planning of ``df`` and return the
    tracker's phase durations in seconds (analysis ran when ``df`` was
    built)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


class Tracer:
    """Spans for one traced pass over one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench:{sid}:{name}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._by_id(self._stack[-1])
                self.sc.setJobGroup(f"perfbench:{parent['id']}:{parent['name']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _by_id(self, sid: int) -> dict:
        return next(s for s in self.spans if s["id"] == sid)

    # -- Spark UI REST ----------------------------------------------------

    def _get(self, path: str):
        app = self.sc.applicationId
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """The job list once the UI listener has caught up: every job in
        the traced window finished and two reads agree."""
        lo = min(s["start"] for s in self.spans)
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = [j for j in self._get("jobs")
                    if (_rest_time(j.get("submissionTime")) or 0) >= lo - 0.001]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and key == prev) or time.time() > deadline:
                return jobs
            prev = key
            time.sleep(0.5)

    def collect(self) -> None:
        """Give each span an ``exec`` record: the jobs, stages, tasks and
        stage metric sums of every job submitted inside it, its children's
        included, and the time no stage of those jobs was running."""
        jobs = self._settled_jobs()
        stages = {}
        for st in self._get("stages"):
            if st.get("status") == "SKIPPED":
                continue
            cur = stages.get(st["stageId"])
            if cur is None or st["attemptId"] > cur["attemptId"]:
                stages[st["stageId"]] = st
        for s in self.spans:
            s["exec"] = dict.fromkeys(
                ["exec.jobs", "exec.stages", "exec.tasks"]
                + [m for m, _ in _STAGE_SUMS.values()], 0)
            s["_stage_windows"] = []
        for job in jobs:
            t = _rest_time(job["submissionTime"])
            owner = self._innermost(t)
            if owner is None:
                continue
            for s in self._lineage(owner):
                s["exec"]["exec.jobs"] += 1
                for sid in job["stageIds"]:
                    st = stages.get(sid)
                    if st is None:
                        continue
                    s["exec"]["exec.stages"] += 1
                    s["exec"]["exec.tasks"] += st.get("numCompleteTasks", 0)
                    for field, (metric, scale) in _STAGE_SUMS.items():
                        s["exec"][metric] += st.get(field, 0) * scale
                    a, b = _rest_time(st.get("submissionTime")), _rest_time(
                        st.get("completionTime"))
                    if a and b:
                        s["_stage_windows"].append((a, b))
        for s in self.spans:
            e = s["exec"]
            e["exec.noncpu_s"] = e["exec.run_s"] - e["exec.cpu_s"]
            win = s.pop("_stage_windows")
            e["exec.sched_gap_s"] = (s["end"] - s["start"]) - _covered(
                win, s["start"], s["end"])

    def _innermost(self, t: float | None):
        if t is None:
            return None
        best = None
        for s in self.spans:
            if s["start"] - 0.001 <= t <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def _lineage(self, span: dict):
        while span is not None:
            yield span
            span = self._by_id(span["parent"]) if span["parent"] else None
