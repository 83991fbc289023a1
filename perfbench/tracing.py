"""Tracing for the per-layer pass: spans, Spark driver phases, job-group
counts and executor metrics from the event log.

Spans live in memory (request id, parent, name, start, end) and are written
once, when the run ends. Spark-side numbers are read per request from the
``QueryExecution`` tracker and, by job group, from the status tracker and an
uncompressed event log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str | None, str, float, float]] = []
        #: request id -> {"analysis": ms, ...}
        self.phases: dict[str, dict[str, float]] = {}

    @contextmanager
    def span(self, req: str, name: str, parent: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((req, parent, name, t0, time.perf_counter()))

    def durations(self, name: str) -> dict[str, float]:
        """request id -> duration of its span called ``name``."""
        return {r: e - s for r, _, n, s, e in self.spans if n == name}

    @contextmanager
    def job_group(self, req: str):
        # set in the calling thread: jobs inherit the group from the
        # thread that triggers them, never from a server's handler thread
        self.sc.setJobGroup(req, req)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def record_phases(self, req: str, df) -> None:
        """Driver phase times of the action just run on ``df``.
        ``phases()`` is a Scala Map: read it with ``.get(k).get()``."""
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for k in PHASES:
            opt = ph.get(k)
            out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.phases[req] = out

    def job_counts(self, req: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the status tracker saw for one group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(req)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for req, parent, name, s, e in self.spans:
                f.write(
                    json.dumps(
                        {"req": req, "parent": parent, "name": name, "start": s, "end": e}
                    )
                    + "\n"
                )


def executor_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run seconds, CPU seconds, shuffle bytes
    written and bytes spilled, summed over the group's tasks. Reads the
    uncompressed, unrolled event log Spark wrote under ``event_dir``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    )
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t["run_s"] += m["Executor Run Time"] / 1e3
                    t["cpu_s"] += m["Executor CPU Time"] / 1e9
                    t["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    t["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return dict(totals)
