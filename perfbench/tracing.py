"""In-memory spans around the benchmark's calls into each layer.

Spark is lazy, so a layer's span times the action over the plan prefix
that ends at that layer.  A span's `parent` is the span whose plan
contains it, and its self time is its duration minus its children's.
Each timed span runs its actions under its own Spark job group, so the
span also carries the stages and tasks those actions ran.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._groups: list[str | None] = [None]
        self._t0 = time.perf_counter()

    def span(self, name: str, parent: dict | None = None) -> dict:
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "workload": self.workload,
        }
        self.spans.append(sp)
        return sp

    @contextmanager
    def timed(self, sp: dict):
        group = f"perfbench-{os.getpid()}-{sp['id']}"
        self.sc.setJobGroup(group, sp["name"])
        self._groups.append(group)
        sp["start"] = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            self._groups.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._groups[-1])
            sp.update(self._job_stats(group))

    def _job_stats(self, group: str) -> dict:
        st = self.sc.statusTracker()
        # the status store is fed by an asynchronous listener: wait
        # briefly until every job of the group has finished
        deadline = time.monotonic() + 5.0
        jobs = st.getJobIdsForGroup(group)
        while time.monotonic() < deadline:
            infos = [st.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.02)
            jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks + s.numFailedTasks:
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def duration(self, name: str) -> float:
        sp = self.get(name)
        return sp["end"] - sp["start"]

    def self_s(self, name: str) -> float:
        sp = self.get(name)
        kids = [s for s in self.spans if s["parent"] == sp["id"]]
        return sp["end"] - sp["start"] - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
