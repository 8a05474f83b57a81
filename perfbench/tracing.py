"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

The tracer wraps public functions of the engine's modules in this
process (no engine file changes): each wrapped call records a span
(name, operation, start, end) in memory and runs under its own Spark job
group, so Spark's local status API can attribute every job and stage —
executor run time, tasks, shuffle, spill, GC — to the layer that
submitted it. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.parse
import urllib.request
from collections import Counter, defaultdict
from dataclasses import asdict, dataclass
from datetime import datetime

from py4j.protocol import Py4JError

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    op: str | None
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: str | None = None  # label of the operation being timed
        self._patches: list[tuple[object, str, object]] = []

    # --- job groups -----------------------------------------------------
    def set_group(self, name: str) -> tuple[str | None, str | None]:
        """Run the next jobs under group ``op|name``; returns the previous one."""
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(f"{self.op}|{name}", name)
        return prev

    def restore_group(self, prev: tuple[str | None, str | None]) -> None:
        self.sc.setLocalProperty(_GROUP, prev[0])
        self.sc.setLocalProperty(_DESC, prev[1])

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` as span ``name`` under job group ``op|name``."""
        prev = self.set_group(name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(Span(name, self.op, t0, time.perf_counter()))
            self.restore_group(prev)

    # --- wrapping module functions ---------------------------------------
    def wrap(self, module, attr: str, name: str, wrapper_factory=None) -> None:
        orig = getattr(module, attr)
        if wrapper_factory is None:
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                return self.span(name, orig, *args, **kwargs)
        else:
            wrapper = functools.wraps(orig)(wrapper_factory(orig))
        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # --- Spark's local status API ---------------------------------------
    def _get(self, path: str):
        url = urllib.parse.urlsplit(self.sc.uiWebUrl)
        base = f"http://127.0.0.1:{url.port}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def job_stats(self) -> dict[str, dict[str, float]]:
        """Per job group: jobs, job seconds and the summed metrics of the
        stages its jobs ran (each stage counted once, for the first job
        that lists it)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Py4JError:  # internal API; fall back to a pause
            time.sleep(2.0)
        jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        stages = {s["stageId"]: s for s in self._get("/stages") if s["status"] == "COMPLETE"}
        owner: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(Counter)
        for job in jobs:
            g = job.get("jobGroup")
            if g is None or "|" not in g:
                continue
            st = out[g]
            st["jobs"] += 1
            if job.get("completionTime"):
                st["job_s"] += _seconds(job["submissionTime"], job["completionTime"])
            for sid in job["stageIds"]:
                if sid in owner or sid not in stages:
                    continue
                owner[sid] = g
                s = stages[sid]
                st["run_s"] += s["executorRunTime"] / 1000.0
                st["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
                st["tasks"] += s["numCompleteTasks"]
                st["shuffle_mib"] += (s["shuffleReadBytes"] + s["shuffleWriteBytes"]) / 2**20
                st["spill_mib"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
                st["output_mib"] += s["outputBytes"] / 2**20
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _seconds(start: str, end: str) -> float:
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    return (datetime.strptime(end, fmt) - datetime.strptime(start, fmt)).total_seconds()


def catalyst_seconds(df) -> float:
    """Plan ``df`` and return its analysis + optimization + planning
    time from Catalyst's ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0
