"""In-memory spans and Spark counters for the benchmark.

Spans are recorded around the benchmark's own calls into the program
and written out once, when the run ends. Counters come from Spark's
status tracker and status store. They are read between queries, inside
a ``trace.collect`` span and outside every timed span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from metrics import Span

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: Span | None = None,
             start: float | None = None, **attrs):
        """Record ``name`` from ``start`` (default: now) until the block
        exits, also when it raises."""
        s = Span(len(self.spans), name,
                 time.perf_counter() if start is None else start, 0.0,
                 None if parent is None else parent.id, self.run_id, attrs)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def children(self, parent: Span, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id
                and (name is None or s.name == name)]


# counter -> the StageData field summed into it, over a group's stages
STAGE_SUMS = {
    "tasks": "numTasks", "tasks_failed": "numFailedTasks",
    "run_ms": "executorRunTime", "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime", "input_bytes": "inputBytes",
    "input_records": "inputRecords", "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "fetch_wait_ms": "shuffleFetchWaitTime", "spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes", "output_records": "outputRecords",
}


class Counters:
    """Job, stage and storage counters for the jobs of a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self.mapper.registerModule(scala)
        self.seen_stages: set[int] = set()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, gid)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, gid: str) -> dict:
        """Sum the counters of every job in ``gid``. A stage shared by
        several jobs counts once, for the first group that lists it."""
        out = dict.fromkeys(("jobs", "jobs_failed", "stages", *STAGE_SUMS), 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = self._json(self.store.job(jid))
            out["jobs"] += 1
            out["jobs_failed"] += job["status"] == "FAILED"
            for sid in job["stageIds"]:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self._json(self.store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, field in STAGE_SUMS.items():
                    out[key] += st[field]
        return out

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB of block storage in use) right now."""
        rdds = self.sc._jsc.getPersistentRDDs().size()
        used = sum(e["memoryUsed"] + e["diskUsed"]
                   for e in self._json(self.store.executorList(True)))
        return rdds, used / 2**20


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM), from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise LookupError(f"no VmHWM for pid {pid}")
