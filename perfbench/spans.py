"""Spans, Spark engine counters and peak RSS, all taken from outside the
package.

- ``Tracer`` records spans (name, start, end, parent, operation id) in
  memory around the benchmark's calls into each layer; ``self_times``
  turns them into per-layer self time. Disabled, a span is a no-op.
- ``SparkCounters`` reads the Spark status REST API (the same endpoint as
  bench.py's ``_stages``). Every read returns None when the API cannot be
  reached, so a metric is left out rather than reported wrong.
- ``peak_rss_mb`` adds the kernel's high-water RSS (``VmHWM``) of this
  process and of the JVM it launched.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": time.perf_counter(), "parent": parent,
                               "op": self.op})

    def self_times(self, ops: tuple[str, ...] | None = None) -> dict[str, float]:
        """Total self time per span name over the spans of ``ops`` (all
        when None): duration minus the time its children cover (children
        run one after another on one thread)."""
        spans = [s for s in self.spans if ops is None or s["op"] in ops]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Engine counters between two marks, from the status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
                     if sc.uiWebUrl else None)

    def _get(self, path: str):
        if self.base is None:
            return None
        try:
            with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
                return json.loads(r.read())
        except (OSError, ValueError):  # unreachable API or bad body -> no metric
            return None

    def _settled_jobs(self):
        """All jobs, once none is running and two reads agree (the UI
        store is fed asynchronously by the listener bus)."""
        prev = None
        for _ in range(40):
            jobs = self._get("jobs")
            if jobs is None:
                return None
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            prev = key
            time.sleep(0.05)
        return None

    def mark(self):
        """(max job id, max SQL execution id) so far, or None."""
        jobs = self._settled_jobs()
        sql = self._get("sql?details=false&length=1000000")
        if jobs is None or sql is None:
            return None
        return (max((j["jobId"] for j in jobs), default=-1),
                max((e["id"] for e in sql), default=-1))

    def since(self, mark) -> dict[str, float] | None:
        """Counters of the jobs and SQL executions after ``mark``."""
        if mark is None:
            return None
        jobs = self._settled_jobs()
        stages = self._get("stages")
        sql = self._get("sql?details=false&length=1000000")
        if jobs is None or stages is None or sql is None:
            return None
        new = [j for j in jobs if j["jobId"] > mark[0]]
        ids = {sid for j in new for sid in j["stageIds"]}
        ran = [s for s in stages if s["stageId"] in ids and s["status"] in ("COMPLETE", "FAILED")]
        tot = lambda k: sum(s.get(k, 0) for s in ran)
        return {
            "jobs": len(new),
            "sql_executions": sum(1 for e in sql if e["id"] > mark[1]),
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "failed_tasks": tot("numFailedTasks"),
            "busy_s": tot("executorRunTime") / 1e3,
            "cpu_s": tot("executorCpuTime") / 1e9,
            "gc_s": tot("jvmGcTime") / 1e3,
            "input_bytes": tot("inputBytes"),
            "shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        }


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    kb = _hwm_kb("self") + (_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))
