"""Spans around calls into the engine's layers, joined with Spark's own
status store.

A span records its name, start, end, parent and run id (the phase of the
run it belongs to: ``setup``, ``pass1``, ...). Spans are kept in memory;
``Tracer.finish`` reads the job and stage lists from the status store
once, attributes every job whose submission falls inside a span to that
span, and returns the spans with their Spark figures. With tracing off
``span`` yields a throwaway record and reads nothing.

Figures per span:

- ``s``: wall time of the call;
- ``jobs``: Spark jobs submitted during the call;
- ``driver_s``: wall time minus the union of those jobs' run intervals,
  i.e. planning and scheduling on the driver;
- ``shuffle_mb`` / ``spill_mb``: shuffle bytes written and bytes spilled
  (memory spill, as the Spark UI reports it) by those jobs' stages;
- ``blocks_mb``: block-manager bytes held by cached RDDs when the call
  returned;
- ``self_s``: ``s`` minus the time covered by child spans.

Callers may add counts of their own (``rows``, ``written_mb``, ...) to
the record a span yields.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1024 * 1024


def _jackson(sc):
    """A JSON writer for Scala objects in the driver JVM: one py4j call
    returns a whole job or stage list instead of one call per field."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return mapper


def status_jobs_and_stages(sc) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and stages from ``AppStatusStore``, once the
    listener bus has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    mapper = _jackson(sc)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    by_id: dict[int, dict] = {}
    for st in stages:  # a retried stage appears once per attempt: sum them
        agg = by_id.setdefault(st["stageId"], {"shuffle": 0, "spill": 0})
        agg["shuffle"] += st.get("shuffleWriteBytes") or 0
        agg["spill"] += st.get("memoryBytesSpilled") or 0
    return jobs, by_id


def cached_rdds(sc) -> dict[int, int]:
    """RDD id -> bytes held (memory + disk) for every cached RDD."""
    return {
        int(info.id()): int(info.memSize()) + int(info.diskSize())
        for info in sc._jsc.sc().getRDDStorageInfo()
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, seconds: float) -> None:
        """Record a set-up span timed by the caller (before Spark ran)."""
        if self.enabled:
            self.spans.append({"name": name, "run": "setup", "parent": None, "start": start,
                               "end": start + seconds, "s": seconds, "blocks_mb": 0.0})

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "run": self.run,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["s"]
            self._stack.pop()
            rec["blocks_mb"] = sum(cached_rdds(self.sc).values()) / MB

    def finish(self) -> list[dict]:
        """Attach Spark job figures and self time to every span."""
        if not self.spans:
            return []
        jobs, stages = status_jobs_and_stages(self.sc)
        timed = []
        for j in jobs:
            sub, done = j.get("submissionTime"), j.get("completionTime")
            if sub is None:
                continue
            timed.append((sub, done if done is not None else sub, j.get("stageIds") or []))
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["s"]
        for i, rec in enumerate(self.spans):
            lo, hi = rec["start"] * 1000.0, rec["end"] * 1000.0
            mine = [(s, d, st) for s, d, st in timed if lo <= s <= hi]
            busy_ms = _union_ms([(s, min(d, hi)) for s, d, _ in mine])
            stage_ids = {sid for _, _, st in mine for sid in st}
            rec["jobs"] = len(mine)
            rec["driver_s"] = max(0.0, rec["s"] - busy_ms / 1000.0)
            rec["shuffle_mb"] = sum(stages.get(s, {}).get("shuffle", 0) for s in stage_ids) / MB
            rec["spill_mb"] = sum(stages.get(s, {}).get("spill", 0) for s in stage_ids) / MB
            rec["self_s"] = rec["s"] - child_s[i]
        return self.spans
