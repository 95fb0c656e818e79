"""Spans around layer calls, with Spark's own stage metrics attributed to each.

A span covers one call into a layer plus the materialisation of its output.
Spark jobs are attributed to a span by job-id range (the ids started between
the span's start and end), not by job group, so the attribution holds when
the program sets job groups of its own.  Stage metrics come from the
application status store, which is filled even with the UI disabled; the
listener bus is drained before each read so no finished stage is missed.

Spans are kept in memory and written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_MB = 1e6


class SparkStats:
    """Job and stage metrics read from the status store of a live session.

    Each read serialises the store's job or stage list to JSON inside the
    JVM, one gateway call instead of one per field."""

    _STAGE_FIELDS = {
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "spill_bytes": "diskBytesSpilled",
        "executor_run_ms": "executorRunTime",
        "input_bytes": "inputBytes",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                       "DefaultScalaModule$"), "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def jobs(self) -> list[dict]:
        """Every job the store holds, once all posted events are processed."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        return json.loads(self._json.writeValueAsString(self._sc.statusStore().jobsList(None)))

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def stage_metrics(self, stage_ids: set[int]) -> dict:
        stages = json.loads(self._json.writeValueAsString(self._sc.statusStore().stageList(
            None, False, False, self._no_quantiles, self._no_status)))
        tot = dict.fromkeys(["stages", "tasks", *self._STAGE_FIELDS], 0)
        for st in stages:
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st["numCompleteTasks"]
            for k, field in self._STAGE_FIELDS.items():
                tot[k] += st[field]
        return tot


class Tracer:
    """Records spans; ``enabled=False`` turns every span into a no-op."""

    def __init__(self, spark, trace_id: str, enabled: bool) -> None:
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stats = SparkStats(spark) if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        lo = self._stats.last_job_id()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({})
        self._stack.append(idx)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            jobs = [j for j in self._stats.jobs() if j["jobId"] > lo]
            stages = {s for j in jobs for s in j["stageIds"]}
            ids = [j["jobId"] for j in jobs]
            self.spans[idx] = {
                "name": name, "trace_id": self.trace_id, "span_id": idx, "parent": parent,
                "start": t0, "end": t1, "seconds": t1 - t0,
                "jobs": [min(ids), max(ids)] if ids else None, "n_jobs": len(ids),
                "spark": self._stats.stage_metrics(stages),
            }

    def annotate(self, counts: dict) -> None:
        """Attach ``{"<span>.<count>": value}`` row counts to their spans."""
        for key, value in counts.items():
            name, count = key.rsplit(".", 1)
            self.find(name).setdefault("rows", {})[count] = value

    def find(self, name: str) -> dict:
        for s in self.spans:
            if s.get("name") == name:
                return s
        raise KeyError(name)

    def seconds(self, name: str) -> float:
        return self.find(name)["seconds"]

    def shuffle_mb(self, name: str) -> float:
        return self.find(name)["spark"]["shuffle_write_bytes"] / _MB

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, **extra, "spans": self.spans}, f, indent=1)
