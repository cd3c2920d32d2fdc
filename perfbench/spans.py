"""Spans around the benchmark's calls into the package.

``Tracer.span(name)`` times one public call and attributes the Spark
jobs it fires to it: on entry it sets a job group unique to the span,
on exit it restores the enclosing span's group, waits for the listener
bus to drain, and reads the span's jobs and their stages from Spark's
in-process status store. Stage metrics are read as each span closes,
because the store keeps only the last ``spark.ui.retainedStages``
(1000) stages and a run can fire more.

Spans are kept in memory and written out once, by ``dump``.
``NO_TRACE`` is the untraced stand-in: it records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@contextlib.contextmanager
def _no_span(name: str, action: bool = False):
    yield


class _NoTrace:
    span = staticmethod(_no_span)
    op = -1


NO_TRACE = _NoTrace()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._seq = 0
        self.op = -1

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def _stage_metrics(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "stages_lost": 0, "exec_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0}
        seen = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    out["stages_lost"] += 1
                    continue
                out["stages"] += 1
                out["exec_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out

    @contextlib.contextmanager
    def span(self, name: str, action: bool = False):
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(group)
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            rec = {"name": name, "op": self.op, "parent": parent,
                   "action": action, "start": t0, "end": t1,
                   "call_s": t1 - t0}
            rec.update(self._stage_metrics(group))
            self.spans.append(rec)

    def storage(self) -> dict:
        infos = self._jsc.getRDDStorageInfo()
        return {
            "rdds": len(infos),
            "mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
