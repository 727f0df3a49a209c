"""In-memory spans around calls into the program's layers.

A span records its layer, name, parent, wall interval and the range of
Spark job ids submitted inside it. The range is read from the
DAGScheduler's job-id counter, which ``submitJob`` advances synchronously
in the submitting thread, so a span owns exactly the jobs submitted
between its start and its end; this holds for jobs submitted from the
program's own stage-pool threads, which do not inherit a job group. When
the run ends the listener bus is drained, and per-stage CPU, shuffle and
spill are read from the status store (``statusStore().lastStageAttempt``).
Every figure is reported as self time: a span's value minus what its child
spans cover.

``overhead_s`` is the time the tracer itself spends: span bookkeeping plus
``finish``. With tracing off, ``span`` only yields its counts dict: no
JVM calls and nothing recorded.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = ("cpu_s", "tasks", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._ids = itertools.count()
        if enabled:
            sc = spark.sparkContext
            self._tracker = sc.statusTracker()
            self._jsc = sc._jsc.sc()
            self._dag = self._jsc.dagScheduler()
            self._store = self._jsc.statusStore()

    def next_job(self) -> int:
        """First job id not yet submitted (ids are dense and monotonic)."""
        return self._dag.nextJobId()

    @contextmanager
    def span(self, layer: str, name: str):
        """Record one call into ``layer``. The yielded dict takes counts
        measured at the boundary (for example ``rows_out``)."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        t = time.perf_counter()
        rec = {
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": next(self._ids),
            "counts": counts,
            "job0": self.next_job(),
        }
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        self.overhead_s += rec["t0"] - t
        try:
            yield counts
        finally:
            rec["t1"] = time.perf_counter()
            rec["job1"] = self.next_job()
            self._stack.pop()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["t1"]

    def _stage_metrics(self, stage_id: int) -> dict:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage evicted from the store or never attempted
            return dict.fromkeys(STAGE_FIELDS, 0)
        return {
            "cpu_s": s.executorCpuTime() / 1e9,
            "tasks": s.numCompleteTasks(),
            "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }

    def finish(self) -> list[dict]:
        """Self wall time, jobs and stage metrics for every span. A stage
        shared by several jobs (a reused shuffle) is counted once, in the
        first span whose jobs reference it."""
        t = time.perf_counter()
        # Job and stage events reach the status store through the
        # asynchronous listener bus; drain it before reading the store.
        self._jsc.listenerBus().waitUntilEmpty()
        children: dict = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        seen_stages: set[int] = set()
        for s in sorted(self.spans, key=lambda s: s["job0"]):
            kids = children[s["id"]]
            s["self_s"] = (s["t1"] - s["t0"]) - sum(k["t1"] - k["t0"] for k in kids)
            child_jobs = {j for k in kids for j in range(k["job0"], k["job1"])}
            own = [j for j in range(s["job0"], s["job1"]) if j not in child_jobs]
            s["jobs"] = len(own)
            agg = dict.fromkeys(STAGE_FIELDS, 0)
            for j in own:
                info = self._tracker.getJobInfo(j)
                for sid in info.stageIds if info is not None else ():
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    for k, v in self._stage_metrics(sid).items():
                        agg[k] += v
            s.update(agg)
        self.overhead_s += time.perf_counter() - t
        return self.spans


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per layer: summed self figures plus summed boundary counts."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        t = out[s["layer"]]
        t["wall_s"] += s["self_s"]
        t["jobs"] += s["jobs"]
        for k in STAGE_FIELDS:
            t[k] += s[k]
        for k, v in s["counts"].items():
            t[k] += v
    return out
