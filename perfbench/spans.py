"""Spans, Spark counters and small statistics for the benchmark.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer of the package; nothing inside the package is
instrumented.  A span holds its name, start, end, parent and the run
id.  Spans stay in memory and are written out once, when the run ends.
With tracing off, ``span`` does nothing but yield.

Spark's own counters are read at the same boundaries: the status store
by job group (jobs, stages, tasks, task time, GC, shuffle and spill
bytes) and the query execution's phase tracker (analysis, optimization,
planning).
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile of ``values`` (``pct`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail(values) -> float:
    """The highest percentile with at least ten samples above it: the
    eleventh largest value."""
    xs = sorted(values)
    if len(xs) <= 10:
        raise ValueError("a tail needs more than ten values")
    return float(xs[-11])


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        if attrs:
            rec["attrs"] = attrs
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds.  Self time is a
        span's duration minus the part its child spans cover (children
        run on the parent's thread, so they never overlap)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_s.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_times": self.self_times()}, fh)


NO_TRACE = Tracer(False, "")


class SparkCounters:
    """Reads Spark's status store and phase tracker through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_totals(self, job_ids) -> dict[str, float]:
        """Stages, tasks, task run time, GC, shuffle and spill bytes of
        the given jobs (a stage shared by two jobs counts once)."""
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in _seq(self._store.job(jid).stageIds()))
        tot = {"stages": 0, "tasks": 0, "task_run_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            attempts = _seq(self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles))
            for st in attempts:
                if st.numTasks() == 0 or st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Analysis, optimization and planning time of ``df``'s own
        query execution.  Forces planning if it has not run yet."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = float(kv._2().durationMs())
        return out

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def unpersist_all(self) -> None:
        for jrdd in self.sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]
