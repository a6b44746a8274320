"""Spans around calls into the package's layers, plus per-layer Spark
stage metrics read back from the status store.

A span records ``name``, ``start``, ``end``, ``parent`` and ``run_id``
in memory; :meth:`Tracer.dump` writes them out when the run ends. On
entry a span tags the thread's Spark jobs with ``setJobGroup(<layer>)``
and on exit restores the enclosing layer's group. Jobs without a group
(submitted from worker threads, which do not inherit the tag) fall to
the innermost span open at their submission time.

A layer's self time is its spans' duration minus the part covered by
child spans. The root layer ``cli`` therefore holds whatever no layer
span covers: the driver-side glue between layer calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: the package's layers, named after the modules they measure
LAYERS = [
    "session", "sources", "digest", "diff", "checks", "runner", "report",
    "lineage", "prehashed_write", "incremental", "cli",
]
STAGE_FIELDS = {
    "busy_s": lambda s: s.executorRunTime() / 1000.0,
    "tasks": lambda s: s.numCompleteTasks() + s.numFailedTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
    "shuffle_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to a (new) session; open spans re-tag its jobs."""
        self._sc = spark.sparkContext
        if self._stack:
            self._tag(self._stack[-1]["name"])

    def _tag(self, name: str | None) -> None:
        if self._sc is None:
            return
        if name is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if name not in LAYERS:
            raise ValueError(f"unknown layer {name!r}")
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(),
            "end": None, "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent["name"] if parent else None)

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    # -- read-back ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        out = {name: 0.0 for name in LAYERS}
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
            )
            out[s["name"]] += (s["end"] - s["start"]) - kids
        return out

    def layer_at(self, t: float) -> str | None:
        """Innermost span open at epoch time ``t``, if any."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["name"] if best else None

    def stage_metrics(self, spark) -> dict[str, dict[str, float]]:
        """Sum stage metrics per layer over the traced jobs of this
        session; jobs submitted outside every span (the untraced runs)
        are left out. A stage shared by several jobs counts once, for
        the first."""
        store = spark.sparkContext._jsc.sc().statusStore()
        per = {name: {k: 0.0 for k in [*STAGE_FIELDS, "jobs"]} for name in LAYERS}
        owner: dict[int, str] = {}
        jobs = store.jobsList(None)
        for j in sorted(
            (jobs.apply(i) for i in range(jobs.size())), key=lambda j: j.jobId()
        ):
            grp = j.jobGroup()
            if grp.isDefined() and grp.get() in per:
                layer = grp.get()
            else:
                sub = j.submissionTime()
                layer = self.layer_at(sub.get().getTime() / 1000.0) if sub.isDefined() else None
                if layer is None:
                    continue
            per[layer]["jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                owner.setdefault(sids.apply(k), layer)

        def default(k):
            return getattr(store, f"stageList$default${k}")()

        stages = store.stageList(None, default(2), default(3), default(4), default(5))
        for i in range(stages.size()):
            s = stages.apply(i)
            layer = owner.get(s.stageId())
            if layer is None or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            for k, f in STAGE_FIELDS.items():
                per[layer][k] += f(s)
        return per

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def memory_peaks(spark) -> dict[str, float]:
    """Peak on-heap storage memory (cached blocks) and peak on-heap
    execution memory (joins, aggregations, sorts) of the session's
    executor over the whole session, from the status store's executor
    peaks. They are only kept current with a traced session's conf
    (``memory_metrics``). The JVM's own heap peak is not used: with a fixed
    heap it reads the heap size whenever garbage fills it between
    collections."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    out = {"storage_bytes": 0.0, "execution_bytes": 0.0}
    for i in range(execs.size()):
        peak = execs.apply(i).peakMemoryMetrics()
        if peak.isDefined():
            m = peak.get()
            out["storage_bytes"] = max(
                out["storage_bytes"], m.getMetricValue("OnHeapStorageMemory"))
            out["execution_bytes"] = max(
                out["execution_bytes"], m.getMetricValue("OnHeapExecutionMemory"))
    return out
