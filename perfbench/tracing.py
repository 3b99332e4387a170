"""Spans around layer calls, and Spark's own counters per operation.

A span has a name (``<layer>.<what>``), start, end, parent and the id of
the operation it belongs to. Spans are kept in memory; ``self_times``
derives each span's self time (its duration minus the union of its
children's intervals), which is what the per-layer numbers sum.

The benchmark's own boundaries (operation, panel, stream trigger,
verification query) are always recorded, because the end-to-end timings
come from them. Wrapping the engine's public functions (``wrap``) and
reading counters happen only in the traced run.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    """Spans of the benchmark's driving thread (the wrapped engine functions
    are all called from it), and the job group its Spark jobs carry."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.counters: SparkCounters | None = None
        self.group: str | None = None  # job group the next jobs carry
        self.groups_used: list[str] = []

    def set_group(self, group: str | None) -> None:
        """Tag the jobs that follow with ``group`` (only when counting)."""
        if self.counters is None:
            return
        self.group = group
        self.counters.set_group(group)
        if group is not None and group not in self.groups_used:
            self.groups_used.append(group)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner: object, attr: str, name: str, group: str | None = None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        with ``group``, its jobs are tagged ``<current group>.<group>``."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            outer = self.group
            if group is not None and outer is not None and not outer.endswith(f".{group}"):
                self.set_group(f"{outer}.{group}")
            try:
                with self.span(name):
                    return original(*args, **kwargs)
            finally:
                if self.group != outer:
                    self.set_group(outer)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    @property
    def wrapped(self) -> bool:
        return bool(self._patches)

    # ------------------------------------------------------------ analysis

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self`` (seconds) added."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])], s["start"], s["end"]
            )
            out.append({**s, "dur": dur, "self": dur - covered})
        return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- Spark counters

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Per-operation job, stage, task, executor and byte counters, read
    from Spark's status store through job groups (works with the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def job_ids(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return [j for g in groups for j in tracker.getJobIdsForGroup(g)]

    def ungrouped_job_ids(self) -> set[int]:
        """Jobs that carry no job group (e.g. those a streaming query's
        foreachBatch callback starts)."""
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def jvm_times(self) -> dict[str, float]:
        """Seconds the driver JVM has spent compiling (JIT) and collecting
        garbage since it started."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return {
            "compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        }

    def read(self, job_ids: list[int], t0: float, t1: float) -> dict:
        """Counters summed over ``job_ids``; ``stage_s`` is the union of
        their stages' submission-to-completion spans clipped to the
        epoch-second window ``[t0, t1]``."""
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        spans = []
        for job_id in job_ids:
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                attempts = self._store.stageData(stage_id, False, None, False, self._no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["run_s"] += sd.executorRunTime() / 1e3
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["input_bytes"] += sd.inputBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out["stage_s"] = union_length(spans, t0, t1)
        return out
