"""Spans around the benchmark's calls into the package.

Every span records its name, start, end, parent, request id and the CPU
time of the run's processes, so the untraced run gets its figures from the
same code as the traced one.  With
tracing on, a span also puts its calls under a Spark job group of its own
and, when it ends, reads that group's jobs and stages from Spark's status
store: job and task counts, executor run and CPU time, shuffle, spill and
input bytes, and task skew.  Nothing is read from inside the package.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: the per-call set recorded for every layer boundary: name -> unit
CALL_UNITS = {
    "calls": "count",
    "wall_s": "s",
    "cpu_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "driver_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
    "task_skew": "ratio",
}

#: layer boundaries, named after the package modules whose public
#: functions the benchmark calls
LAYERS = (
    "indexing.build",
    "query.search",
    "query.search_many",
    "indexing.append",
    "indexing.delete",
    "indexing.compact",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.drop_near_duplicates",
    "operators.dedup.simhash_near_pairs",
)


class Tracer:
    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        if traced:
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self._quantiles = self._sc._gateway.new_array(
                self._sc._gateway.jvm.double, 2
            )
            self._quantiles[0], self._quantiles[1] = 0.5, 1.0
            self._seen = self._ungrouped()

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        """Time the body; yields the span record (``wall_s`` and ``cpu_s``
        are set on exit)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "request": request if request is not None
               else (parent or {}).get("request"), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced:
            t = time.perf_counter()
            self._seen |= self._ungrouped()
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
            self.overhead_s += time.perf_counter() - t
        c0 = tree_cpu_s()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            if self.traced:
                t = time.perf_counter()
                self._collect(rec)
                if parent is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(f"perfbench-{parent['id']}",
                                         parent["name"])
                self.overhead_s += time.perf_counter() - t

    def walls(self, name: str) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["name"] == name]

    def cpus(self, name: str) -> list[float]:
        return [s["cpu_s"] for s in self.spans if s["name"] == name]

    def summary(self) -> str:
        """Count and median wall seconds per span name, for the log."""
        names = dict.fromkeys(s["name"] for s in self.spans)
        return ", ".join(
            f"{n} {len(self.walls(n))}x{statistics.median(self.walls(n)):.2f}s"
            for n in names)

    # -- status store ------------------------------------------------------

    def _ungrouped(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _collect(self, rec: dict) -> None:
        """Attach the span's Spark jobs: its own group plus the ungrouped
        jobs that appeared during it (the package submits some jobs from
        worker threads, which do not inherit the caller's group)."""
        self._bus.waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
        fresh = self._ungrouped() - self._seen
        self._seen |= fresh
        ids |= fresh
        m = dict.fromkeys(
            ("tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_write_bytes", "spill_bytes", "input_bytes"), 0
        )
        intervals, skews, stages = [], [], set()
        for jid in sorted(ids):
            job = self._store.job(jid)
            if job.submissionTime().isDefined():
                start = job.submissionTime().get().getTime() / 1000
                end = (job.completionTime().get().getTime() / 1000
                       if job.completionTime().isDefined() else rec["end"])
                intervals.append((max(start, rec["start"]),
                                  min(end, rec["end"])))
            sids = job.stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        for sid in stages:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            m["tasks"] += st.numCompleteTasks()
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
            if st.numCompleteTasks() >= 2:
                q = self._store.taskSummary(sid, st.attemptId(),
                                            self._quantiles)
                if q.isDefined():
                    run = q.get().executorRunTime()
                    if run.apply(0) > 0:
                        skews.append(run.apply(1) / run.apply(0))
        m["jobs"] = len(ids)
        m["driver_s"] = max(0.0, rec["wall_s"] - _covered(intervals))
        m["task_skew"] = max(skews, default=0.0)
        rec["spark"] = m

    # -- reporting -----------------------------------------------------------

    def layer_metrics(self) -> dict[str, dict]:
        """Per-call means of the call set for every layer; idle layers
        report 0 (``task_skew`` is the median over calls that had it)."""
        out = {}
        for layer in LAYERS:
            recs = [s for s in self.spans if s["name"] == layer and "spark" in s]
            n = len(recs)
            for key, unit in CALL_UNITS.items():
                if key == "calls":
                    v = n
                elif key in ("wall_s", "cpu_s"):
                    v = sum(s[key] for s in recs) / n if n else 0.0
                elif key == "task_skew":
                    sk = [s["spark"]["task_skew"] for s in recs
                          if s["spark"]["task_skew"] > 0]
                    v = statistics.median(sk) if sk else 0.0
                else:
                    v = sum(s["spark"][key] for s in recs) / n if n else 0.0
                out[f"{layer}.{key}"] = {"value": v, "unit": unit}
        return out

    def write(self, path) -> None:
        """Write every span, with its self time, as one JSON line each."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        with open(path, "w") as fh:
            for s in self.spans:
                s = dict(s, self_s=s["wall_s"] - _covered(children.get(s["id"], [])))
                fh.write(json.dumps(s, default=str) + "\n")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a /proc stat file."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and every
    process below it (the Spark JVM and its Python workers), counting the
    children they have reaped, less the JVM's JIT compiler threads.  Time
    the hypervisor steals from the VM is not in it.  The JIT is left out
    because it is warm-up, not the cost of a call: it is the JVM's largest
    CPU user in a short run, and how much of it lands inside a call depends
    on how fast the host ran before."""
    stats = {int(d): st for d in os.listdir("/proc")
             if d.isdigit() and (st := _stat(f"/proc/{d}/stat"))}
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, f = stats[pid]
            total += sum(int(x) for x in f[11:15])
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    st = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if st and st[0].endswith("CompilerThre"):
                        total -= int(st[1][11]) + int(st[1][12])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
