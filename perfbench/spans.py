"""Span recording for the traced run.

The traced run records a span (name, start, end, parent, run id)
around every call the benchmark makes into a layer, keeps the spans in
memory and writes them out at the end. Each span also:

- tags the Spark jobs it launches with
  ``setJobGroup(<run id>:<span id>)`` and counts their jobs, stages
  and tasks through ``statusTracker()``;
- records the driver-side ``metrics.KERNEL_DISTANCE_EVALS`` delta.

After the session stops, ``attach_event_log`` folds executor run and
CPU time, shuffle bytes and spill from the uncompressed Spark event
log into the spans whose job groups ran the stages, and
``StreamProgress`` collects micro-batch progress from a
``StreamingQueryListener``.

Nothing here is active in an untraced run: ``Tracer(run_id,
enabled=False)`` records wall times only and never touches Spark.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "groups")

    def __init__(self, sid: int, name: str, parent: int | None) -> None:
        self.id, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.attrs: dict = {}
        self.groups: list[str] = []  # job groups whose jobs belong to this span

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self, run_id: str, t0: float) -> dict:
        return {
            "run_id": run_id,
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            **self.attrs,
        }


class Tracer:
    """Closed-loop span recorder. Until ``spark`` is set, and always
    when ``enabled`` is false, spans carry wall time only."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent)
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        if sc is not None:
            from diversity_maximization_spark.metrics import KERNEL_DISTANCE_EVALS

            evals0 = KERNEL_DISTANCE_EVALS.n
            group = f"{self.run_id}:{s.id}"
            s.groups.append(group)
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.attrs["distance_evals"] = KERNEL_DISTANCE_EVALS.n - evals0
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    sc.setJobGroup(f"{self.run_id}:{outer.id}", outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def count_jobs(self) -> None:
        """Resolve each span's job groups to job, stage and task counts
        through the status tracker (call once the spans are closed and
        before the session stops)."""
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            jobs = sorted(j for g in s.groups for j in tracker.getJobIdsForGroup(g))
            # a stage a later job reuses (skipped) keeps its id: count once
            stage_ids = {
                sid for j in jobs for sid in getattr(tracker.getJobInfo(j), "stageIds", ())
            }
            stages = tasks = 0
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
            s.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def self_time(self, s: Span) -> float:
        kids = sum(c.dur for c in self.spans if c.parent == s.id)
        return s.dur - kids

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.find(name))

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root.id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent == pid]
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [s.to_json(self.run_id, self.t0) for s in self.spans],
                    **extra,
                },
                f,
                indent=1,
            )


def event_log_conf(log_dir: str) -> list[str]:
    """``--conf`` arguments that turn on the plain-JSON event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def read_event_log(log_dir: str) -> dict:
    """Parse every event file under ``log_dir``: returns
    ``{"stage_group": {stage: job group it ran under},
    "stage_ops": {stage: set(operator name)},
    "stage_tasks": {stage: [metrics dict per finished task]}}``.
    A stage a later job reuses is not submitted again, so each stage
    belongs to exactly one group."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    stage_group: dict[int, str] = {}
    stage_ops: dict[int, set] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    ops = stage_ops.setdefault(sid, set())
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            ops.add(json.loads(scope).get("name", ""))
                        ops.add(rdd.get("Name", ""))
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault(ev["Stage ID"], []).append(_task_metrics(ev))
    return {"stage_group": stage_group, "stage_ops": stage_ops, "stage_tasks": stage_tasks}


def attach_event_log(tracer: Tracer, log: dict) -> None:
    """Add executor-side sums to every span, from the stages that ran
    under its job groups: run/CPU seconds, shuffle-write and spill
    bytes, and the task time of stages running a pandas grouped
    kernel (``...InPandas`` operators)."""
    by_group: dict[str, list[int]] = {}
    for sid, group in log["stage_group"].items():
        by_group.setdefault(group, []).append(sid)
    for s in tracer.spans:
        agg = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        kernel_s, kernel_tasks = 0.0, 0
        for sid in (sid for g in s.groups for sid in by_group.get(g, ())):
            is_kernel = any("InPandas" in op for op in log["stage_ops"].get(sid, ()))
            for t in log["stage_tasks"].get(sid, []):
                for k in agg:
                    agg[k] += t[k]
                if is_kernel:
                    kernel_s += t["run_s"]
                    kernel_tasks += 1
        s.attrs.update(
            executor_run_s=round(agg["run_s"], 3),
            executor_cpu_s=round(agg["cpu_s"], 3),
            shuffle_write_bytes=agg["shuffle_write_bytes"],
            spill_bytes=agg["spill_bytes"],
            kernel_task_s=round(kernel_s, 3),
            kernel_tasks=kernel_tasks,
        )


class StreamProgress(StreamingQueryListener):
    """Micro-batch progress of every streaming query started while it
    is registered. ``wait_terminated`` blocks until the listener bus
    has delivered the termination of each started query, so all of its
    progress events have arrived (the bus is ordered)."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.append(p)

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        with self._cv:
            while not set(self.started) <= self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener did not see every query end")
                self._cv.wait(left)

    def summary(self) -> dict:
        """Sums over every micro-batch that read input."""
        batches = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = sorted(p["durationMs"].get("triggerExecution", 0) for p in batches)

        def total(key: str) -> int:
            return sum(p["durationMs"].get(key, 0) for p in batches)

        ops = [op for p in batches for op in p.get("stateOperators", [])]
        last_by_run: dict[str, list] = {}
        for p in batches:
            last_by_run[p["runId"]] = p.get("stateOperators", [])
        return {
            "batches": len(batches),
            "batch_p50_ms": dur[len(dur) // 2] if dur else 0,
            "batch_max_ms": dur[-1] if dur else 0,
            "add_batch_ms": total("addBatch"),
            "planning_ms": total("queryPlanning"),
            "commit_ms": total("walCommit") + total("commitOffsets"),
            "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
            "state_rows": sum(op.get("numRowsTotal", 0) for v in last_by_run.values() for op in v),
            "state_bytes": sum(
                op.get("memoryUsedBytes", 0) for v in last_by_run.values() for op in v
            ),
            "input_rows": sum(p.get("numInputRows", 0) for p in batches),
        }
