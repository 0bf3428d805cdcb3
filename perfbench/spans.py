"""Per-layer tracing from outside the engine.

``Tracer`` wraps public calls into the engine's layers (module functions
and methods) with in-memory spans: name, start, end, parent span and run
id. Each span on the driver's main thread runs under its own Spark job
group, and right after the call the tracer sums the stage data of that
group's jobs from the status store (it works with the UI off). Spans
opened on other threads, such as a ``foreachBatch`` callback, record time
only. A ``StreamingQueryListener`` keeps the per-batch durations of every
micro-batch.

Everything the tracer itself does (job-group switching, waiting for the
listener bus, status-store reads, candidate counts) is timed and reported
as the tracing overhead.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "spark_jobs", "tasks", "task_run_s", "jvm_cpu_s", "shuffle_bytes",
    "input_bytes", "output_bytes", "spill_bytes",
)
BATCH_DURATIONS = ("addBatch", "latestOffset", "queryPlanning", "walCommit",
                   "commitOffsets")
_BOOKKEEPING_GROUP = "perfbench-tracer"


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.sink.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.batches: list[dict] = []
        self.overhead_s = 0.0
        self._open: list[dict] = []
        self._patches: list[tuple] = []
        self._listener = _Progress(self.batches)
        self._next_id = 0

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        entered = time.perf_counter()
        on_main = threading.current_thread() is threading.main_thread()
        parent = self._open[-1] if self._open else None
        rec = {
            "id": self._next_id, "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{self._next_id}" if on_main else None,
        }
        self._next_id += 1
        if on_main:
            self.sc.setJobGroup(rec["group"], name)
            self._open.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - entered
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if on_main:
                self._open.pop()
                self._set_group(parent)
                rec.update(self._group_stats(rec["group"]))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def _group_stats(self, group: str) -> dict:
        """Sum the stage data of every job run under ``group``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["spark_jobs"] = len(jobs)
        store = jsc.statusStore()
        for stage in stages:
            sd = store.lastStageAttempt(stage)
            out["tasks"] += sd.numCompleteTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def bookkeeping_count(self, df) -> int:
        """Count ``df`` under the tracer's own job group, as overhead."""
        t = time.perf_counter()
        parent = self._open[-1] if self._open else None
        self.sc.setJobGroup(_BOOKKEEPING_GROUP, "tracer bookkeeping")
        try:
            return df.count()
        finally:
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(rec, args,
        result)`` may add counts to the span record."""
        original = getattr(owner, attr)
        if getattr(original, "_perfbench_span", None):
            return  # imported from a module that is already wrapped
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(rec, args, result)
                tracer.overhead_s += time.perf_counter() - t
            return result

        traced._perfbench_span = name
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def instrument_pipeline(self, pipeline) -> None:
        """Span each job's build and write (``Pipeline.jobs`` is public)."""
        for name, job in list(pipeline.jobs.items()):
            pipeline.jobs[name] = dataclasses.replace(
                job,
                build=self._spanned(job.build, f"{name}.build"),
                write=self._spanned(job.write, f"{name}.write"),
            )

    def _spanned(self, fn, name: str):
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return call

    def start(self) -> None:
        self.spark.streams.addListener(self._listener)

    def stop(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self._listener)

    # ------------------------------------------------------------ output
    def inclusive(self) -> dict[int, dict]:
        """Stage sums per span including every descendant span."""
        total = {s["id"]: {f: s.get(f, 0) for f in STAGE_FIELDS}
                 for s in self.spans}
        for s in sorted(self.spans, key=lambda s: -s["id"]):
            if s["parent"] is not None and s["parent"] in total:
                for f in STAGE_FIELDS:
                    total[s["parent"]][f] += total[s["id"]][f]
        return total

    def dump(self, path: str) -> None:
        incl = self.inclusive()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps({**s, "inclusive": incl[s["id"]]}) + "\n")
            for i, b in enumerate(self.batches):
                fh.write(json.dumps({"run": self.run_id, "batch": i, **b}) + "\n")

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def batch_means(self) -> dict[str, float]:
        """Mean per micro-batch of each progress duration, in seconds."""
        return {
            f"{k}_s": (statistics.fmean(b.get(k, 0) for b in self.batches) / 1e3
                       if self.batches else 0.0)
            for k in BATCH_DURATIONS
        }
