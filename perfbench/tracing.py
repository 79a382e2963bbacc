"""Spans around the engine's layer entry points, recorded from outside.

A span records its name, start, end, parent span and iteration id, plus
counts taken at the same boundary (rows in and out, and whatever the
layer wrapper adds). Every span runs its Spark jobs under its own job
group, so after the run the status tracker and the driver's status
store give each span's jobs, stages, tasks and shuffle bytes.

Wrappers force the DataFrame a layer returns (persist + count) so the
span covers the layer's work rather than plan building. Those forcing
and counting jobs are the benchmark's own: they run under a separate
"probe" group, which keeps them out of the engine's job counts while
their shuffle bytes still count for the layer.

Spans stay in memory; ``dump`` writes them out once the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Callable

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iteration = 0
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []

    # -- spans -------------------------------------------------------------

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": self.iteration,
            "group": f"perfbench-span-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._set_group(None)
            else:
                self._set_group(parent["group"], parent["name"])

    @contextlib.contextmanager
    def probe(self):
        """Run the benchmark's own forcing/counting jobs of the current
        span under its probe group."""
        rec = self.current
        self._set_group(rec["group"] + "-probe", rec["name"] + " (probe)")
        try:
            yield
        finally:
            self._set_group(rec["group"], rec["name"])

    def force(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist + count under the probe group; the cached frame is
        released by ``release``."""
        with self.probe():
            df = df.persist()
            n = df.count()
        self._cached.append(df)
        return df, n

    def count(self, df: DataFrame) -> int:
        with self.probe():
            return df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def layer(self, name: str, fn: Callable, rows_in: Callable | None = None,
              after: Callable | None = None) -> Callable:
        """Wrap ``fn`` in a span named ``name``. ``rows_in(args, kwargs)``
        returns the input DataFrame to count; ``after(rec, out)`` adds
        layer-specific counts from the (forced) output."""

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                if rows_in is not None:
                    rec["counts"]["rows_in"] = self.count(rows_in(args, kwargs))
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, rec["counts"]["rows_out"] = self.force(out)
                if after is not None:
                    after(rec, out)
            return out

        return wrapped

    # -- post-run resolution ----------------------------------------------

    def resolve(self) -> None:
        """Attach Spark job/stage/task counts and shuffle/output bytes
        to every span. Waits for the listener bus first, so the status
        store has seen every finished job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()

        def group_stats(group: str) -> dict:
            out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read": 0,
                   "shuffle_write": 0, "output_bytes": 0}
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out["jobs"] += 1
                for stage_id in info.stageIds:
                    # a skipped stage may reference an attempt the
                    # status store has already evicted
                    if tracker.getStageInfo(stage_id) is None:
                        continue
                    data = store.lastStageAttempt(stage_id)
                    if str(data.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += data.numCompleteTasks()
                    out["shuffle_read"] += data.shuffleReadBytes()
                    out["shuffle_write"] += data.shuffleWriteBytes()
                    out["output_bytes"] += data.outputBytes()
            return out

        for rec in self.spans:
            rec["spark"] = group_stats(rec["group"])
            rec["probe"] = group_stats(rec["group"] + "-probe")

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover
        (children of one span never overlap: the crawl is one thread)."""
        child_time: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] = (
                    child_time.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
                )
        return {
            rec["id"]: rec["end"] - rec["start"] - child_time.get(rec["id"], 0.0)
            for rec in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


@contextlib.contextmanager
def patched(obj, attr: str, value):
    """Temporarily replace ``obj.attr`` (a module function the crawl
    loop resolves at call time, or an instance method)."""
    had = attr in vars(obj)
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        if had:
            setattr(obj, attr, old)
        else:
            delattr(obj, attr)
