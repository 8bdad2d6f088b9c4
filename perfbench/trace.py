"""Outside-in tracing for the traced benchmark run.

Nothing here edits engine code. ``Tracer.wrap`` swaps a public engine
function for a timing wrapper in every loaded engine module that holds
a reference to it (``pipeline`` imports ``minhash_pairs`` by name, so
patching ``dedup.minhash_pairs`` alone would miss that call), and
``restore`` puts the originals back. Spans live in memory and are
written out when the run ends.

``spark_counts`` reads what Spark already records per job group: job,
stage and task counts from ``statusTracker`` and per-stage task metrics
(shuffle bytes, spill, GC, executor run and CPU time) from the status
store. Both are filled by Spark's status listener, which runs with the
UI disabled.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from typing import Any

ENGINE = "pim_orc_spark"


class NullTracer:
    """The untraced run's stand-in: phases and spans cost nothing."""

    def span(self, name: str):
        return nullcontext()

    def phase(self, kind: str, fn: Callable[[], Any]) -> Any:
        return fn()


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.op_tag = "setup"
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """A span named ``name`` whose parent is the innermost open span."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent,
               "start_ms": (time.perf_counter() - self.t0) * 1e3}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = (time.perf_counter() - self.t0) * 1e3
            dur = rec["end_ms"] - rec["start_ms"]
            self.calls[name] += 1
            self.ms[name] += dur

    def phase(self, kind: str, fn: Callable[[], Any]) -> Any:
        """Run ``fn`` as the op's ``kind`` phase ("plan": building the
        DataFrame, including any eager jobs; "sink": the action), with
        its Spark jobs tagged by the job group ``<op_tag>-<kind>``."""
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{self.op_tag}-{kind}", kind)
        with self.span(kind):
            return fn()

    def wrap(self, fn: Callable, name: str,
             on_call: Callable[[tuple, Any], None] | None = None) -> None:
        """Replace ``fn`` by a spanned wrapper wherever an engine module
        binds it. ``on_call(args, result)`` sees each call's arguments
        and result, for counts that need them."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, out)
            return out

        self.patch(fn, wrapper)

    def patch(self, fn: Callable, replacement: Callable) -> None:
        """Bind ``replacement`` wherever an engine module binds ``fn``."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(ENGINE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, replacement)

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def tree(self, root: int) -> dict:
        """The span ``root`` and its descendants as a nested dict."""
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)

        def node(i: int) -> dict:
            s = self.spans[i]
            return {"name": s["name"],
                    "ms": round(s["end_ms"] - s["start_ms"], 3),
                    "children": [node(k) for k in kids[i]]}

        return node(root)


STAGE_FIELDS = {
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "spark.gc_ms": "jvmGcTime",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",  # ns in Spark; scaled below
}


def spark_counts(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages (run, not skipped), tasks, failed tasks and summed
    stage task metrics of every job tagged with one of ``groups``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the last stage's metrics land async
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict.fromkeys(
        ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
         *STAGE_FIELDS], 0.0)
    stages: set[int] = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
    for sid in sorted(stages):
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        out["spark.stages"] += 1
        out["spark.tasks"] += info.numTasks
        out["spark.failed_tasks"] += info.numFailedTasks
        data = store.lastStageAttempt(sid)
        for key, field in STAGE_FIELDS.items():
            names = field if isinstance(field, tuple) else (field,)
            out[key] += sum(getattr(data, f)() for f in names)
    out["spark.executor_cpu_ms"] /= 1e6
    return out
