"""In-memory spans and per-op Spark counts, recorded from outside the package.

Spans are opened by the benchmark's own code around calls into each
module's public functions (``extract.build_extract_query``,
``sources.read_paged``, ``sinks.write_table`` ...), or by wrapping a module
attribute for functions the package calls internally
(``pipeline.transform_config_frame``, ``pipeline.run_configs``).  The
wrappers are installed only in a traced run, and record only while the
tracer is enabled, so a traced run can interleave traced and untraced
batches and report the tracing overhead.

Spark counts come from the job group each op runs under:
``statusTracker().getJobIdsForGroup`` gives the jobs, and the JVM status
store (``statusStore().lastStageAttempt``) gives per-stage task, time,
shuffle and spill figures.  Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

#: A stage shorter than this counts as a short (scheduling-bound) stage.
SHORT_STAGE_MS = 50

STAGE_FIELDS = (
    "stages", "short_stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.op: str | None = None
        self.group: str | None = None
        self.batch = 0
        self._stack: list[dict] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record [start, end] of the block under the current parent and op.
        ``jobs=True`` also counts the Spark jobs the block ran."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op, "batch": self.batch,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        before = self.job_ids() if jobs else None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                rec["jobs"] = len(self.job_ids() - before)

    def wrap(self, module, attr: str, name: str, jobs: bool = False) -> None:
        """Replace ``module.attr`` by a wrapper that opens a span per call."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- ops and Spark counts -----------------------------------------------

    def begin_op(self, op: str, group: str) -> None:
        self.op, self.group = op, group
        if self.sc is not None:
            self.sc.setJobGroup(group, op)

    def job_ids(self) -> set[int]:
        if self.sc is None or self.group is None:
            return set()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def spark_counts(self) -> dict:
        """Jobs and stage metrics of every job run under the current group."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        ids = self.job_ids()
        out["jobs"] = len(ids)
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for jid in ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # evicted or never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    if done.get().getTime() - sub.get().getTime() < SHORT_STAGE_MS:
                        out["short_stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["failed_tasks"] += st.numFailedTasks()
        return out

    def end_op(self, batch: int, **fields) -> None:
        rec = {"op": self.op, "batch": batch, **fields}
        if self.enabled:
            rec["spark"] = self.spark_counts()
        self.ops.append(rec)
        self.op = None


def self_times(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the durations of its direct children."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [{**s, "self": s["end"] - s["start"] - child[s["id"]]} for s in spans]
