"""In-memory spans and per-op counters for the traced run.

Spans are recorded around calls into the program's public functions,
from the benchmark's side: name, start, end, parent span and op id.
Counters are read at the op boundary, after Spark's listener bus has
drained, so a stage that finished just before the action returned is
not missed:

- jobs, executed stages and tasks, and shuffle bytes, from Spark's
  status store (the jobs that started since the previous op: the client
  is a closed loop, so every job in that window belongs to this op.  A
  per-op job group would miss the streaming ops, whose micro-batch jobs
  run under the query's own job group);
- process-tree CPU from ``/proc``, and the JIT compiler threads' share
  of it;
- persisted RDDs (the caching layer's live entries);
- streaming progress (``durationMs``, input rows and state operators)
  from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import procstat


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


class Tracer:
    """Spans and per-op counters of one traced run, kept in memory."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.listener = _progress_listener(self.progress)
        spark.streams.addListener(self.listener)
        self.drain()
        self._mark_seen()

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str, label: str | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "label": label,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    # -- Spark status ---------------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        jobs = self.jsc.statusStore().jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def _mark_seen(self) -> None:
        for j in self._jobs():
            self._seen_jobs.add(j.jobId())
            ids = j.stageIds()
            self._seen_stages.update(ids.apply(i) for i in range(ids.size()))

    def _new_work(self) -> dict:
        """Jobs, executed stages, completed tasks and shuffle bytes since
        the previous call.  A stage counts once, the first time a job that
        ran it is seen; stages a job skipped (reused shuffle output) do not
        count."""
        store = self.jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0}
        for j in self._jobs():
            if j.jobId() in self._seen_jobs:
                continue
            self._seen_jobs.add(j.jobId())
            out["jobs"] += 1
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out

    def skip_untraced(self) -> None:
        """Count nothing that ran before this call (set-up, warm-up and
        untraced ops)."""
        self.drain()
        self._mark_seen()
        del self.progress[:]

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    # -- ops --------------------------------------------------------------------
    @contextmanager
    def op(self, op_id: str, typ: str):
        """One op: a span, and the counters read at its boundaries."""
        self._op = op_id
        n_prog = len(self.progress)
        jit0, cpu0 = procstat.jit_threads_cpu(), procstat.tree_cpu_s()
        rec = {"op": op_id, "type": typ}
        try:
            with self.span("op", typ) as s:
                yield rec
        finally:
            self.drain()
            rec.update(self._new_work())
            rec["cpu_ms"] = (procstat.tree_cpu_s() - cpu0) * 1e3
            rec["jit_cpu_ms"] = procstat.jit_delta_s(jit0, procstat.jit_threads_cpu()) * 1e3
            rec["wall_ms"] = (s["end"] - s["start"]) * 1e3
            rec["persisted_rdds"] = self.persisted_rdds()
            rec["progress"] = self.progress[n_prog:]
            self._op = None
            self.ops.append(rec)
