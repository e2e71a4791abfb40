"""Op timing, spans and Spark job accounting, all from outside the library.

``Recorder`` times every operation the workload issues. With tracing on
it also

* tags the op's jobs with ``sc.setJobGroup`` and, right after the op,
  reads every job submitted during it (tagged or not) and its stages
  from the driver's status store, so nothing is lost to the store's
  ``spark.ui.retainedJobs/Stages`` eviction later on;
* records spans (name, start, end, parent, op id) at the call sites of
  each layer and around the public functions of the operator modules.

Spans stay in memory; ``dump`` writes them out once the run is over.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import statistics
import sys
import time
from typing import List, Optional

from py4j.protocol import Py4JJavaError

OPERATOR_MODULES = ("dedup", "similarity", "text", "sketch", "classify", "linkage")


class Op:
    """One operation issued by the client: its wall time and, when
    traced, the Spark work it caused."""

    __slots__ = ("id", "kind", "start", "end", "error", "jobs", "untagged", "evicted",
                 "job_intervals", "stages", "tasks", "task_s", "shuffle_mb", "spill_mb", "input_mb")

    def __init__(self, op_id: int, kind: str):
        self.id, self.kind = op_id, kind
        self.start = self.end = 0.0
        self.error: Optional[str] = None
        self.jobs = self.untagged = self.evicted = self.stages = self.tasks = 0
        self.job_intervals: List[tuple] = []
        self.task_s = self.shuffle_mb = self.spill_mb = self.input_mb = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def gap_s(self) -> float:
        """Wall time not covered by any of the op's jobs: driver work
        between and around jobs."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(lo, self.start), min(hi, self.end)) for lo, hi in self.job_intervals
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, self.wall_s - covered)


class Recorder:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: List[Op] = []
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._op: Optional[Op] = None
        self._seen_stages: set = set()
        self.read_s = 0.0  # time spent reading the status store
        # id the scheduler gives the next job; reading it does not advance it
        self.next_job = self.sc._jsc.sc().dagScheduler().nextJobId
        if traced:
            self._store = self.sc._jsc.sc().statusStore()

    # -- ops -------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one client operation. An exception is recorded on the op
        (class name) and swallowed: failures are counted, never retried."""
        op = Op(len(self.ops), kind)
        self.ops.append(op)
        self._op = op
        if self.traced:
            self.sc.setJobGroup("perfbench-%d" % op.id, kind)
            first_job = self.next_job()
            span = self._open("op." + kind)
        op.start = time.time()
        try:
            yield op
        except Exception as exc:  # counted as a failed op, run continues
            op.error = type(exc).__name__
            first_line = (str(exc).strip().splitlines() or [""])[0][:300]
            print("perfbench: op %d %s raised %s: %s" % (op.id, kind, op.error, first_line), file=sys.stderr)
        finally:
            op.end = time.time()
            self._op = None
            if self.traced:
                self._close(span)
                self.sc.setJobGroup("perfbench-idle", "between ops")
                self._read_jobs(op, first_job)

    def fail(self, op: Op, why: str) -> None:
        """Mark an op whose output did not match the expected answer."""
        if op.error is None:
            op.error = why

    def _read_jobs(self, op: Op, first_job: int) -> None:
        t0 = time.perf_counter()
        last_job = self.next_job()
        tagged = set(self.sc.statusTracker().getJobIdsForGroup("perfbench-%d" % op.id))
        for jid in range(first_job, last_job):
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                op.evicted += 1
                continue
            op.jobs += 1
            op.untagged += jid not in tagged
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                op.job_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            seq = jd.stageIds()
            for i in range(seq.size()):
                self._read_stage(op, seq.apply(i))
        self.read_s += time.perf_counter() - t0

    def _read_stage(self, op: Op, sid: int) -> None:
        if sid in self._seen_stages:
            return
        self._seen_stages.add(sid)
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            op.evicted += 1
            return
        if st.status().toString() == "SKIPPED":
            return
        op.stages += 1
        op.tasks += st.numTasks()
        op.task_s += st.executorRunTime() / 1e3
        op.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
        op.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        op.input_mb += st.inputBytes() / 1e6

    # -- spans -----------------------------------------------------------
    def _open(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op.id if self._op else None,
            }
        )
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap_module(self, module, layer: str) -> None:
        """Record a span around every public function of ``module``.

        The wrapper keeps the function's ``__module__`` and
        ``__qualname__`` and replaces it under that name, so cloudpickle
        still ships it to Python workers by reference (the workers
        resolve the unwrapped original)."""
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module.__name__:
                continue

            def make(fn=fn, span_name="%s.%s" % (layer, name)):
                @functools.wraps(fn)
                def wrapped(*args, **kwargs):
                    with self.span(span_name):
                        return fn(*args, **kwargs)

                return wrapped

            setattr(module, name, make())

    # -- output ----------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "ops": [
                        {s: getattr(op, s) for s in Op.__slots__ if s != "job_intervals"}
                        | {"gap_s": op.gap_s}
                        for op in self.ops
                    ],
                },
                fh,
            )


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
