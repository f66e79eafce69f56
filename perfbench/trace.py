"""Spans around the engine's public calls, plus Spark stage metrics per span.

A span is (name, start, end, parent). Spans live in memory and are written
out once, when the run ends. While a span is open on a thread, the Spark
jobs that thread submits carry the span's name as their job description;
afterwards the per-stage metrics of those jobs are read from the Spark
status store, which is kept with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        #: seconds the tracer itself spent inside timed spans
        self.overhead_s = 0.0

    def _stack(self) -> list[str]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, name: str, tag: bool = True) -> dict:
        """Open a span on this thread; its Spark jobs get ``name`` as description."""
        t = time.perf_counter()
        stack = self._stack()
        span = {
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
            "wall": time.time(),
            "prev_desc": self.sc.getLocalProperty(_DESC),
        }
        stack.append(name)
        if tag:
            self.sc.setLocalProperty(_DESC, name)
        with self._lock:
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t
        return span

    def end(self, span: dict) -> None:
        t = time.perf_counter()
        span["end"] = t
        self._stack().pop()
        self.sc.setLocalProperty(_DESC, span.pop("prev_desc"))
        with self._lock:
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, tag: bool = True):
        s = self.begin(name, tag)
        try:
            yield s
        finally:
            self.end(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- Spark status store ---------------------------------------------------
    def stage_metrics(self, untagged=None) -> dict[str, dict]:
        """Per job description: cpu_s, gc_s, shuffle_b, spill_b, skew.

        Jobs without a description (submitted by engine-internal threads,
        which do not inherit the caller's description) are named by
        ``untagged(submission_epoch_ms)``, or dropped when it returns None.
        skew is max/median task run time of the span's dominant stage (the
        one with the most executor run time).
        """
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        qs = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        out: dict[str, dict] = {}
        dominant: dict[str, tuple[float, float]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            desc = job.description()
            if desc.isDefined():
                name = desc.get()
            else:
                sub = job.submissionTime()
                name = untagged(sub.get().getTime()) if untagged and sub.isDefined() else None
            if name is None:
                continue
            acc = out.setdefault(
                name, {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_b": 0, "spill_b": 0, "skew": 0.0}
            )
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Exception:  # noqa: BLE001 - stage pruned from the store
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                acc["cpu_s"] += st.executorCpuTime() / 1e9
                acc["gc_s"] += st.jvmGcTime() / 1e3
                acc["shuffle_b"] += st.shuffleWriteBytes()
                acc["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run = float(st.executorRunTime())
                if st.numTasks() >= 2 and run > dominant.get(name, (-1.0, 0.0))[0]:
                    summ = store.taskSummary(st.stageId(), st.attemptId(), qs)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        dominant[name] = (run, mx / med if med > 0 else 1.0)
        for name, (_, skew) in dominant.items():
            out[name]["skew"] = skew
        return out
