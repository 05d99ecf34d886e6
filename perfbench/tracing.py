"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: around the calls
the workloads make into the program, and around public functions of the
program that timing wrappers replace for the run's lifetime. The
program itself is not edited. Spark's per-job and per-stage metrics are
read from the JVM status store, which works with the UI disabled.

A span is (name, start, end, parent, op). Spans are kept in memory and
written once at exit. A layer's self time is its span's duration minus
the part of it that child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. When disabled every method is a cheap no-op, so the
    untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap_everywhere(self, module_prefix: str, original, span_name: str) -> None:
        """Replace ``original`` by a timing wrapper under every name it is
        bound to in the loaded modules of ``module_prefix`` (callers that
        did ``from x import f`` hold their own reference)."""
        tracer = self

        @functools.wraps(original)
        def timed(*args, **kwargs):
            with tracer.span(span_name):
                return original(*args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(module_prefix) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, timed)
                    self._patched.append((mod, attr, original))

    def unwrap_all(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def op_spans(self, op: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name]

    def total(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.op_spans(op, name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the union of the
    intervals its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
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
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


STAGE_FIELDS = {
    "spark.tasks": lambda st: st.numCompleteTasks(),
    "spark.task_cpu_s": lambda st: st.executorCpuTime() / 1e9,
    "spark.task_run_s": lambda st: st.executorRunTime() / 1e3,
    "spark.shuffle_write_bytes": lambda st: st.shuffleWriteBytes(),
    "spark.spill_bytes": lambda st: st.memoryBytesSpilled() + st.diskBytesSpilled(),
    "spark.gc_s": lambda st: st.jvmGcTime() / 1e3,
}


class SparkJobs:
    """Per-job and per-stage metrics from the driver's status store.

    Job tags are thread-local, so jobs that the program launches from its
    own worker threads do not carry the benchmark's tag. With one client
    and a closed loop, every job submitted between an op's start and end
    belongs to that op, so jobs are attributed by submission time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seen = -1
        self.jobs: list[dict] = []  # {id, submitted (s), stages: [ids]}

    def refresh(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        ids = sorted(i for i in self.sc.statusTracker().getJobIdsForGroup(None) if i > self._seen)
        for jid in ids:
            job = store.job(jid)
            sub = job.submissionTime()
            stages = [int(x) for x in job.stageIds().mkString(",").split(",") if x]
            self.jobs.append(
                {
                    "id": jid,
                    "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    "stages": stages,
                }
            )
            self._seen = max(self._seen, jid)

    def in_window(self, start: float, end: float) -> list[dict]:
        # submission times have millisecond resolution
        return [
            j for j in self.jobs
            if j["submitted"] is not None and start - 1e-3 <= j["submitted"] <= end + 1e-3
        ]

    def window_metrics(self, start: float, end: float) -> dict[str, float]:
        store = self._jsc.statusStore()
        jobs = self.in_window(start, end)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["spark.jobs"] = float(len(jobs))
        out["spark.stages"] = 0.0
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted (skipped)
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["spark.stages"] += 1
            for k, get in STAGE_FIELDS.items():
                out[k] += float(get(st))
        return out
