"""Timing, Spark job counting and spans around calls into the program.

Every call the benchmark makes into ``eventstorm_spark`` goes through
``Tracer.call``. Untraced, that is a bare call. Traced, the call runs
under its own Spark job group, so the job ids it launched are read back
from ``statusTracker().getJobIdsForGroup``, and a span (name, layer,
start, end, parent operation, operation id, job ids) is kept in memory
until the run writes them out.

Workload operations (one append, one read, one drain, ...) are timed in
both modes by ``Tracer.op``; their latencies are the end-to-end samples.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


p50 = statistics.median


def p90(values):
    """Inclusive 90th percentile (needs two samples or more)."""
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.reset()
        self._op_id = 0
        self._op_span = None
        self._seq = 0

    def reset(self) -> None:
        """Forget everything recorded so far (set-up and warm-up)."""
        self.spans: list[dict] = []
        self.latencies: dict[str, list[float]] = {}  # op kind -> ms samples
        self.call_ms: dict[str, list[float]] = {}  # call name -> ms samples
        self.jobs: dict[str, list[int]] = {}  # op kind or call name -> jobs each
        self.ops = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def op(self, kind: str):
        """One timed workload operation; the parent of its call spans."""
        self._op_id += 1
        span = {"name": kind, "layer": "bench", "parent": None,
                "op_id": self._op_id, "jobs": []}
        self._op_span = span
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._op_span = None
            self.ops += 1
            self.latencies.setdefault(kind, []).append((end - start) * 1000)
            if self.enabled:
                span["start"], span["end"] = start, end
                span["jobs"].sort()
                self.jobs.setdefault(kind, []).append(len(span["jobs"]))
                self.spans.append(span)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Call into the program; traced, record a span with its job ids."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            parent = None
            if self._op_span is not None:
                parent = self._op_span["op_id"]
                self._op_span["jobs"].extend(jobs)
            self.spans.append({"name": name, "layer": layer, "start": start,
                               "end": end, "parent": parent,
                               "op_id": parent, "jobs": jobs})
            self.jobs.setdefault(name, []).append(len(jobs))
            self.call_ms.setdefault(name, []).append((end - start) * 1000)
            self.overhead_s += (start - t0) + (time.perf_counter() - end)

    def add_jobs(self, name: str, jobs: list) -> None:
        """Attach jobs launched on another thread (a streaming query) to
        the innermost span of ``name`` in the current operation."""
        if not self.enabled:
            return
        span = next(s for s in reversed(self.spans) if s["name"] == name)
        span["jobs"] = sorted(span["jobs"] + list(jobs))
        self.jobs[name][-1] = len(span["jobs"])
        if self._op_span is not None:
            self._op_span["jobs"].extend(jobs)

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time over the timed operations: a call span's
        duration is its layer's; an operation's duration minus its call
        spans is the benchmark's own (event generation, bookkeeping)."""
        out: dict[str, float] = {}
        ops = {s["op_id"]: s for s in self.spans if s["layer"] == "bench"}
        for s in self.spans:
            if s["parent"] in ops:
                d = s["end"] - s["start"]
                out[s["layer"]] = out.get(s["layer"], 0.0) + d
                out["bench"] = out.get("bench", 0.0) - d
        for s in ops.values():
            out["bench"] = out.get("bench", 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
