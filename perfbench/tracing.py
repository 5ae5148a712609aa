"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions: the wrappers replace a function by its module
global (``Tracer.wrap``), so the program calls the wrapper without any change of
its own. Each span has a name, start, end, parent and the id of the run it
belongs to; the spans are kept in memory and written out as JSON once, at
exit.

Counters recorded at the same boundaries:

- py4j round trips: every ``GatewayClient.send_command`` is one trip
  across the driver-JVM socket;
- JVM garbage-collection time, from the gateway's management beans;
- Spark jobs, read back from the status store after a run and attributed
  to the innermost span whose interval holds the job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from pathlib import Path


class Py4jCounter:
    """Counts driver-JVM round trips by wrapping ``GatewayClient.send_command``."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        if self._orig is not None:
            return
        orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            with counter._lock:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command

    def value(self) -> int:
        return self.calls


class Tracer:
    """Spans of one process; ``run_id`` groups the spans of one run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.run_id: int | None = None
        self.active = False  # wrappers pass straight through while False
        self.py4j = Py4jCounter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name) if self.active else contextlib.nullcontext()

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, module, attr: str, name: str, after=None):
        """Replace ``module.attr`` by a function that records a span around
        each call; ``after(result, args, kwargs)`` may transform the result
        inside the span (used to force lazy stages in order)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name):
                result = orig(*args, **kwargs)
                if after is not None:
                    result = after(result, args, kwargs)
                return result

        setattr(module, attr, traced)
        return orig

    def run_spans(self, run_id: int) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id]

    def dump(self, path: Path, runs: list[dict]) -> None:
        """Write every span and the per-run summaries (jobs per span, GC,
        py4j trips) as one JSON document."""
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "runs": runs}))


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        self.record = {
            "id": next(t._ids),
            "name": self.name,
            "parent": stack[-1] if stack else None,
            "run_id": t.run_id,
            "start": time.time(),
            "end": None,
            "py4j_start": t.py4j.value(),
        }
        stack.append(self.record["id"])
        return self.record

    def __exit__(self, *exc):
        t = self.tracer
        self.record["end"] = time.time()
        self.record["py4j"] = t.py4j.value() - self.record.pop("py4j_start")
        t._stack().pop()
        with t._lock:
            t.spans.append(self.record)
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def by_name(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def attribute_jobs(spans: list[dict], jobs: list[tuple[int, float]]) -> dict[str, int]:
    """Job count per span name; a job goes to the innermost (shortest) span
    whose interval holds its submission time, and to no span otherwise."""
    out: dict[str, int] = {}
    for _job, submitted in jobs:
        holders = [s for s in spans if s["start"] <= submitted <= s["end"]]
        if holders:
            inner = min(holders, key=lambda s: s["end"] - s["start"])
            out[inner["name"]] = out.get(inner["name"], 0) + 1
    return out


def spark_jobs(spark, since: float) -> list[tuple[int, float]]:
    """(job id, submission time in seconds) of every job the status store
    holds that was submitted at or after ``since``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        sub = job.submissionTime()
        if sub.isDefined():
            t = sub.get().getTime() / 1000.0
            if t >= since:
                out.append((job.jobId(), t))
    return out


def jvm_gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0
