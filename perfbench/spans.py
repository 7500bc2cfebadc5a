"""Span tracing from outside the engine.

``Tracer.install`` wraps engine functions by attribute replacement:
every engine module attribute that *is* the original function object
is swapped for a wrapper, so ``from .tables import load_tables``
bindings are covered too. A span records name, start, end, parent and
the request or pass id; the innermost open span on a thread owns the
thread's Spark job group, so every Spark job is attributed to the span
that triggered it. Spans live in memory; the run summarises them in
its per-layer table and writes them to ``.bench_work/`` at the end.

``spark_by_span`` reads the traced session's event log and sums task
metrics per job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "event_driven_data_pipeline_for_e_commerce_spark"
GROUP_PREFIX = "pb-"
SPARK_KEYS = ("jobs", "stages", "tasks", "tasks_failed", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "executor_run_s", "gc_s", "task_wait_s")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self.hook_s = 0.0  # time spent in counting hooks

    @property
    def installed(self) -> bool:
        return self._sc is not None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: dict | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", f"{GROUP_PREFIX}{span['id']}" if span else None
            )

    def begin(self, name: str, rid=None) -> dict | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        span = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "start": time.perf_counter(), "end": None,
        }
        st.append(span)
        self._set_group(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_group(st[-1] if st else None)
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, rid=None):
        s = self.begin(name, rid)
        try:
            yield s
        finally:
            self.end(s)

    @contextlib.contextmanager
    def hook(self):
        """Time a counting call; its cost is part of the tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.hook_s += time.perf_counter() - t

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    # -- wrapping ----------------------------------------------------------
    def install(self, sc, targets: dict[str, tuple[object, str]], hooks: dict | None = None) -> None:
        """``targets``: span name -> (module, attribute). ``hooks``:
        span name -> (pre, post); ``pre(args, kwargs)`` runs before the
        call, ``post(token, args, kwargs, result)`` after it, inside
        the span, to record counts."""
        self._sc = sc
        hooks = hooks or {}
        engine_mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for name, (mod, attr) in targets.items():
            orig = getattr(mod, attr)
            wrapper = self._wrap(name, orig, hooks.get(name))
            for m in engine_mods:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapper)

    def _wrap(self, name, fn, hook):
        tracer = self
        pre, post = hook or (None, None)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name)
            try:
                with tracer.hook():
                    token = pre(args, kwargs) if pre is not None and s is not None else None
                out = fn(*args, **kwargs)
                if post is not None and s is not None:
                    with tracer.hook():
                        post(token, args, kwargs, out)
                return out
            finally:
                tracer.end(s)

        return wrapper

    # -- analysis ----------------------------------------------------------
    def span_cost_s(self, n: int = 200) -> float:
        """Measured cost of one begin/end pair (job-group calls included)."""
        enabled, self.enabled = self.enabled, True
        t = time.perf_counter()
        for _ in range(n):
            self.end(self.begin("trace.probe"))
        cost = (time.perf_counter() - t) / n
        self.enabled = enabled
        with self._lock:
            self.spans = [s for s in self.spans if s["name"] != "trace.probe"]
        return cost

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}


def spark_by_span(event_log_dir: str) -> dict[int, dict[str, float]]:
    """{span id: summed Spark metrics} from the event log(s) in the dir."""
    job_group: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def owner(stage_id):
        job = stage_job.get(stage_id)
        return job_group.get(job) if job is not None else None

    for path in sorted(p for p in glob.glob(f"{event_log_dir}/**", recursive=True) if os.path.isfile(p)):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
                    job_group[ev["Job ID"]] = sid
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                    if sid is not None:
                        out[sid]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                    sid = owner(info["Stage ID"])
                    if sid is not None:
                        out[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = owner(ev["Stage ID"])
                    if sid is None:
                        continue
                    o = out[sid]
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    o["tasks"] += 1
                    o["tasks_failed"] += 1 if ti.get("Failed") else 0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    o["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    sub = stage_submit.get(ev["Stage ID"])
                    if sub:
                        o["task_wait_s"] += max(0, ti.get("Launch Time", sub) - sub) / 1000.0
    return out
