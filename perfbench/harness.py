"""Workload-independent run loop: set-up, measurement, checks, metrics.

A workload module provides ``prepare(seed, work) -> state``,
``warmup(spark, state)``, ``measure(spark, state, seconds, tracer) ->
Window`` and ``check(state, window)``. ``check`` marks failed ops and
returns ``{"checks": n, "global": [...]}`` for the outputs it checked
that are not ops of the window (warm-up results, Gold facts, curation
query results), with one reason per failed one.
"""

from __future__ import annotations

import importlib
import os
import time
from dataclasses import dataclass, field

import check as chk
import layers
from spans import Tracer, spark_by_span


@dataclass
class Op:
    """One request: a dashboard request or a CDC micro-batch."""

    kind: str
    start: float
    end: float
    ok: bool = True
    why: str = ""

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Window:
    """What one measured region produced."""

    ops: list[Op] = field(default_factory=list)
    passes: list[tuple[float, float]] = field(default_factory=list)  # (start, end)
    start: float = 0.0
    end: float = 0.0
    flips: int = 0
    unit: str = "pass"  # unit of the per-layer metrics: "request" or "pass"


def _jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def _peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (MB) of this Python process and of its JVM."""
    def hwm_kb(pid):
        with open(f"/proc/{pid}/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))

    pid = _jvm_pid()
    return hwm_kb("self") / 1024.0, (hwm_kb(pid) if pid else 0) / 1024.0


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 0.5) if xs else float("nan")


def _reset_peak_rss() -> None:
    """Forget the generator's and the oracles' memory peak, so
    ``peak_rss_mb`` covers the engine from session start on."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def smoke(spark, state: dict | None = None) -> None:
    """Warm-up of the batch workloads: one trivial job. A batch job is
    launched cold, so its JIT and codegen warm-up belongs in its pass."""
    spark.range(1000).selectExpr("sum(id)").collect()


def batch_window(run_pass, seconds: float, tracer) -> Window:
    """Passes back to back until ``seconds`` have elapsed (at least one);
    a traced run traces every pass."""
    win = Window()
    win.start = time.perf_counter()
    tracer.enabled = tracer.installed
    while True:
        win.passes.append(run_pass(win))
        if time.perf_counter() - win.start >= seconds:
            break
    win.end = time.perf_counter()
    return win


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    wl = importlib.import_module(f"wl_{workload}")
    t_gen = time.perf_counter()
    state = wl.prepare(seed, work)
    gen_s = time.perf_counter() - t_gen

    from event_driven_data_pipeline_for_e_commerce_spark.session import get_spark

    _reset_peak_rss()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    t1 = time.perf_counter()
    wl.warmup(spark, state)
    t2 = time.perf_counter()
    setup_s = t2 - t0

    tracer = Tracer()
    if trace:
        layers.install(tracer, spark, state)
    window = wl.measure(spark, state, seconds, tracer)
    layer_counts = layers.after_window(tracer, spark, state) if trace else {}
    rss_py, rss_jvm = _peak_rss_mb()
    _shutdown(spark)

    t_check = time.perf_counter()
    failures = wl.check(state, window)
    check_s = time.perf_counter() - t_check

    if window.flips > chk.MAX_FLIPS:
        failures["global"].append(f"{window.flips} rounding flips in the run "
                                  f"(at most {chk.MAX_FLIPS} tolerated)")
    ops = window.ops
    attempted = len(ops) + failures["checks"]
    failed = sum(1 for o in ops if not o.ok) + len(failures["global"])
    correct = failed == 0
    # failed ops count in success_rate, not in the latency distribution
    lat = [o.latency for o in ops if o.ok] or [0.0]
    wall = window.end - window.start
    passes = [e - s for s, e in window.passes]
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_py + rss_jvm, "MB"),
        "success_rate": ((attempted - failed) / max(1, attempted), "ratio"),
        "latency_p50_s": (median(lat), "s"),
        "requests_per_s": (sum(1 for o in ops if o.ok) / max(1e-9, wall), "1/s"),
        "pass_s": (median(passes), "s"),
    }
    report = [
        f"# workload={workload} seed={seed} seconds={seconds} trace={int(trace)} "
        f"cpus={os.environ['SPARK_GRAFT_CPUS']} heap={os.environ['SPARK_DRIVER_MEMORY']}",
        f"# inputs: {state['manifest']['bytes']} bytes, rows {state['manifest']['rows']} "
        f"(generated in {gen_s:.2f}s)",
        f"# session {t1 - t0:.3f}s + warm-up {t2 - t1:.3f}s; window {wall:.2f}s, "
        f"{len(ops)} ops, {len(window.passes)} passes; checks {check_s:.2f}s; "
        f"rounding flips {window.flips}; peak rss python {rss_py:.0f} MB + jvm {rss_jvm:.0f} MB",
    ]
    for o in ops:
        if not o.ok:
            report.append(f"# MISMATCH {o.kind}: {o.why}")
    for why in failures.get("global", []):
        report.append(f"# MISMATCH {why}")
    report += [f"# {k} = {v:.6g} {u}" for k, (v, u) in e2e.items()]
    if getattr(wl, "LATENCY_IS", None):
        report.append(f"# {wl.LATENCY_IS} = {median(lat):.6g} s (gated as latency_p50_s)")
    # reported, not gated: 16 or 5 operations per run cannot carry a p90
    report.append(f"# latency_p90_s = {percentile(lat, 0.9):.6g} s (of {len(lat)} operations; not gated)")
    report.append(f"# error_rate = {failed / max(1, attempted):.6g} ratio ({failed} of {attempted})")
    detail = {"e2e": e2e, "ops": [o.__dict__ for o in ops], "passes": window.passes,
              "manifest": state["manifest"]}
    if trace:
        spark_stats = spark_by_span(os.path.join(work, "eventlog"))
        per_layer, table = layers.metrics(tracer, spark_stats, window, layer_counts,
                                          t1 - t0, t2 - t1)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        report += table
        detail["spans"] = tracer.spans
        detail["per_layer"] = per_layer
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"report": report, "final": final, "detail": detail}
