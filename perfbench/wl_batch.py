"""``batch``: the data-engineering batch job.

Closed loop, one client, passes back to back. One pass is the ETL half
(``wl_etl``: medallion build, Gold fact write, SCD2 CDC micro-batches)
followed by the curation half (``wl_curation``: MinHash near-duplicates,
dedup survivors, exact / IVF / LSH top-k) in the same session. The
operations are the CDC micro-batches, so ``latency_p50_s`` is their
median (``cdc_batch_p50_s``); ``pass_s`` is the whole pass. Set-up is session start plus one trivial
job: a batch job is launched cold, as a scheduled ``spark-submit`` is,
and pays its JIT and code-generation warm-up inside its pass.
"""

from __future__ import annotations

import os

import wl_curation
import wl_etl
from harness import Window, batch_window, smoke


def prepare(seed: int, work: str) -> dict:
    etl = wl_etl.prepare(seed, os.path.join(work, "etl"))
    cur = wl_curation.prepare(seed, os.path.join(work, "curation"))
    manifest = {"bytes": etl["manifest"]["bytes"] + cur["manifest"]["bytes"],
                "rows": {**etl["manifest"]["rows"], **cur["manifest"]["rows"]}}
    return {"etl": etl, "curation": cur, "manifest": manifest}


warmup = smoke
LATENCY_IS = "cdc_batch_p50_s"


def _pass(spark, state: dict, tracer, win: Window) -> tuple[float, float]:
    with tracer.span("pass", len(win.passes)):
        start, _ = wl_etl.run_pass(spark, state["etl"], tracer, win)
        _, end = wl_curation.run_pass(spark, state["curation"], tracer)
    return start, end


def measure(spark, state: dict, seconds: float, tracer) -> Window:
    return batch_window(lambda win: _pass(spark, state, tracer, win), seconds, tracer)


def check(state: dict, win: Window) -> dict:
    parts = [wl_etl.check(state["etl"], win), wl_curation.check(state["curation"], win)]
    return {"global": [g for p in parts for g in p["global"]], "checks": sum(p["checks"] for p in parts)}
