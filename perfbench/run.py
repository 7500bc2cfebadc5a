#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload {dashboard,batch} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_work/`` (removed at exit); the engine sees only those files.
Set-up (``setup_s``) is session start plus one untimed warm-up pass;
then the workload runs closed-loop for the fewest whole decks or passes
that cover ``--seconds``; outputs are checked outside the timed region. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is 0 only when every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "batch")


def _environment(work: str, trace: bool) -> None:
    """Process environment, set before the JVM starts: UTC, bounded
    cores and heap, and every scratch path inside the checkout."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (initial = max) with a fixed young generation under
        # the parallel collector: no adaptive resizing, so the resident
        # size tracks the data the engine keeps live (with G1 the peak
        # jumped by ~350 MB between runs of the same work)
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{os.environ['SPARK_DRIVER_MEMORY']} "
        f"-Xmn512m -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work, bool(a.trace))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import harness
        from event_driven_data_pipeline_for_e_commerce_spark import session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
        return 2
    try:
        result = harness.run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result["report"]:
        print(line)
    if a.trace:
        with open(os.path.join(base, f"last_{a.workload}_trace.json"), "w") as fh:
            json.dump(result["detail"], fh, indent=1, default=str)
    print(json.dumps(result["final"]))
    return 0 if result["final"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
