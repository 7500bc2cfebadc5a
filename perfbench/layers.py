"""Per-layer attribution for the traced run.

Layers are the engine's modules. ``install`` wraps their public
functions (see ``spans.Tracer.install``); ``metrics`` turns the spans,
the counts recorded by the wrappers and the Spark event log into the
per-layer metrics of ``BENCHMARK.json``. Times and counts are per unit
of work: per request on ``dashboard``, per pass on ``batch``.

Engine laziness shows in the numbers: a constructor span (``dedup.*``,
``similarity.*``, ``medallion.fact_order_items``) covers only plan
building plus any eager job the constructor runs itself; the Spark work
of the lazy plan lands in the span that collects or writes it.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow.parquet as pq

from spans import SPARK_KEYS

E = "event_driven_data_pipeline_for_e_commerce_spark"

# span name -> (module path, attribute). dedup.minhash_signatures is the
# signature stage minhash_near_duplicates actually runs
# (_minhash_agg_hashed); the public minhash_signatures is not on its path.
TARGETS = {
    "tables.load_tables": ("plans.tables", "load_tables"),
    "metrics.compile_metrics": ("metrics", "compile_metrics"),
    "metrics.compile_event_metrics": ("metrics", "compile_event_metrics"),
    "pinning.pin": ("operators.pinning", "pin"),
    "pinning.release_pinned": ("operators.pinning", "release_pinned"),
    "io.read_csv_dir": ("sources.io", "read_csv_dir"),
    "io.write_table": ("sources.io", "write_table"),
    "medallion.bronze_ingest": ("pipelines.medallion", "bronze_ingest"),
    "medallion.silver_build": ("pipelines.medallion", "silver_build"),
    "medallion.fact_order_items": ("pipelines.medallion", "fact_order_items"),
    "surrogate_keys.with_surrogate_key_scalable": ("operators.surrogate_keys", "with_surrogate_key_scalable"),
    "cleansing.cleanse": ("operators.cleansing", "cleanse"),
    "scd2.scd2_init": ("operators.scd2", "scd2_init"),
    "scd2.scd2_merge": ("operators.scd2", "scd2_merge"),
    "scd2.scd2_write": ("operators.scd2", "scd2_write"),
    "incremental.ingest_increment": ("operators.incremental", "ingest_increment"),
    "dedup.minhash_near_duplicates": ("llmdata.dedup", "minhash_near_duplicates"),
    "dedup.minhash_signatures": ("llmdata.dedup", "_minhash_agg_hashed"),
    "dedup.lsh_candidate_pairs": ("llmdata.dedup", "lsh_candidate_pairs"),
    "dedup.duplicate_clusters": ("llmdata.dedup", "duplicate_clusters"),
    "similarity.brute_force_topk": ("llmdata.similarity", "brute_force_topk"),
    "similarity.ivf_topk": ("llmdata.similarity", "ivf_topk"),
    "similarity.lsh_topk": ("llmdata.similarity", "lsh_topk"),
}

# per-layer metrics reported by every workload (0 where a layer is idle)
SELF_S = [
    "tables.load_tables", "plans.construct", "plans.execute", "metrics.compile_metrics",
    "metrics.compile_event_metrics", "pinning.release_pinned", "io.read_csv_dir",
    "io.write_table", "medallion.bronze_ingest", "medallion.silver_build",
    "medallion.fact_order_items", "medallion.fact_write",
    "surrogate_keys.with_surrogate_key_scalable", "cleansing.cleanse", "scd2.scd2_merge",
    "scd2.scd2_write", "incremental.ingest_increment", "streams.cdc_batch",
    "dedup.minhash_signatures", "dedup.lsh_candidate_pairs", "dedup.duplicate_clusters",
    "similarity.brute_force_topk", "similarity.ivf_topk", "similarity.lsh_topk",
]
JOBS = ["plans.construct", "surrogate_keys.with_surrogate_key_scalable"]


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def install(tracer, spark, state: dict) -> None:
    import importlib

    from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning

    targets = {name: (importlib.import_module(f"{E}.{mod}"), attr)
               for name, (mod, attr) in TARGETS.items()}
    captured = state.setdefault("captured", defaultdict(list))

    def pin_pre(args, kwargs):
        return len(pinning._PINNED)

    def pin_post(before, args, kwargs, out):
        critical = kwargs.get("critical", args[1] if len(args) > 1 else False)
        if critical:
            tracer.count("pinning.pin_critical.calls")
            return
        tracer.count("pinning.pin.calls")
        tracer.count("pinning.fifo_evictions", before + 1 - len(pinning._PINNED))

    def write_post(_, args, kwargs, out):
        tracer.count("io.bytes_written", dir_bytes(kwargs.get("path", args[1] if len(args) > 1 else "")))

    def keep(key):
        return (None, lambda _, a, k, out: captured[key].append(out))

    hooks = {
        "pinning.pin": (pin_pre, pin_post),
        "io.write_table": (None, write_post),
        "scd2.scd2_write": (None, write_post),
        "dedup.lsh_candidate_pairs": keep("lsh_candidates"),
        "dedup.minhash_near_duplicates": keep("confirmed_pairs"),
    }
    tracer.install(spark.sparkContext, targets, hooks)


def sample_storage(tracer, spark) -> None:
    """Record the peak of Spark's cached (memory + disk) bytes."""
    if not tracer.enabled:
        return
    with tracer.hook():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        with tracer._lock:
            tracer.counts["pinning.cached_bytes_peak"] = max(
                tracer.counts["pinning.cached_bytes_peak"], cached)


def after_window(tracer, spark, state: dict) -> dict:
    """Counts that need extra Spark jobs, taken after the spans close,
    and the measured cost of one span."""
    tracer.enabled = False
    cap = state.get("captured", {})
    return {
        "lsh_candidates": sum(df.count() for df in cap.get("lsh_candidates", [])),
        "confirmed_pairs": sum(df.count() for df in cap.get("confirmed_pairs", [])),
        "span_cost_s": tracer.span_cost_s(),
    }


def metrics(tracer, spark_stats, window, counts: dict, session_s: float, warmup_s: float):
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    self_t = tracer.self_times()
    unit = window.unit
    n_units = max(1, len(window.passes) if unit == "pass" else len(window.ops))

    def under(span, name):
        while span is not None:
            if span["name"] == name:
                return True
            span = by_id.get(span["parent"])
        return False

    agg = defaultdict(lambda: defaultdict(float))
    for s in spans:
        a = agg[s["name"]]
        a["calls"] += 1
        a["self_s"] += self_t[s["id"]]
        a["incl_s"] += s["end"] - s["start"]
        for k, v in spark_stats.get(s["id"], {}).items():
            a[k] += v
    incl_jobs = defaultdict(float)
    for sid, st in spark_stats.items():
        s = by_id.get(sid)
        for name in JOBS:
            if s is not None and under(s, name):
                incl_jobs[name] += st.get("jobs", 0)

    out: dict[str, tuple[float, str]] = {}
    for k in SPARK_KEYS:
        unit_name = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
        out[f"spark.{k}"] = (sum(st.get(k, 0) for st in spark_stats.values() if st) / n_units, unit_name)
    out["session.get_spark_s"] = (session_s, "s")
    out["session.warmup_s"] = (warmup_s, "s")
    for name in SELF_S:
        out[f"{name}.self_s"] = (agg[name]["self_s"] / n_units, "s")
    out["tables.load_tables.calls"] = (agg["tables.load_tables"]["calls"] / n_units, "count")
    for name in ("pinning.pin", "pinning.pin_critical"):
        out[f"{name}.calls"] = (tracer.counts.get(f"{name}.calls", 0) / n_units, "count")
    for name in JOBS:
        out[f"{name}.jobs"] = (incl_jobs[name] / n_units, "count")
    ce = agg["plans.construct"]["incl_s"] + agg["plans.execute"]["incl_s"]
    out["plans.construct_share"] = (agg["plans.construct"]["incl_s"] / ce if ce else 0.0, "ratio")
    req_s = sum(o.latency for o in window.ops)
    out["tables.load_tables.latency_share"] = (
        agg["tables.load_tables"]["incl_s"] / req_s if req_s and unit == "request" else 0.0, "ratio")
    out["pinning.fifo_evictions"] = (tracer.counts.get("pinning.fifo_evictions", 0) / n_units, "count")
    out["pinning.cached_bytes_peak"] = (tracer.counts.get("pinning.cached_bytes_peak", 0), "bytes")
    written = tracer.counts.get("io.bytes_written", 0)
    out["io.bytes_written"] = (written / n_units, "bytes")
    inp = tracer.counts.get("io.input_bytes", 0)
    out["io.write_amplification"] = (written / inp if inp else 0.0, "ratio")
    changed = tracer.counts.get("scd2.changed_rows", 0)
    out["scd2.rows_written_per_changed_row"] = (
        tracer.counts.get("scd2.rows_written", 0) / changed if changed else 0.0, "ratio")
    conf = counts.get("confirmed_pairs", 0)
    out["dedup.lsh_candidates_per_confirmed_pair"] = (
        counts.get("lsh_candidates", 0) / conf if conf else 0.0, "ratio")

    # tracing cost inside the traced window: span bookkeeping (measured
    # per span after the window) plus every counting call (wrapper hooks,
    # Spark storage sampling, output-size walks), as a share of the traced
    # wall time. The event log's cost runs in the JVM and is not in it.
    cost = len(spans) * counts.get("span_cost_s", 0.0) + tracer.hook_s
    traced_wall = window.end - window.start
    overhead = 100.0 * cost / traced_wall if traced_wall else 0.0
    out["trace.overhead_pct"] = (overhead, "%")
    out["trace.spans"] = (len(spans) / n_units, "count")

    table = [f"# per-layer, per {unit} (n={n_units}): span | calls | self_s | incl_s | "
             "jobs | tasks | executor_s | task_wait_s | shuffle_bytes"]
    for name in sorted(agg, key=lambda n: -agg[n]["self_s"]):
        a_ = agg[name]
        if not a_["calls"]:
            continue
        table.append(
            f"#   {name:44s} {a_['calls'] / n_units:8.2f} {a_['self_s'] / n_units:8.3f} "
            f"{a_['incl_s'] / n_units:8.3f} {a_['jobs'] / n_units:7.1f} {a_['tasks'] / n_units:8.1f} "
            f"{a_['executor_run_s'] / n_units:8.3f} {a_['task_wait_s'] / n_units:8.3f} "
            f"{(a_['shuffle_write_bytes'] + a_['shuffle_read_bytes']) / n_units:12.0f}")
    table.append(f"# trace overhead {overhead:.3f}% of the traced window ({len(spans)} spans at "
                 f"{counts.get('span_cost_s', 0.0) * 1e3:.3f} ms, hooks {tracer.hook_s:.3f} s)")
    return out, table
