"""Curation half of the ``batch`` workload: LLM-data curation.

Runs the five curation queries of the corpus (near-duplicate pairs,
dedup survivors, exact / IVF / LSH cosine top-k) over seeded documents
with near-duplicate classes and clustered embeddings; pins are released
after every query. The queries are timed as part of the pass only: the
operations of ``batch`` are its CDC micro-batches.
"""

from __future__ import annotations

import os
import time

import check as chk
import gen
import layers
from harness import Window

QUERIES = ["doc_minhash_near_dup", "doc_dedup_survivors", "emb_cosine_topk",
           "emb_ivf_topk", "emb_lsh_topk"]


def prepare(seed: int, work: str) -> dict:
    data = os.path.join(work, "data")
    manifest = gen.gen_curation(seed, data)
    from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus

    con = chk.connect(data)
    # MATERIALIZED keeps DuckDB from re-running the MinHash CTE chain in
    # every step of the survivors' recursive CTE; results are unchanged
    sql = {q: corpus.ORACLES[q] for q in QUERIES}
    sql["doc_dedup_survivors"] = sql["doc_dedup_survivors"].replace(
        "pairs AS (", "pairs AS MATERIALIZED (", 1).replace("edges AS (", "edges AS MATERIALIZED (", 1)
    oracles = {q: chk.run_sql(con, s) for q, s in sql.items()}
    con.close()
    return {"data": data, "manifest": manifest, "oracles": oracles, "results": []}


def run_pass(spark, state: dict, tracer) -> tuple[float, float]:
    from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning
    from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus

    t_pass = time.perf_counter()
    with tracer.span("curation"):
        for q in QUERIES:
            try:
                with tracer.span("plans.construct"):
                    df = corpus.QUERIES[q](spark, state["data"])
                with tracer.span("plans.execute"):
                    result = df.columns, [tuple(r) for r in df.collect()]
            except Exception as exc:
                result = repr(exc)[:300]
            layers.sample_storage(tracer, spark)
            pinning.release_pinned()
            state["results"].append((q, result))
    return t_pass, time.perf_counter()


def check(state: dict, win: Window) -> dict:
    failures = {"global": [], "checks": len(state["results"])}
    for q, result in state["results"]:
        if isinstance(result, str):
            failures["global"].append(f"{q}: {result}")
            continue
        ok, flips, why = chk.compare(*result, *state["oracles"][q], chk.ORACLE_ROUNDED[q])
        win.flips += flips
        if not ok:
            failures["global"].append(f"{q}: {why}")
    return failures
