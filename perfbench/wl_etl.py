"""ETL half of the ``batch`` workload: the medallion build and CDC upkeep.

Takes the seeded Olist-shaped raw CSVs through ``bronze_ingest``,
``silver_build`` and ``fact_order_items``, writes the fact to Parquet,
then feeds the seeded change batches (initial snapshot + ``CDC_BATCHES``
changes) through ``streams.cdc_dimension_foreach_batch`` into an SCD2
``dim_order``. Its operations are the CDC micro-batches, timed from the
handler call until the dimension snapshot is swapped; their median is
``cdc_batch_p50_s``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import check as chk
import gen
import layers
from harness import Op, Window
from layers import dir_bytes, parquet_rows

def _policies():
    """Silver cleanse policies: dd-MM-yyyy order dates parsed, rows with
    unparseable purchase or delivery dates dropped."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.cleansing import (
        CleansePolicy,
        DateDurationConfig,
    )

    return {
        "default": CleansePolicy(),
        "raw_orders": CleansePolicy(dates=DateDurationConfig(
            date_cols=("order_purchase_timestamp", "order_delivered_customer_date"),
            start_col="order_purchase_timestamp", end_col="order_delivered_customer_date")),
    }


def prepare(seed: int, work: str) -> dict:
    inputs = os.path.join(work, "inputs")
    manifest = gen.gen_etl(seed, inputs)
    cdc_files = sorted(glob.glob(os.path.join(inputs, "cdc", "*.parquet")))
    batches = chk.read_cdc(cdc_files)
    changed = [len(chk.scd2_expected(batches[: b + 1])) - len(chk.scd2_expected(batches[:b]))
               for b in range(len(batches))]
    return {"raw": os.path.join(inputs, "raw"), "cdc_files": cdc_files, "batches": batches,
            "changed": changed, "manifest": manifest, "out": os.path.join(work, "out"),
            "pass_no": 0, "passes": []}


def run_pass(spark, state: dict, tracer, win: Window) -> tuple[float, float]:
    from event_driven_data_pipeline_for_e_commerce_spark.pipelines import medallion
    from event_driven_data_pipeline_for_e_commerce_spark.sources import io
    from event_driven_data_pipeline_for_e_commerce_spark.streaming import streams

    k = state["pass_no"]
    state["pass_no"] += 1
    out = os.path.join(state["out"], f"pass_{k:03d}")
    paths = {n: os.path.join(out, n) for n in ("bronze", "silver", "fact", "staging", "dim_order")}
    t_pass = time.perf_counter()
    with tracer.span("etl"):
        bronze = medallion.bronze_ingest(spark, state["raw"], paths["bronze"])
        silver = medallion.silver_build(spark, bronze, paths["silver"], _policies())
        fact = medallion.fact_order_items(
            silver["raw_order_items"], dim_order=silver["raw_orders"],
            dim_customer=silver["raw_customers"], dim_payments=silver["raw_payments"],
            dim_products=silver["raw_products"], dim_sellers=silver["raw_sellers"])
        with tracer.span("medallion.fact_write"):
            io.write_table(fact, paths["fact"])
        handler = streams.cdc_dimension_foreach_batch(
            paths["staging"], paths["dim_order"], key="order_id",
            tracked_cols=gen.CDC_TRACKED, ts_col="ts", sk_col="order_sk")
        for b, f in enumerate(state["cdc_files"]):
            batch = spark.read.parquet(f)
            if tracer.enabled:
                with tracer.hook():
                    staged = dir_bytes(paths["staging"])
            t0 = time.perf_counter()
            try:
                with tracer.span("streams.cdc_batch"):
                    handler(batch, b)
                op = Op(f"cdc_batch_{b}", t0, time.perf_counter())
            except Exception as exc:
                op = Op(f"cdc_batch_{b}", t0, time.perf_counter(), ok=False, why=repr(exc)[:300])
            if tracer.enabled:
                with tracer.hook():
                    tracer.count("io.bytes_written", dir_bytes(paths["staging"]) - staged)
                    if b:  # merge batches only: the snapshot batch writes every row once
                        tracer.count("scd2.changed_rows", state["changed"][b])
                        tracer.count("scd2.rows_written", parquet_rows(paths["dim_order"]))
            win.ops.append(op)
            layers.sample_storage(tracer, spark)
    t_end = time.perf_counter()
    tracer.count("io.input_bytes", state["manifest"]["raw_bytes"] + state["manifest"]["cdc_bytes"])
    state["passes"].append({"dir": out, "paths": paths, "ops": win.ops[-len(state["cdc_files"]):]})
    return t_pass, t_end


def check(state: dict, win: Window) -> dict:
    failures = {"global": [], "checks": 0}
    con = chk.connect()
    expected_fact = chk.etl_expected_fact(con, state["raw"])
    expected_dim = chk.scd2_expected(state["batches"])
    for i, p in enumerate(state["passes"]):
        ok, why = chk.check_etl_fact(con, p["paths"]["silver"], p["paths"]["fact"], expected_fact)
        failures["checks"] += 1
        if not ok:
            failures["global"].append(f"pass {i} {why}")
        ok, why = chk.check_scd2(con, p["paths"]["dim_order"], expected_dim)
        if not ok:
            for op in p["ops"]:
                op.ok, op.why = False, why
        shutil.rmtree(p["dir"], ignore_errors=True)
    con.close()
    return failures
