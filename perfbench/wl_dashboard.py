"""``dashboard``: analysts reading Gold marts.

Closed loop, 2 client threads sharing one SparkSession. Each client
takes the next request of one seeded, Zipf-weighted sequence, builds
the plan and collects the result; the next request goes out only when
the previous one is back; the window ends on a deck boundary, so every
pass is one whole deck. The deck is the app.py-style corpus marts plus
seeded ``compile_metrics`` / ``compile_event_metrics`` requests; the
tables have sf0.1 shape (``gen.DASH_ROWS``).

``operators.pinning`` keeps one registry per process, so a
``release_pinned`` from one client would drop the correctness pins of
the other client's running request. Pins are therefore released only
when both clients are idle (every ``RELEASE_EVERY`` completions).
"""

from __future__ import annotations

import os
import threading
import time

import check as chk
import gen
import layers
from harness import Op, Window
from spans import Tracer

CLIENTS = 2
RELEASE_EVERY = 8
MARTS = [
    "funnel", "filter_status_revenue", "late_shipments", "monthly_revenue_by_status",
    "top_customer_by_revenue", "revenue_by_region", "q3_shipping_priority",
    "segment_event_revenue", "daily_conversion_rates", "funnel_by_segment",
]
# Popularity rank of the deck (fixed; the seed draws the sequence). The
# repository holds no request log, so the order is an assumption: the
# marts in the order listed above, then the two metric-layer requests.
RANK = MARTS + ["metric", "event_metric"]
# Zipf(1) deck: the kind at rank r appears round(4 / r) times (at least
# once); 16 requests. Every cycle of the sequence is a seeded shuffle of
# the deck, so each run sees the same mix.
DECK = [k for r, k in enumerate(RANK, 1) for _ in range(max(1, round(4 / r)))]

# DuckDB twins of the metric-layer registry (metrics.ORDERS_* / EVENTS_*)
O_DIMS = {
    "month": "strftime(o_orderdate, '%Y-%m')",
    "quarter": "concat(year(o_orderdate), '-Q', quarter(o_orderdate))",
    "priority": "o_orderpriority", "status": "o_orderstatus",
    "segment": "c_mktsegment", "nation": "n_name", "region": "r_name",
}
O_PATH = {"segment": 1, "nation": 2, "region": 3}
O_JOINS = ["JOIN customer ON o_custkey = c_custkey", "JOIN nation ON c_nationkey = n_nationkey",
           "JOIN region ON n_regionkey = r_regionkey"]
O_MEASURES = {
    "revenue": "ROUND(SUM(o_totalprice), 2)",
    "order_cnt": "COUNT(*)",
    "customer_cnt": "COUNT(DISTINCT o_custkey)",
    "max_order_value": "ROUND(MAX(o_totalprice), 2)",
    "avg_order_value": "ROUND(ROUND(SUM(o_totalprice), 2) / CAST(COUNT(*) AS DOUBLE), 4)",
    "orders_per_customer": "ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT o_custkey), 4)",
}
O_ROUNDED = {"revenue": 2, "max_order_value": 2, "avg_order_value": 4, "orders_per_customer": 4}
E_DIMS = {"day": "strftime(ts, '%Y-%m-%d')", "event_type": "event_type", "segment": "c_mktsegment"}
E_MEASURES = {
    "event_cnt": "COUNT(*)",
    "active_users": "COUNT(DISTINCT user_id)",
    "purchase_revenue": "ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)",
    "events_per_user": "ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id), 4)",
}
E_ROUNDED = {"purchase_revenue": 2, "events_per_user": 4}


def _metric_requests(seed: int) -> dict[str, dict]:
    """Seeded grains, measures and filters; each slot keeps its join
    depth so the request cost is comparable across seeds."""
    r = gen.rng(seed, "metric-requests")

    def pick(xs, k):
        return [xs[i] for i in sorted(r.choice(len(xs), k, replace=False).tolist())]

    base = ["revenue", "order_cnt", "customer_cnt", "max_order_value"]
    ratio = ["avg_order_value", "orders_per_customer"]
    return {
        "metric": dict(star="orders", dims=["segment"] + pick(["month", "priority", "status"], 1),
                       measures=pick(base, 2) + pick(ratio, 1),
                       where=f"o_totalprice > {int(r.integers(1_000, 400_000))}.5"),
        "event_metric": dict(star="events", dims=pick(["day", "event_type", "segment"], 1),
                             measures=pick(list(E_MEASURES), 3),
                             where=f"ts >= TIMESTAMP '2024-01-{int(r.integers(2, 29)):02d}'"),
    }


def _metric_sql(req: dict) -> str:
    if req["star"] == "orders":
        dims, meas, table = O_DIMS, O_MEASURES, "orders"
        depth = max((O_PATH.get(d, 0) for d in req["dims"]), default=0)
        joins = " ".join(O_JOINS[:depth])
    else:
        dims, meas, table = E_DIMS, E_MEASURES, "events"
        joins = "JOIN customer ON user_id = c_custkey" if "segment" in req["dims"] else ""
    sel = [f"{dims[d]} AS {d}" for d in req["dims"]] + [f"{meas[m]} AS {m}" for m in req["measures"]]
    where = f"WHERE {req['where']}" if req["where"] else ""
    group = ", ".join(str(i + 1) for i in range(len(req["dims"])))
    return f"SELECT {', '.join(sel)} FROM {table} {joins} {where} GROUP BY {group}"


def prepare(seed: int, work: str) -> dict:
    data = os.path.join(work, "data")
    manifest = gen.gen_dashboard(seed, data)
    from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus

    metric_reqs = _metric_requests(seed)
    oracle_sql = {m: corpus.ORACLES[m] for m in MARTS}
    oracle_sql.update({k: _metric_sql(v) for k, v in metric_reqs.items()})
    rounded = {m: chk.ORACLE_ROUNDED[m] for m in MARTS}
    rounded.update({k: {m: d for m, d in {**O_ROUNDED, **E_ROUNDED}.items() if m in v["measures"]}
                    for k, v in metric_reqs.items()})
    con = chk.connect(data)
    oracles = {k: chk.run_sql(con, sql) for k, sql in oracle_sql.items()}
    con.close()
    r = gen.rng(seed, "deck")
    sequence = [DECK[i] for _ in range(200) for i in r.permutation(len(DECK)).tolist()]
    return {"data": data, "manifest": manifest, "metric_reqs": metric_reqs,
            "oracles": oracles, "rounded": rounded, "sequence": sequence}


def _build(spark, state: dict, kind: str):
    from event_driven_data_pipeline_for_e_commerce_spark import metrics
    from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus

    if kind in state["metric_reqs"]:
        req = state["metric_reqs"][kind]
        fn = metrics.compile_metrics if req["star"] == "orders" else metrics.compile_event_metrics
        return fn(spark, state["data"], req["measures"], req["dims"], req["where"])
    return corpus.QUERIES[kind](spark, state["data"])


def _request(spark, state: dict, kind: str, tracer, rid) -> tuple[float, float, list, list]:
    with tracer.span("request", rid):
        t0 = time.perf_counter()
        with tracer.span("plans.construct"):
            df = _build(spark, state, kind)
        with tracer.span("plans.execute"):
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        t1 = time.perf_counter()
    return t0, t1, cols, rows


def warmup(spark, state: dict) -> None:
    """Every request kind once, spread over the two clients."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning

    todo, lock, tracer = list(RANK), threading.Lock(), Tracer()
    state["warmup_results"] = {}

    def client():
        while True:
            with lock:
                if not todo:
                    return
                kind = todo.pop(0)
            _, _, cols, rows = _request(spark, state, kind, tracer, None)
            state["warmup_results"][kind] = (cols, rows)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    pinning.release_pinned()


def measure(spark, state: dict, seconds: float, tracer) -> Window:
    from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning

    win = Window(unit="request", start=time.perf_counter())
    tracer.enabled = tracer.installed
    cond = threading.Condition()
    shared = {"next": 0, "inflight": 0, "done": 0, "releasing": False, "release_due": False}
    decks: dict[int, list[float]] = {}
    results = state.setdefault("results", [])

    def client():
        while True:
            with cond:
                while shared["releasing"]:
                    cond.wait()
                # the window ends on a deck boundary: every pass is one whole deck
                if shared["next"] % len(DECK) == 0 and time.perf_counter() >= win.start + seconds:
                    return
                i = shared["next"]
                shared["next"] += 1
                shared["inflight"] += 1
            kind = state["sequence"][i % len(state["sequence"])]
            try:
                t0, t1, cols, rows = _request(spark, state, kind, tracer, i)
                op = Op(kind, t0, t1)
                layers.sample_storage(tracer, spark)
            except Exception as exc:  # a failed request counts, it does not stop the loop
                t1 = time.perf_counter()
                op, cols, rows = Op(kind, t1, t1, ok=False, why=repr(exc)[:300]), None, None
            with cond:
                win.ops.append(op)
                results.append((op, cols, rows))
                d = decks.setdefault(i // len(DECK), [op.start, op.end])
                d[0], d[1] = min(d[0], op.start), max(d[1], op.end)
                shared["inflight"] -= 1
                shared["done"] += 1
                if shared["done"] % RELEASE_EVERY == 0:
                    shared["release_due"] = True
                if shared["release_due"]:
                    # release only when both clients are idle (see module doc)
                    shared["releasing"] = True
                    while shared["inflight"] > 0:
                        cond.wait()
                    if shared["release_due"]:
                        pinning.release_pinned()
                        shared["release_due"] = False
                    shared["releasing"] = False
                cond.notify_all()

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    pinning.release_pinned()
    win.end = time.perf_counter()
    win.passes = [(s, e) for _, (s, e) in sorted(decks.items())]
    return win


def check(state: dict, win: Window) -> dict:
    failures = {"global": [], "checks": len(state["warmup_results"])}
    for kind, (cols, rows) in state["warmup_results"].items():
        ok, flips, why = chk.compare(cols, rows, *state["oracles"][kind], state["rounded"][kind])
        win.flips += flips
        if not ok:
            failures["global"].append(f"warm-up {kind}: {why}")
    for op, cols, rows in state.get("results", []):
        if not op.ok:
            continue
        ok, flips, why = chk.compare(cols, rows, *state["oracles"][op.kind], state["rounded"][op.kind])
        win.flips += flips
        if not ok:
            op.ok, op.why = False, why
    return failures
