"""Output checks, run outside every timed region.

``compare`` applies the rule of ``tests/oracle_utils.py`` (columns
sorted by name, rows order-insensitive, floats rounded to 6 places and
compared with rel/abs tolerance 1e-9) with one addition: in a column the
oracle SQL ROUNDs (the decimals are passed in), a cell one unit off in
the last decimal is a *rounding flip*. Flips come from double sums taken
in a different order landing on the two sides of a ``ROUND`` boundary;
they are counted and reported, and more than ``MAX_FLIPS`` in one run
fail it.

``etl_expected_fact`` / ``etl_engine_fact`` / ``scd2_expected`` recompute
the ETL outputs from the generated raw files with DuckDB and plain
Python, joined on natural keys (surrogate-key values depend on
partitioning; ``load_timestamp`` is wall-clock).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import defaultdict
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
OPEN_END = dt.datetime(9999, 12, 31, 23, 59, 59)


def connect(data_dir: str | None = None):
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    if data_dir:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_sql(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


# columns each corpus oracle ROUNDs, with their decimals
ORACLE_ROUNDED = {
    "funnel": {"conversion_pct": 4},
    "filter_status_revenue": {"revenue": 2},
    "late_shipments": {},
    "monthly_revenue_by_status": {"revenue": 2},
    "top_customer_by_revenue": {"total": 2},
    "revenue_by_region": {"revenue": 2},
    "q3_shipping_priority": {"revenue": 2},
    "segment_event_revenue": {"revenue": 2},
    "daily_conversion_rates": {"click_rate_pct": 4, "purchase_rate_pct": 4},
    "funnel_by_segment": {"conversion_pct": 4},
    "doc_minhash_near_dup": {"jaccard": 4},
    "doc_dedup_survivors": {},
    "emb_cosine_topk": {"cos_sim": 6},
    "emb_ivf_topk": {"cos_sim": 6},
    "emb_lsh_topk": {"cos_sim": 6},
}

# A run fails once its outputs hold more rounding flips than this. The
# generators keep ties out of every ROUNDed sum, so a correct engine
# shows none; one is tolerated for a boundary the generators missed.
MAX_FLIPS = 1


def compare(s_cols, s_rows, o_cols, o_rows, rounded: dict[str, int]) -> tuple[bool, int, str]:
    """(match, rounding_flips, reason). ``rounded`` maps each column the
    oracle SQL ROUNDs to its decimals; only there may a cell be one unit
    of the last decimal off (a flip). Every other float column must
    match within rel/abs 1e-9."""
    if sorted(s_cols) != sorted(o_cols):
        return False, 0, f"columns {sorted(s_cols)} != {sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, 0, f"row count {len(s_rows)} != {len(o_rows)}"
    cols = sorted(o_cols)
    si = [list(s_cols).index(c) for c in cols]
    oi = [list(o_cols).index(c) for c in cols]
    s = [tuple(_norm(r[i]) for i in si) for r in s_rows]
    o = [tuple(_norm(r[i]) for i in oi) for r in o_rows]
    is_float = [any(isinstance(r[j], float) for r in s + o) for j in range(len(cols))]
    unit = [10.0 ** -rounded[c] if c in rounded else 0.0 for c in cols]

    def key(r):
        return tuple(str(x) for j, x in enumerate(r) if not is_float[j])

    def fkey(r):
        return tuple(x if isinstance(x, float) else -math.inf for j, x in enumerate(r) if is_float[j])

    groups = defaultdict(lambda: ([], []))
    for r in s:
        groups[key(r)][0].append(r)
    for r in o:
        groups[key(r)][1].append(r)
    flips = 0
    for k, (a_rows, b_rows) in groups.items():
        if len(a_rows) != len(b_rows):
            return False, flips, f"group {k}: {len(a_rows)} engine rows vs {len(b_rows)} oracle rows"
        for a, b in zip(sorted(a_rows, key=fkey), sorted(b_rows, key=fkey)):
            for j, (x, y) in enumerate(zip(a, b)):
                if not is_float[j] or x == y:
                    continue
                if isinstance(x, float) and isinstance(y, float):
                    if math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                        continue
                    if unit[j] and abs(x - y) <= unit[j] * (1 + 1e-6):
                        flips += 1
                        continue
                return False, flips, f"{cols[j]}: engine {a} vs oracle {b}"
    return True, flips, ""


# --------------------------------------------------------------------------
# ETL half of batch: Gold fact and SCD2 dim_order
# --------------------------------------------------------------------------

FACT_COLS = ["order_id", "customer_id", "product_id", "seller_id", "purchase_date_sk",
             "delivery_date_sk", "quantity", "review_score", "price", "freight_value",
             "total_revenue", "profit_estimate", "discount_pct"]


def _csv(raw_dir: str, name: str) -> str:
    return f"read_csv('{os.path.join(raw_dir, name + '.csv')}', header=true, all_varchar=true)"


def etl_expected_fact(con, raw_dir: str) -> tuple[list[str], list[tuple], dict]:
    """Gold fact rows by natural key, plus {order_id: min installments}."""
    sql = f"""
    WITH o AS (
        SELECT DISTINCT order_id, customer_id,
               try_strptime(order_purchase_timestamp, '%d-%m-%Y %H:%M') AS p,
               try_strptime(order_delivered_customer_date, '%d-%m-%Y %H:%M') AS d
        FROM {_csv(raw_dir, 'raw_orders')}
    ),
    pay AS (
        SELECT order_id, MIN(CAST(payment_installments AS INT)) AS mi
        FROM (SELECT DISTINCT * FROM {_csv(raw_dir, 'raw_payments')}) GROUP BY order_id
    ),
    items AS (SELECT DISTINCT * FROM {_csv(raw_dir, 'raw_order_items')}),
    cu AS (SELECT DISTINCT customer_id FROM {_csv(raw_dir, 'raw_customers')}),
    pr AS (SELECT DISTINCT product_id FROM {_csv(raw_dir, 'raw_products')}),
    se AS (SELECT DISTINCT seller_id FROM {_csv(raw_dir, 'raw_sellers')})
    SELECT i.order_id, o.customer_id, i.product_id, i.seller_id,
           CAST(strftime(o.p, '%Y%m%d') AS BIGINT) AS purchase_date_sk,
           CAST(strftime(o.d, '%Y%m%d') AS BIGINT) AS delivery_date_sk,
           CAST(i.quantity AS BIGINT) AS quantity,
           CAST(i.review_score AS BIGINT) AS review_score,
           CAST(i.price AS DOUBLE) AS price,
           CAST(i.freight_value AS DOUBLE) AS freight_value,
           CAST(i.price AS DOUBLE) * CAST(i.quantity AS INT) + CAST(i.freight_value AS DOUBLE)
               AS total_revenue,
           CAST(i.price AS DOUBLE) * CAST(i.quantity AS INT) * CAST(0.3 AS DOUBLE) AS profit_estimate,
           CAST(0.0 AS DOUBLE) AS discount_pct,
           pay.mi
    FROM items i
    JOIN o ON o.order_id = i.order_id AND o.p IS NOT NULL AND o.d IS NOT NULL
    JOIN cu ON cu.customer_id = o.customer_id
    JOIN pay ON pay.order_id = i.order_id
    JOIN pr ON pr.product_id = i.product_id
    JOIN se ON se.seller_id = i.seller_id
    """
    cols, rows = run_sql(con, sql)
    min_inst = {r[0]: r[-1] for r in rows}
    return cols[:-1], [r[:-1] for r in rows], min_inst


def etl_engine_fact(con, silver_dir: str, fact_dir: str) -> tuple[list[str], list[tuple], list[tuple]]:
    """The engine's fact mapped back to natural keys through its own
    Silver surrogate keys; also (order_id, pay_order_id, installments,
    fact payment_value, silver payment_value, order_item_sk) per row."""

    def t(name):
        return f"read_parquet('{os.path.join(silver_dir, name)}/*.parquet')"

    sql = f"""
    SELECT so.order_id, sc.customer_id, sp.product_id, ss.seller_id,
           f.purchase_date_sk, f.delivery_date_sk, f.quantity, f.review_score, f.price,
           f.freight_value, f.total_revenue, f.profit_estimate, f.discount_pct,
           py.order_id, CAST(py.payment_installments AS INT), f.payment_value,
           CAST(py.payment_value AS DOUBLE), f.order_item_sk
    FROM read_parquet('{fact_dir}/*.parquet') f
    LEFT JOIN {t('raw_orders')} so ON so.order_sk = f.order_sk
    LEFT JOIN {t('raw_customers')} sc ON sc.customer_sk = f.customer_sk
    LEFT JOIN {t('raw_products')} sp ON sp.product_sk = f.product_sk
    LEFT JOIN {t('raw_sellers')} ss ON ss.seller_sk = f.seller_sk
    LEFT JOIN {t('raw_payments')} py ON py.payment_sk = f.payment_sk
    """
    _, rows = run_sql(con, sql)
    return FACT_COLS, [r[:13] for r in rows], [(r[0],) + r[13:] for r in rows]


def check_etl_fact(con, silver_dir: str, fact_dir: str, expected) -> tuple[bool, str]:
    """The fact has no ROUNDed column, so every float must match within
    1e-9 (no rounding flips)."""
    e_cols, e_rows, min_inst = expected
    s_cols, s_rows, pay = etl_engine_fact(con, silver_dir, fact_dir)
    ok, _, why = compare(s_cols, s_rows, e_cols, e_rows, rounded={})
    if not ok:
        return False, "fact: " + why
    sks = sorted(p[-1] for p in pay)
    if sks != list(range(1, len(sks) + 1)):
        return False, "fact: order_item_sk is not dense 1..n"
    for order_id, pay_order, inst, fact_val, pay_val, _ in pay:
        if pay_order != order_id or inst != min_inst.get(order_id) or fact_val != pay_val:
            return False, f"fact: payment for {order_id} is not a min-installment row"
    return True, ""


def read_cdc(cdc_files: list[str]) -> list[list[tuple]]:
    return [list(zip(*[pq.read_table(f).column(c).to_pylist() for c in
                       ("order_id", "order_status", "customer_id", "order_estimated_delivery_date", "ts")]))
            for f in cdc_files]


def scd2_expected(batches: list[list[tuple]]) -> list[tuple]:
    """SCD2 versions after feeding ``batches`` through HWM ingest ->
    latest-per-key collapse -> merge (Scd_Type2.sql semantics)."""
    hwm = None
    versions: list[list] = []  # [key, s, c, e, valid_from, valid_to, is_current]
    current: dict[str, list] = {}
    for rows in batches:
        fresh = [r for r in rows if hwm is None or r[4] > hwm]
        if not fresh:
            continue
        hwm = max(r[4] for r in fresh) if hwm is None else max(hwm, max(r[4] for r in fresh))
        latest: dict[str, tuple] = {}
        for r in fresh:
            if r[0] not in latest or r[4] > latest[r[0]][4]:
                latest[r[0]] = r
        load_ts = max(r[4] for r in latest.values())
        for k, r in latest.items():
            cur = current.get(k)
            if cur is not None and tuple(cur[1:4]) == tuple(r[1:4]):
                continue
            if cur is not None:
                cur[5], cur[6] = load_ts, False
            v = [k, r[1], r[2], r[3], load_ts, OPEN_END, True]
            versions.append(v)
            current[k] = v
    return [tuple(v) for v in versions]


def check_scd2(con, dim_dir: str, expected: list[tuple]) -> tuple[bool, str]:
    _, rows = run_sql(con, f"""
        SELECT order_id, order_status, customer_id, order_estimated_delivery_date,
               valid_from, valid_to, is_current, order_sk
        FROM read_parquet('{dim_dir}/*.parquet')""")
    sks = [r[-1] for r in rows]
    if len(set(sks)) != len(sks):
        return False, "scd2: duplicate order_sk across versions"
    got = sorted((tuple(r[:-1]) for r in rows), key=str)
    want = sorted(expected, key=str)
    if got != want:
        extra = [r for r in got if r not in set(want)][:2]
        missing = [r for r in want if r not in set(got)][:2]
        return False, f"scd2: {len(got)} versions vs {len(want)}; extra {extra} missing {missing}"
    return True, ""
