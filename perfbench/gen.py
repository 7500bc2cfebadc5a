"""Seeded input generators for the three benchmark workloads.

Every generator takes ``(seed, out_dir)``, writes its files under
``out_dir`` and returns a small manifest (row counts and bytes per
file). The same seed gives byte-identical files; a different seed gives
different files (``perfbench/test_gen.py``).

Values are built so that the checked outputs are well defined on every
seed: money is whole cents, every ranking / top-k / argmax the checks
order by has a margin between the last kept and the first dropped
candidate, and no value sits on a rounding or hyperplane boundary. A
seed whose draw violates one of these rules is redrawn with the next
attempt number, so the result is still a pure function of the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------


def rng(seed: int, stream: str, attempt: int = 0) -> np.random.Generator:
    """Independent generator per (seed, stream, attempt)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode()), attempt])


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer settings: no created_by drift, one row group
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _manifest(out_dir: str) -> dict:
    files = {}
    for root, _, names in os.walk(out_dir):
        for n in sorted(names):
            p = os.path.join(root, n)
            files[os.path.relpath(p, out_dir)] = os.path.getsize(p)
    return {"files": files, "bytes": sum(files.values())}


def _hex_ids(r: np.random.Generator, n: int) -> list[str]:
    """Unique 32-hex-char ids (Olist style)."""
    while True:
        hi = r.integers(0, 2**63, n, dtype=np.int64)
        lo = r.integers(0, 2**63, n, dtype=np.int64)
        ids = [f"{a:016x}{b:016x}" for a, b in zip(hi.tolist(), lo.tolist())]
        if len(set(ids)) == n:
            return ids


def _words(r: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(r.choice(letters, int(r.integers(lo, hi + 1))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _near_half(x: np.ndarray, decimals: int) -> np.ndarray:
    """True where ``x`` is within 1e-6 units of a ROUND(x, decimals) tie."""
    s = np.abs(x) * 10.0**decimals
    return np.abs(s - np.floor(s) - 0.5) < 1e-6


# --------------------------------------------------------------------------
# dashboard: TPC-H-ish star at sf0.1 shape + events stream
# --------------------------------------------------------------------------

DASH_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
EVENT_USERS = 1_500
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
Q3_CUTOFF = np.datetime64("1998-01-01", "D")


def _dash_orders(seed: int, attempt: int) -> dict:
    r = rng(seed, "orders", attempt)
    n, nc = DASH_ROWS["orders"], DASH_ROWS["customer"]
    cents = r.integers(100_191, 49_999_319, n)
    cust = r.integers(0, nc, n)
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": cust.astype(np.int64),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
        "cents": cents,
        "o_orderdate": ORDER_EPOCH + r.integers(0, ORDER_DAYS, n).astype("timedelta64[D]"),
        "o_orderpriority": r.choice(np.array(PRIORITIES), n),
    }


def _dash_lineitem(seed: int, attempt: int, orders: dict) -> dict:
    r = rng(seed, "lineitem", attempt)
    n_orders = DASH_ROWS["orders"]
    per = np.full(n_orders, 4)
    # 1..7 lines per order, total exactly 600k: shift pairs of orders
    delta = r.integers(-3, 4, n_orders // 2)
    per[0::2] += delta
    per[1::2] -= delta
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    n = okey.size
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    odate = orders["o_orderdate"][okey]
    return {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, DASH_ROWS["part"], n).astype(np.int64),
        "l_suppkey": r.integers(0, DASH_ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": r.integers(90_068, 10_499_992, n) / 100.0,
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": r.choice(np.array(["F", "O"]), n),
        "l_shipdate": odate + r.integers(1, 122, n).astype("timedelta64[D]"),
    }


def _q3_ok(cust_seg: np.ndarray, orders: dict, li: dict) -> bool:
    """Top-11 of TPC-H Q3 revenue: no ROUND(.., 2) tie, so the top-10
    membership and the printed values are unambiguous."""
    building = cust_seg == SEGMENTS.index("BUILDING")
    o_ok = building[orders["o_custkey"]] & (orders["o_orderdate"] < Q3_CUTOFF)
    l_ok = o_ok[li["l_orderkey"]] & (li["l_shipdate"] > Q3_CUTOFF)
    keys = li["l_orderkey"][l_ok]
    rev = li["l_extendedprice"][l_ok] * (1 - li["l_discount"][l_ok])
    tot = np.bincount(keys, weights=rev, minlength=DASH_ROWS["orders"])
    hit = np.bincount(keys, minlength=DASH_ROWS["orders"]) > 0
    vals = np.sort(tot[hit])[::-1][:12]
    return not _near_half(vals, 2).any()


def _top_customer_ok(orders: dict) -> bool:
    tot = np.bincount(orders["o_custkey"], weights=orders["cents"], minlength=DASH_ROWS["customer"])
    top2 = np.sort(tot)[-2:]
    return top2[1] - top2[0] >= 1  # whole cents apart


def gen_dashboard(seed: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "dims")
    nc = DASH_ROWS["customer"]
    cust_seg = r.integers(0, len(SEGMENTS), nc)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(r.integers(-99_999, 999_999, nc) / 100.0),
        "c_mktsegment": np.array(SEGMENTS)[cust_seg],
    })
    ns = DASH_ROWS["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(r.integers(-99_999, 999_999, ns) / 100.0),
    })
    npart = DASH_ROWS["part"]
    vocab = np.array(_words(r, 60))
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [" ".join(x) for x in r.choice(vocab, (npart, 3)).tolist()],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart).tolist()],
        "p_type": r.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), npart),
        "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(r.integers(90_000, 209_999, npart) / 100.0),
    })

    for attempt in range(100):
        orders = _dash_orders(seed, attempt)
        if _top_customer_ok(orders):
            break
    for attempt in range(100):
        li = _dash_lineitem(seed, attempt, orders)
        if _q3_ok(cust_seg, orders, li):
            break
    else:  # pragma: no cover - 100 straight boundary draws
        raise RuntimeError("lineitem draw kept hitting a Q3 rounding tie")
    tables["orders"] = pa.table({
        "o_orderkey": orders["o_orderkey"],
        "o_custkey": orders["o_custkey"],
        "o_orderstatus": orders["o_orderstatus"],
        "o_totalprice": orders["cents"] / 100.0,
        "o_orderdate": pa.array(orders["o_orderdate"].astype("datetime64[ms]")),
        "o_orderpriority": orders["o_orderpriority"],
    })
    li["l_shipdate"] = pa.array(li["l_shipdate"].astype("datetime64[ms]"))
    tables["lineitem"] = pa.table(li)

    re_ = rng(seed, "events")
    ne = DASH_ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts_us = np.sort(start + re_.integers(0, span, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        # TIMESTAMP(NANOS), like the reference event stream
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(re_.integers(0, EVENT_USERS, ne).astype(np.int64)),
        "event_type": re_.choice(np.array(EVENT_TYPES), ne),
        "value": pa.array(re_.integers(0, 56_022, ne) / 100.0),
        "props": [f'{{"k": {k}}}' for k in re_.integers(0, 100, ne).tolist()],
    })
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    m = _manifest(out_dir)
    m["rows"] = {k: v.num_rows for k, v in tables.items()}
    return m


# --------------------------------------------------------------------------
# etl: Olist-shaped raw CSVs + CDC change batches for dim_order
# --------------------------------------------------------------------------

# Olist cardinalities (BASELINE.md; order_items from the public Olist
# release) scaled down uniformly by ETL_SCALE.
OLIST = {
    "orders": 99_441,
    "customers": 99_441,
    "payments": 103_886,
    "products": 32_951,
    "sellers": 3_095,
    "order_items": 112_650,
}
OLIST_PAYMENT_DUP_SHARE = 2_050 / 101_836  # exact duplicate payment rows
ETL_SCALE = 1 / 40
CDC_BATCHES = 4  # change batches after the initial snapshot batch
CDC_TRACKED = ["order_status", "customer_id", "order_estimated_delivery_date"]
STATUSES = ["delivered", "shipped", "canceled", "invoiced", "processing"]
STATES = ["SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "ES"]
PAY_TYPES = ["credit_card", "boleto", "voucher", "debit_card"]
CATEGORIES = ["beleza_saude", "moveis_decoracao", "esporte_lazer", "informatica_acessorios",
              "utilidades_domesticas", "relogios_presentes", "telefonia", "brinquedos"]
CDC_T0 = dt.datetime(2018, 9, 1)


def _fmt_dmy(ts: dt.datetime) -> str:
    return ts.strftime("%d-%m-%Y %H:%M")


def _csv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(",".join(header) + "\n")
        for row in rows:
            fh.write(",".join("" if v is None else str(v) for v in row) + "\n")


def gen_etl(seed: int, out_dir: str) -> dict:
    raw = os.path.join(out_dir, "raw")
    cdc = os.path.join(out_dir, "cdc")
    os.makedirs(raw, exist_ok=True)
    os.makedirs(cdc, exist_ok=True)
    r = rng(seed, "etl")
    n_ord = round(OLIST["orders"] * ETL_SCALE)
    n_prod = round(OLIST["products"] * ETL_SCALE)
    n_sell = round(OLIST["sellers"] * ETL_SCALE)
    n_items = round(OLIST["order_items"] * ETL_SCALE)

    order_ids = _hex_ids(r, n_ord)
    cust_ids = _hex_ids(r, n_ord)  # Olist: one customer_id per order
    unique_pool = _hex_ids(r, int(n_ord * 0.97))  # repeat buyers share a unique id

    # ---- customers (NULL zip, NULL lat/long)
    cust_rows = []
    for cid in cust_ids:
        zip_ = None if r.random() < 0.01 else f"{int(r.integers(1000, 99999)):05d}"
        lat = None if r.random() < 0.006 else round(float(r.uniform(-33, -3)), 6)
        lon = None if lat is None else round(float(r.uniform(-60, -35)), 6)
        cust_rows.append((cid, unique_pool[int(r.integers(0, len(unique_pool)))], zip_,
                          f"city_{int(r.integers(0, 400))}", STATES[int(r.integers(0, len(STATES)))],
                          lat, lon))
    _csv(os.path.join(raw, "raw_customers.csv"),
         ["customer_id", "customer_unique_id", "customer_zip_code_prefix", "customer_city",
          "customer_state", "Latitude", "Longitude"], cust_rows)

    # ---- orders (dd-MM-yyyy timestamps, NULL and junk dates)
    base = dt.datetime(2017, 1, 1)
    order_rows = []
    for oid, cid in zip(order_ids, cust_ids):
        status = STATUSES[0] if r.random() < 0.94 else STATUSES[int(r.integers(1, len(STATUSES)))]
        # whole minutes: the dd-MM-yyyy HH:mm text carries the full instant
        p = base + dt.timedelta(minutes=int(r.integers(0, 600 * 24 * 60)))
        purchase = _fmt_dmy(p)
        u = r.random()
        if u < 0.004:
            purchase = "junk-date"
        elif u < 0.006:
            purchase = None
        approved = None if r.random() < 0.02 else _fmt_dmy(p + dt.timedelta(hours=int(r.integers(1, 48))))
        delivered = None
        if status == "delivered" and r.random() > 0.01:
            delivered = _fmt_dmy(p + dt.timedelta(minutes=int(r.integers(24 * 60, 30 * 24 * 60))))
        estimated = (p + dt.timedelta(days=int(r.integers(7, 40)))).strftime("%d-%m-%Y 00:00")
        order_rows.append((oid, cid, status, purchase, approved, delivered, estimated))
    _csv(os.path.join(raw, "raw_orders.csv"),
         ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
          "order_approved_at", "order_delivered_customer_date", "order_estimated_delivery_date"],
         order_rows)

    # ---- payments (exact duplicate rows, installment ties, orders without payment)
    pay_rows = []
    for oid in order_ids:
        if r.random() < 0.005:
            continue
        k = 1 if r.random() < 0.98 else int(r.integers(2, 4))
        tie = k > 1 and r.random() < 0.5
        for seq in range(1, k + 1):
            inst = 1 if tie else int(r.integers(1, 11))
            pay_rows.append((oid, seq, PAY_TYPES[int(r.integers(0, 4))], inst,
                             f"{int(r.integers(500, 150000)) / 100:.2f}"))
    n_dup = round(len(pay_rows) * OLIST_PAYMENT_DUP_SHARE)
    for i in r.choice(len(pay_rows), n_dup, replace=False).tolist():
        pay_rows.append(pay_rows[i])
    pay_rows = [pay_rows[i] for i in r.permutation(len(pay_rows)).tolist()]
    _csv(os.path.join(raw, "raw_payments.csv"),
         ["order_id", "payment_sequential", "payment_type", "payment_installments", "payment_value"],
         pay_rows)

    # ---- products (NULL category and numerics) and sellers
    prod_ids = _hex_ids(r, n_prod)
    prod_rows = []
    for pid in prod_ids:
        def num(lo, hi, p_null):
            return None if r.random() < p_null else float(int(r.integers(lo, hi)))
        cat = None if r.random() < 0.0185 else CATEGORIES[int(r.integers(0, len(CATEGORIES)))]
        prod_rows.append((pid, cat, num(5, 76, 0.0185), num(4, 3993, 0.0185), num(1, 21, 0.0185),
                          num(50, 40000, 0.001), num(7, 106, 0.001), num(2, 106, 0.001),
                          num(6, 118, 0.001)))
    _csv(os.path.join(raw, "raw_products.csv"),
         ["product_id", "product_category_name", "product_name_lenght", "product_description_lenght",
          "product_photos_qty", "product_weight_g", "product_length_cm", "product_height_cm",
          "product_width_cm"], prod_rows)
    sell_ids = _hex_ids(r, n_sell)
    _csv(os.path.join(raw, "raw_sellers.csv"),
         ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
         [(s, f"{int(r.integers(1000, 99999)):05d}", f"city_{int(r.integers(0, 400))}",
           STATES[int(r.integers(0, len(STATES)))]) for s in sell_ids])

    # ---- order items (item grain of the Gold fact)
    item_rows = []
    item_orders = r.integers(0, n_ord, n_items)
    counters: dict[int, int] = {}
    for oi in item_orders.tolist():
        counters[oi] = counters.get(oi, 0) + 1
        item_rows.append((order_ids[oi], counters[oi], prod_ids[int(r.integers(0, n_prod))],
                          sell_ids[int(r.integers(0, n_sell))],
                          f"{int(r.integers(850, 68000)) / 100:.2f}",
                          f"{int(r.integers(0, 40900)) / 100:.2f}",
                          int(r.integers(1, 4)), int(r.integers(1, 6))))
    _csv(os.path.join(raw, "raw_order_items.csv"),
         ["order_id", "order_item_id", "product_id", "seller_id", "price", "freight_value",
          "quantity", "review_score"], item_rows)

    # ---- CDC feed for the SCD2 dim_order: batch 0 = full snapshot,
    # then change batches (status moves, new orders, unchanged
    # re-sends, double updates in one batch, late re-deliveries). No
    # change log ships with the repository, so the shares are assumed:
    # 3% of orders move status (1 in 6 of those twice in one batch), 1%
    # new orders, 0.5% unchanged re-sends and 5 late rows per batch.
    state = {
        oid: [row[2], row[1], dt.datetime.strptime(row[6], "%d-%m-%Y %H:%M").date().isoformat()]
        for oid, row in zip(order_ids, order_rows)
    }
    keys = list(order_ids)
    batches = []
    t_batch = CDC_T0
    snap = [(k, *state[k], t_batch + dt.timedelta(seconds=i)) for i, k in enumerate(keys)]
    batches.append(snap)
    prev_rows = snap
    new_ids = _hex_ids(rng(seed, "cdc-new"), CDC_BATCHES * max(1, n_ord // 100))
    for b in range(1, CDC_BATCHES + 1):
        t_batch = CDC_T0 + dt.timedelta(days=b)
        rows, sec = [], 0

        def emit(k, vals):
            nonlocal sec
            sec += 1
            rows.append((k, *vals, t_batch + dt.timedelta(seconds=sec)))

        picks = r.choice(len(keys), max(1, len(keys) * 3 // 100), replace=False).tolist()
        for i in picks:  # tracked-column changes
            k = keys[i]
            st = list(state[k])
            st[0] = STATUSES[(STATUSES.index(st[0]) + 1 + int(r.integers(0, 4))) % len(STATUSES)]
            if r.random() < 0.2:
                st[2] = (dt.date.fromisoformat(st[2]) + dt.timedelta(days=int(r.integers(1, 9)))).isoformat()
            state[k] = st
            emit(k, st)
        for i in picks[: max(1, len(picks) // 6)]:  # second update in the same batch
            k = keys[i]
            st = list(state[k])
            st[0] = STATUSES[(STATUSES.index(st[0]) + 1) % len(STATUSES)]
            state[k] = st
            emit(k, st)
        for k in new_ids[(b - 1) * (len(new_ids) // CDC_BATCHES): b * (len(new_ids) // CDC_BATCHES)]:
            state[k] = ["processing", cust_ids[int(r.integers(0, n_ord))],
                        (CDC_T0.date() + dt.timedelta(days=20 + b)).isoformat()]
            keys.append(k)
            emit(k, state[k])
        for i in r.choice(len(keys), max(1, len(keys) // 200), replace=False).tolist():
            if keys[i] not in {row[0] for row in rows}:  # unchanged re-send
                emit(keys[i], state[keys[i]])
        for old in [prev_rows[int(j)] for j in r.choice(len(prev_rows), 5, replace=False)]:
            # late re-delivery of a settled row: at/below the high-water mark
            rows.append((old[0], "canceled", old[2], old[3], old[4]))
        batches.append(rows)
        prev_rows = [row for row in rows if row[4] >= t_batch]
    for b, rows in enumerate(batches):
        cols = list(zip(*rows))
        _write_parquet(pa.table({
            "order_id": list(cols[0]),
            "order_status": list(cols[1]),
            "customer_id": list(cols[2]),
            "order_estimated_delivery_date": list(cols[3]),
            "ts": pa.array(list(cols[4]), pa.timestamp("us")),
        }), os.path.join(cdc, f"batch_{b:03d}.parquet"))
    m = _manifest(out_dir)
    m["rows"] = {
        "raw_orders": len(order_rows), "raw_customers": len(cust_rows),
        "raw_payments": len(pay_rows), "raw_products": len(prod_rows),
        "raw_sellers": n_sell, "raw_order_items": len(item_rows),
        **{f"cdc_batch_{b:03d}": len(rows) for b, rows in enumerate(batches)},
    }
    m["raw_bytes"] = sum(v for k, v in m["files"].items() if k.startswith("raw/"))
    m["cdc_bytes"] = sum(v for k, v in m["files"].items() if k.startswith("cdc/"))
    return m


# --------------------------------------------------------------------------
# curation: documents with near-duplicate classes + clustered embeddings
# --------------------------------------------------------------------------

CUR_DOCS = 800
CUR_VECS = 800
LANGS = (["en"] * 8) + ["de", "es", "fr", "zh"] * 3


def _doc_texts(seed: int) -> list[str]:
    r = rng(seed, "docs")
    vocab = np.array(_words(r, 3000, 2, 10))
    zipf_p = 1.0 / np.arange(1, vocab.size + 1) ** 0.9
    zipf_p /= zipf_p.sum()
    texts: list[list[str]] = []
    originals: list[int] = []
    for i in range(CUR_DOCS):
        # fixed shares: 1 in 33 an exact copy, 1 in 8 a near copy (~8% of
        # tokens rewritten), always of an original document, so duplicate
        # clusters are stars and the cluster search depth is the same on
        # every seed
        if i >= 10 and i % 33 == 5:
            texts.append(list(texts[originals[int(r.integers(0, len(originals)))]]))
        elif i >= 10 and i % 8 == 3:
            src = list(texts[originals[int(r.integers(0, len(originals)))]])
            for j in r.choice(len(src), max(1, len(src) * 8 // 100), replace=False).tolist():
                src[j] = str(vocab[int(r.integers(0, vocab.size))])
            texts.append(src)
        else:
            originals.append(i)
            texts.append(r.choice(vocab, int(r.integers(20, 121)), p=zipf_p).tolist())
    return [" ".join(t) for t in texts]


def _emb_ok(v: np.ndarray, planes: np.ndarray, n_lists: int, nprobe: int, n_queries: int) -> bool:
    """No ranking ties (top-k and IVF probe/assignment) and no vector on
    an LSH hyperplane, with a 1e-10 margin over float re-association."""
    x = v.astype(np.float64)
    if np.abs(x @ planes.T).min() < 1e-9:
        return False
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    cent = u[:n_lists]
    assign = np.sort(u @ cent.T, axis=1)
    if (assign[:, -1] - assign[:, -2]).min() < 1e-10:
        return False
    probe = np.sort(u[:n_queries] @ cent.T, axis=1)[:, ::-1]
    if (probe[:, nprobe - 1] - probe[:, nprobe]).min() < 1e-10:
        return False
    sims = u[:n_queries] @ u.T
    for q in range(n_queries):
        s = np.sort(np.delete(sims[q], q))
        if np.diff(s).min() < 1e-10:
            return False
    return True


def gen_curation(seed: int, out_dir: str) -> dict:
    from event_driven_data_pipeline_for_e_commerce_spark.llmdata.similarity import hyperplanes
    from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus  # noqa: F401 (registry order)
    from event_driven_data_pipeline_for_e_commerce_spark.plans import llm_queries as lq

    os.makedirs(out_dir, exist_ok=True)
    texts = _doc_texts(seed)
    r = rng(seed, "doc-meta")
    docs = pa.table({
        "doc_id": pa.array(np.arange(CUR_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": r.choice(np.array(LANGS), CUR_DOCS),
        "source": [f"src{i}" for i in r.integers(0, 20, CUR_DOCS).tolist()],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    planes = np.array(hyperplanes(lq.EMB_DIM, lq.N_PLANES, lq.N_TABLES))
    for attempt in range(100):
        re_ = rng(seed, "emb", attempt)
        labels = re_.integers(0, 10, CUR_VECS)
        centers = re_.normal(0, 1, (10, lq.EMB_DIM))
        v = (centers[labels] + re_.normal(0, 1.2, (CUR_VECS, lq.EMB_DIM))).astype(np.float32)
        # near-duplicate vectors: 5% jittered copies of earlier ones
        for i in np.flatnonzero(re_.random(CUR_VECS) < 0.05).tolist():
            if i > 20:
                j = int(re_.integers(0, i))
                v[i] = v[j] + re_.normal(0, 0.02, lq.EMB_DIM).astype(np.float32)
                labels[i] = labels[j]
        if _emb_ok(v, planes, lq.IVF_LISTS, lq.IVF_NPROBE, 5):
            break
    else:  # pragma: no cover
        raise RuntimeError("embedding draw kept producing ranking ties")
    emb = pa.table({
        "vec_id": pa.array(np.arange(CUR_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    _write_parquet(docs, os.path.join(out_dir, "documents.parquet"))
    _write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    m = _manifest(out_dir)
    m["rows"] = {"documents": CUR_DOCS, "embeddings": CUR_VECS}
    return m


GENERATORS = {"dashboard": gen_dashboard, "etl": gen_etl, "curation": gen_curation}
