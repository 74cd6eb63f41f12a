"""Seeded input generator for the benchmark workloads.

Everything the engine reads is made here from ``--seed``: the same seed
writes byte-identical parquet files, another seed writes other data.
Alongside the files the generator returns a manifest of expected
results, computed from the generated rows themselves (not from the
engine), which the output checks compare against.

Vault inputs are TPC-H shaped (customer, orders, nation) and arrive as
one day-0 extract followed by daily delta extracts. Each extract carries
a ``load_ts`` column, which the bench project's stages use as ``ldts``.
Curation input is a synthetic ``documents`` corpus with injected exact
and near duplicates.
"""

from __future__ import annotations

import datetime as _dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

GHOST_ROWS = 2          # unknown + error ghost record per hub/link/sat
DAY0 = _dt.datetime(2024, 1, 1)

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
N_NATIONS = 25

CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()), ("c_name", pa.string()),
    ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string()), ("load_ts", pa.timestamp("us"))])
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ("load_ts", pa.timestamp("us"))])
NATION_SCHEMA = pa.schema([
    ("n_nationkey", pa.int32()), ("n_name", pa.string()),
    ("n_regionkey", pa.int32())])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def write_parquet(path: str, schema: pa.Schema, rows: list) -> int:
    """Write rows (tuples in schema order) as one parquet file; returns
    its size in bytes. No pandas metadata and no timestamps in the
    footer, so equal rows give equal bytes."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                     schema=schema)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ------------------------------------------------------------- vault --


# daily extract shape
DAY0_SHARE = 0.9        # share of the customers in the day-0 extract
CHURN = 0.02            # share of known customers re-sent per day
NOOP_CHURN = 0.25       # share of re-sent rows with an unchanged payload
NEW_CUSTOMERS = 0.005   # new customers per day, share of the customers
NEW_ORDERS = 0.01       # new orders per day, share of the orders
ORDER_CHURN = 0.005     # known orders with a status change per day


def vault_extracts(seed: int, customers: int = 1000, orders: int = 10000,
                   days: int = 12) -> list:
    """[(customer_rows, orders_rows)] for day 0 .. days. ``customers``
    and ``orders`` size day 0 (DAY0_SHARE of the customers, half of the
    orders) and the daily growth."""
    rng = random.Random(f"vault:{seed}")
    n_day0 = int(customers * DAY0_SHARE)
    cust: dict = {}            # key -> current row (without load_ts)
    known_orders: dict = {}
    next_ck, next_ok = 0, 0
    out = []
    for day in range(days + 1):
        ts = DAY0 + _dt.timedelta(days=day)
        c_rows, o_rows = [], []
        if day == 0:
            new_c = n_day0
        else:
            new_c = max(1, int(customers * NEW_CUSTOMERS))
            known = sorted(cust)
            for k in rng.sample(known, max(1, int(len(known) * CHURN))):
                name, nation, bal, seg = cust[k]
                if rng.random() >= NOOP_CHURN:
                    if rng.random() < 0.5:
                        bal = round(bal + rng.uniform(-500.0, 500.0), 2)
                    else:
                        seg = rng.choice([s for s in SEGMENTS if s != seg])
                cust[k] = (name, nation, bal, seg)
                c_rows.append((k, name, nation, bal, seg, ts))
            known_o = sorted(known_orders)
            for k in rng.sample(known_o,
                                max(1, int(len(known_o) * ORDER_CHURN))):
                ck, st, price, odate, prio = known_orders[k]
                st = rng.choice([s for s in STATUSES if s != st])
                known_orders[k] = (ck, st, price, odate, prio)
                o_rows.append((k, ck, st, price, odate, prio, ts))
        for _ in range(new_c):
            k = next_ck
            next_ck += 1
            row = (f"Customer#{k:09d}", rng.randrange(N_NATIONS),
                   round(rng.uniform(-999.99, 9999.99), 2),
                   rng.choice(SEGMENTS))
            cust[k] = row
            c_rows.append((k, *row, ts))
        new_o = (orders // 2 if day == 0
                 else max(1, int(orders * NEW_ORDERS)))
        for _ in range(new_o):
            k = next_ok
            next_ok += 1
            row = (rng.randrange(next_ck), rng.choice(STATUSES),
                   round(rng.uniform(900.0, 500000.0), 2),
                   DAY0 - _dt.timedelta(days=rng.randrange(2500)),
                   rng.choice(PRIORITIES))
            known_orders[k] = row
            o_rows.append((k, *row, ts))
        out.append((c_rows, o_rows))
    return out


def nation_rows() -> list:
    return [(i, f"NATION_{i}", i % 5) for i in range(N_NATIONS)]


def _sat_rows(history: list) -> int:
    """Rows a sat_v0 holds for one key: the first load plus every load
    whose payload differs from the previous one (ldts order)."""
    n, prev = 0, object()
    for payload in history:
        if payload != prev:
            n += 1
        prev = payload
    return n


def vault_manifest(extracts: list) -> dict:
    """Expected hub/link/sat row counts after loading ``extracts`` (in
    order, one pass each or all at once): distinct keys, plus the two
    ghost rows, plus payload changes that really change the hashdiff."""
    c_hist: dict = {}
    o_hist: dict = {}
    c_links, o_links = set(), set()
    for c_rows, o_rows in extracts:
        for k, _name, nation, bal, seg, _ts in c_rows:
            c_hist.setdefault(k, []).append((bal, seg))
            c_links.add((k, nation))
        for k, ck, st, price, _od, prio, _ts in o_rows:
            o_hist.setdefault(k, []).append((st, price, prio))
            o_links.add((k, ck))
    return {
        "hub_customer": len(c_hist) + GHOST_ROWS,
        "link_customer_nation": len(c_links) + GHOST_ROWS,
        "sat_customer_n0_s": sum(map(_sat_rows, c_hist.values()))
        + GHOST_ROWS,
        "hub_order": len(o_hist) + GHOST_ROWS,
        "link_order_customer": len(o_links) + GHOST_ROWS,
        "sat_order_n0_s": sum(map(_sat_rows, o_hist.values())) + GHOST_ROWS,
    }


def write_vault_day(dirname: str, day_rows: tuple) -> dict:
    """Write one extract as customer/orders/nation parquet files;
    returns {table: path} plus the total byte count under 'bytes'."""
    os.makedirs(dirname, exist_ok=True)
    c_rows, o_rows = day_rows
    paths = {t: os.path.join(dirname, f"{t}.parquet")
             for t in ("customer", "orders", "nation")}
    nbytes = (write_parquet(paths["customer"], CUSTOMER_SCHEMA, c_rows)
              + write_parquet(paths["orders"], ORDERS_SCHEMA, o_rows)
              + write_parquet(paths["nation"], NATION_SCHEMA, nation_rows()))
    return {"paths": paths, "bytes": nbytes}


# ---------------------------------------------------------- curation --

WORDS = ("the a data table row column key value hash join merge scan sort "
         "filter group window stream batch query spark vector order part "
         "customer line fast slow big small agg model token train corpus "
         "dedup shard label index graph node edge cache store load write "
         "read plan stage task job metric trace layer span").split()
LANGS = (("en", 60), ("de", 20), ("fr", 10), ("es", 6), ("it", 4))
N_SOURCES = 5


DOCUMENTS = 1500
EXACT_DUPS = 20         # doc pairs with identical text
NEAR_DUPS = 20          # doc pairs differing in their last word
NEAR_DUP_MIN_WORDS = 100


def curation_inputs(seed: int):
    """(document_rows, dup_pairs): dup_pairs lists every injected
    (original_id, copy_id) pair, exact and near."""
    rng = random.Random(f"curation:{seed}")
    langs = [l for l, w in LANGS for _ in range(w)]
    n_base = DOCUMENTS - EXACT_DUPS - NEAR_DUPS
    texts, meta = [], []
    for _ in range(n_base):
        n = rng.choice((rng.randint(8, 60), rng.randint(100, 160)))
        texts.append(" ".join(rng.choice(WORDS) for _ in range(n)))
        meta.append((rng.choice(langs), f"src{rng.randrange(N_SOURCES)}"))
    long_ids = [i for i, t in enumerate(texts)
                if t.count(" ") + 1 >= NEAR_DUP_MIN_WORDS]
    originals = rng.sample(long_ids, EXACT_DUPS + NEAR_DUPS)
    pairs = []
    for j, orig in enumerate(originals):
        text = texts[orig]
        if j >= EXACT_DUPS:
            head, last = text.rsplit(" ", 1)
            text = head + " " + rng.choice([w for w in WORDS if w != last])
        pairs.append((orig, len(texts)))
        texts.append(text)
        meta.append((meta[orig][0], f"src{rng.randrange(N_SOURCES)}"))
    docs = [(i, t, lang, src, len(t))
            for i, (t, (lang, src)) in enumerate(zip(texts, meta))]
    return docs, pairs


def write_curation(dirname: str, docs: list) -> dict:
    os.makedirs(dirname, exist_ok=True)
    path = os.path.join(dirname, "documents.parquet")
    return {"paths": {"documents": path},
            "bytes": write_parquet(path, DOCUMENTS_SCHEMA, docs)}
