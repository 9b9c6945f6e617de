"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (`Tables.all`) as parquet, with
the schemas and value domains of the synthetic star schema the program
was built against: TPC-H-like region/nation/customer/supplier/part/
orders/lineitem, an `events` log (30 January days, ids in ts order,
exponential `value`, `{"k": n}` props), a word-salad `documents` corpus
with ~5% near-duplicates and 64-d unit `embeddings`.

The same seed gives the same bytes. Everything here is untimed set-up.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
P_ADJ = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("a the data spark query table row column key value join group agg "
         "sort hash scan filter window stream batch merge part line order "
         "customer vector fast slow big small").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# events span 2024-01-01 .. 2024-01-30 (UTC), microseconds
EVENTS_T0_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
EVENT_DAYS = 30
# orders/lineitem dates: 1995-01-01 .. 2001-08-01
ORDER_D0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_D0).astype(np.int64))

# row counts of the program's test data at each scale factor (lineitem
# is 4 x orders)
ROWS = {
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
                "events": 1000, "documents": 500, "embeddings": 500},
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
               "events": 10000, "documents": 500, "embeddings": 500},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
              "events": 100000, "documents": 5000, "embeddings": 2000},
}
USERS_PER_1000_EVENTS = 15


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(d):
    us = (d.astype("datetime64[us]") - np.datetime64(0, "us")).astype(np.int64)
    return _ts(us)


def events_table(rng, n, users):
    """`n` events over EVENT_DAYS days; event_id follows ts order."""
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENT_DAYS * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def star_tables(rng, rows):
    """The TPC-H-like tables at the row counts `rows`."""
    nc, ns, np_, no = (rows[t] for t in ("customer", "supplier", "part", "orders"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    pk = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _days(ORDER_D0 + rng.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})
    nl = 4 * no
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(ORDER_D0 + rng.integers(0, ORDER_DAYS + 95, nl))})
    return t


def write_corpus(out_dir, seed, sf):
    """All ten tables at scale factor `sf` (a key of ROWS) into
    `out_dir/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    rows = ROWS[sf]
    tables = star_tables(rng, rows)
    tables["events"] = events_table(rng, rows["events"], rows["events"] * USERS_PER_1000_EVENTS // 1000)
    tables["documents"] = documents_table(rng, rows["documents"])
    tables["embeddings"] = embeddings_table(rng, rows["embeddings"])
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def write_arrivals(events, out_dir, rng, lo, n_slices, slice_rows, redeliver):
    """Cut the events from row `lo` on into `n_slices` arrival files.

    Each slice carries the next `slice_rows` new rows in ts order (at
    sf0.1 density ~30 minutes of events); rows that share a timestamp
    never straddle a cut, so the seed-chosen `lo` moves every cut point.
    Each file also re-delivers `redeliver` × `slice_rows` rows that
    already landed (the reference's full-collection re-copy), which the
    stg watermark must drop. Returns one record per slice: file name,
    new rows, redelivered rows and the slice's last timestamp.
    """
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for i in range(n_slices):
        hi = min(lo + slice_rows, len(ts))
        hi = int(np.searchsorted(ts, ts[hi - 1], side="right"))
        k = min(lo, max(1, int(round(slice_rows * redeliver))))
        old = np.sort(rng.choice(lo, size=k, replace=False))
        idx = np.concatenate([old, np.arange(lo, hi)])
        name = f"arrival-{i:05d}.parquet"
        pq.write_table(events.take(pa.array(idx)), os.path.join(out_dir, name))
        out.append({"file": name, "new_rows": hi - lo, "redelivered": k,
                    "last_ts": int(ts[hi - 1])})
        lo = hi
    return out
