"""Seeded generator for the benchmark's input tables.

Writes the engine's ten-table layout (`<dir>/<table>.parquet`, one file
each) with the schemas and value distributions of the engine's
TPC-H-ish fixtures: a star schema plus `events`, `documents` (with
near-duplicate and exact-duplicate texts for the dedup operators) and
unit-norm 64-d `embeddings`. The same (seed, sf) always gives the same
bytes of data.

Also writes the lakehouse inputs: `batches/<i>/events.parquet` event
rows whose ids continue past the base table, each inside one day of the
base table's month so a `ts` predicate can prune files, and
`merges/<j>/events.parquet` upsert sources.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query stream the row vector column part scan agg table slow key "
         "order window join a merge line fast spark customer group small "
         "hash value filter data sort batch big").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
P_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6
DAY_US = 86400 * 10**6


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, lo, hi, n):
    """Midnight timestamps uniform over [lo, hi] (numpy datetime64 days)."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _cents(x):
    return np.round(x * 100) / 100


def events_rows(rng, first_id, n, t0_us, span_us, n_users):
    gaps = rng.exponential(1.0, n)
    ts = t0_us + np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(_cents(rng.exponential(50.0, n))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    vocab = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # ~2.5% near-duplicates (an earlier text plus " dup") and ~0.2% exact
    # copies: the pairs the MinHash/n-gram operators exist to find
    for i in range(1, n):
        u = rng.random()
        if u < 0.025:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif u < 0.027:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def generate(out, seed, sf, n_batches=0, n_merges=0, batch_rows=0):
    """Write every table at scale factor `sf` (sf 0.1 ≈ 600k lineitem
    rows) plus `n_batches` lakehouse event batches and `n_merges` merge
    sources of `batch_rows` rows each."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = int(50000 * sf)
    n_emb = min(n_doc, max(500, int(20000 * sf)))
    n_users = max(10, int(15000 * sf))

    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pa.table({"n_nationkey": pa.array(nk),
                     "n_name": pa.array([f"NATION_{i}" for i in nk]),
                     "n_regionkey": pa.array(nk % 5)}), f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(P_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2)),
    }), f"{out}/part.parquet")
    ok = np.arange(n_ord, dtype=np.int64)
    _write(pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng.uniform(1000, 500000, n_ord))),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
    line_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    linenum = np.zeros(n_line, dtype=np.int32)
    order_idx = np.argsort(line_order, kind="stable")
    so = line_order[order_idx]
    starts = np.r_[0, np.flatnonzero(np.diff(so)) + 1]
    run = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenum[order_idx] = (run + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(line_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900, 2100, n_line))),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    }), f"{out}/lineitem.parquet")
    t0 = EVENTS_T0.astype(np.int64)
    _write(events_rows(rng, 0, n_ev, t0, EVENTS_SPAN_US, n_users), f"{out}/events.parquet")
    _write(documents(rng, n_doc), f"{out}/documents.parquet")
    _write(embeddings(rng, n_emb), f"{out}/embeddings.parquet")

    # lakehouse batches: each covers one day of the base month, so every
    # appended file carries a narrow ts range the file index can skip on
    for i in range(n_batches):
        day = int(rng.integers(0, 30))
        b = events_rows(rng, n_ev + i * batch_rows, batch_rows,
                        t0 + day * DAY_US, DAY_US, n_users)
        os.makedirs(f"{out}/batches/{i}", exist_ok=True)
        _write(b, f"{out}/batches/{i}/events.parquet")
    # merge sources: half the rows update distinct base events, half
    # insert ids no batch uses
    half = batch_rows // 2
    for j in range(n_merges):
        day = int(rng.integers(0, 30))
        m = events_rows(rng, 0, batch_rows, t0 + day * DAY_US, DAY_US, n_users)
        ids = np.concatenate([
            rng.choice(n_ev, half, replace=False).astype(np.int64),
            np.arange(batch_rows - half, dtype=np.int64) + 10**9 + j * batch_rows])
        m = m.set_column(0, "event_id", pa.array(ids))
        os.makedirs(f"{out}/merges/{j}", exist_ok=True)
        _write(m, f"{out}/merges/{j}/events.parquet")
