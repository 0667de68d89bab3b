"""Seeded generator of the entry-mix input tables.

Writes the four tables the entry-mix list reads (orders, lineitem,
events, documents), one parquet file each, with the column names and
physical types of the program's sf0.1 test tables (timestamps as zoneless
microsecond timestamps) and their shapes at 0.3 of their row counts:
lines pick their order uniformly (so lines per order are Poisson with
mean 4, ~1.8% of orders have none, and the top 1% of orders hold 2.5% of
the lines: no hot keys), one supplier per 150 orders, one part per 7.5
and one customer per 10, uniform flags, statuses and priorities, prices
uniform up to 500 000, event times ascending over a month with values
exponential around 50 and ~67 events per user, and documents of 8-100
words over a 31-word vocabulary with 5% near-duplicates (simhash).
perfbench/README.md compares the two table sets.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
US_PER_DAY = 86_400_000_000
DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, orders=45_000, events=30_000, documents=1_500):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = orders
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _ts((DAY_1995 + rng.integers(0, 2404, n)) * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })

    m = n * 4
    keys = rng.integers(0, n, m, dtype=np.int64)
    order = np.argsort(keys, kind="stable")
    sorted_keys = keys[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    line = np.arange(m) - np.repeat(starts, np.diff(np.r_[starts, m]))
    linenumber = np.empty(m, dtype=np.int32)
    linenumber[order] = line + 1
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(keys),
        "l_partkey": pa.array(rng.integers(0, max(n * 2 // 15, 1), m, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(n // 150, 1), m, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": _ts((DAY_1995 + 1 + rng.integers(0, 2498, m)) * US_PER_DAY),
    })

    e = events
    start = 1_704_067_200_000_000  # 2024-01-01
    gaps = rng.exponential(30 * US_PER_DAY / e, e)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(start + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, max(e * 3 // 200, 1), e, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], e)),
        "value": pa.array(np.round(rng.exponential(50, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })

    texts = []
    for i in range(documents):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(documents, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, documents, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(documents)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
