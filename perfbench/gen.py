"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (`<out>/<name>.parquet`) with the
schemas and value ranges the library's queries expect: a TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem), an
`events` stream, a `documents` text corpus with planted near-duplicates,
and an `embeddings` table of unit vectors drawn around ten centres.

`scale` = 1.0 gives the sizes of the reference sf0.1 tables (600k
lineitems, 150k orders, 100k events, 5k documents, 2k vectors); smaller
scales shrink every fact table proportionally. The same seed and scale
always give byte-identical tables.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "red", "small", "green", "cold", "old"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]

US = 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _day_micros(rng, n, start, end):
    days = (end - start).days
    base = int((start - EPOCH).total_seconds()) * US
    return base + rng.integers(0, days + 1, n).astype(np.int64) * 86_400 * US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def tables(seed, scale=1.0):
    """Every table as a pyarrow Table, generated from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(200, int(20_000 * scale))
    n_ord = max(1_500, int(150_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(100_000 * scale))
    n_docs = max(500, int(5_000 * scale))
    n_vec = max(500, int(2_000 * scale))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _names("Customer", keys),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    keys = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _names("Supplier", keys),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    keys = np.arange(n_part, dtype=np.int64)
    adj = rng.choice(ADJ, n_part)
    noun = rng.choice(NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 20_000) * 0.1, 2),
    })
    keys = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_day_micros(
            rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(_day_micros(
            rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))),
    })

    # events: strictly increasing timestamps over 30 days
    span = 30 * 86_400 * US
    gaps = rng.integers(1, 2 * span // n_ev, n_ev).astype(np.int64)
    ts = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * US + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random word sequences; ~3% are a copy of an earlier
    # document with " dup" appended (near-duplicates for MinHash dedup)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 95))
            texts.append(" ".join(rng.choice(WORDS, n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: 64-d unit vectors scattered around ten unit centres
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = centres[labels] + rng.normal(scale=0.35, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(out_dir, seed, scale=1.0, names=None):
    """Write the tables (all, or just `names`) under `out_dir`."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed, scale).items():
        if names is None or name in names:
            pq.write_table(table, out_dir / f"{name}.parquet")
