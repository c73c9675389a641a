"""Synthetic input tables for the benchmark, generated from a seed.

The engine reads ten parquet tables per scale-factor directory
(``lens_warehouse_spark.catalog.TABLES``). This module writes them with
the same schemas and value domains as the engine's test fixtures: a
TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream table and the two LLM tables
(``documents`` and ``embeddings``). Rows per table scale linearly with
``sf``; documents carry planted ``dup`` near-duplicates so the dedup
operators have work to do.

The same (seed, sf) always gives the same bytes' worth of values, so a
directory can be cached and checked by fingerprint.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_DATES = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DATES = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
EVENT_SPAN = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31))


def _n(base: int, sf: float, floor: int = 5) -> int:
    return max(floor, int(round(base * sf)))


def _days_us(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    """Midnight timestamps (microseconds since epoch) uniform in [lo, hi]."""
    epoch = dt.date(1970, 1, 1)
    d = rng.integers((lo - epoch).days, (hi - epoch).days + 1, n)
    return d.astype(np.int64) * 86_400_000_000


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _n(150_000, sf), _n(10_000, sf), _n(200_000, sf)
    n_ord, n_li, n_ev = _n(1_500_000, sf), _n(6_000_000, sf), _n(1_000_000, sf)
    n_doc, n_emb = _n(50_000, sf, 500), _n(20_000, sf, 500)
    n_users = _n(15_000, sf, 15)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days_us(rng, *ORDER_DATES, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, RETURNFLAGS, n_li),
        "l_linestatus": _pick(rng, LINESTATUSES, n_li),
        "l_shipdate": _ts(_days_us(rng, *SHIP_DATES, n_li)),
    })
    lo_us = int(EVENT_SPAN[0].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    hi_us = int(EVENT_SPAN[1].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(lo_us, hi_us, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.gamma(2.0, 40.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(8, 100, n_doc)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # 5% planted near-duplicates: an earlier document plus one token
    for i in rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + 0.8 * rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure_dataset(root: str, seed: int, sf: float) -> str:
    """Write (once) the ten tables for (seed, sf) under ``root`` and
    return the directory. A ``_COMPLETE`` marker makes reuse safe after
    an interrupted write."""
    out = os.path.join(root, f"data_seed{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in _tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(f"seed={seed} sf={sf}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
