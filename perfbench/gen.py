"""Deterministic input generator for the benchmark.

Writes the ten tables bears_spark's queries read (the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``) with the same column
names and types as the project's test data and the shape measured on its
sf0.1 copy, one parquet file per table. Every table is a pure function of
``(scale, text_scale, DATA_SEED)``: the benchmark's ``--seed`` varies the
operations, never the bytes, so one generated copy serves every run in a
checkout.

Measured shape reproduced here (sf0.1 test data):

- documents: 50,000 x sf rows; lengths uniform over 10..100 words; words
  drawn uniformly from a 30-word vocabulary; 5 % of the documents are an
  earlier document with the word ``dup`` appended, 0.16 % an exact copy of
  an earlier one; ``source`` is ``src{doc_id % 20}``; languages en 41 %,
  zh/es/fr 15 % each, de 14 %.
- embeddings: 20,000 x sf rows of 64 float32 dims, unit norm, isotropic
  (same-label mean cosine 0.005), labels uniform over 0..9.
- orders: order dates uniform over the days 1995-01-01..2001-08-01.
- lineitem: 4 lines per order on average, each line's order drawn uniformly
  (so lines per order are Poisson(4), 1.8 % of orders have none); ship
  dates uniform over 1995-01-02..2001-11-04, independent of the order date.
  One deviation: lines are numbered 1..n within their order, so that
  ``(l_orderkey, l_linenumber)`` is a unique key for ``SnapshotTable.merge``
  (the test data draws ``l_linenumber`` uniformly from 1..7 and repeats it).
- events: 1,000,000 x sf rows over January 2024, 15,000 x sf users, five
  event types, exponential values of mean 50.

    python3 perfbench/gen.py <out_dir> <scale> [<text_scale>]
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data filter fast group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_COPY_P = 0.05
EXACT_COPY_P = 0.0016
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMB_DIM = 64


def _us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng, n: int, lo: datetime, hi: datetime) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly from the days in [lo, hi]."""
    span = (hi - lo).days + 1
    day = rng.integers(0, span, n)
    return _us(lo) + day.astype(np.int64) * 86_400_000_000


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < EXACT_COPY_P:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < EXACT_COPY_P + NEAR_COPY_P:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out: str, scale: float, text_scale: float) -> None:
    """Write every table into ``out``: the relational ones at ``scale``
    (1.0 ~ 6M lineitem rows), documents and embeddings at ``text_scale``."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    n_ev = max(int(1_000_000 * scale), 500)
    n_users = max(int(15_000 * scale), 20)
    n_doc = max(int(50_000 * text_scale), 60)
    n_emb = max(int(20_000 * text_scale), 40)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string()),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), pa.float64()),
    }))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], pa.string()
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0, pa.float64()),
    }))

    odate = _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), pa.float64()),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string()),
    }))

    # each line's order drawn uniformly; lines numbered 1..n within their
    # order so (l_orderkey, l_linenumber) is unique
    okey = np.sort(rng.integers(0, n_ord, 4 * n_ord))
    n_li = len(okey)
    first = np.searchsorted(okey, okey)
    lnum = (np.arange(n_li) - first + 1).astype(np.int32)
    ship = _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4))
    order = rng.permutation(n_li)
    okey, lnum, ship = okey[order], lnum[order], ship[order]
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist(), pa.string()),
        "l_shipdate": _ts(ship),
    }))

    ev_ts = np.sort(_us(datetime(2024, 1, 1)) + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    }))
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_emb))


def main(argv: list[str]) -> int:
    if len(argv) not in (3, 4):
        print(__doc__, file=sys.stderr)
        return 2
    generate(argv[1], float(argv[2]), float(argv[3] if len(argv) == 4 else argv[2]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
