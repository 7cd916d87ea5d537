"""Seeded fixture generator for the benchmark.

Writes the tables the workloads read as one parquet file each, in the
layout ``datum_spark.connect("file://<dir>")`` and ``tierb.load`` expect
(``<dir>/<table>.parquet``).  The schemas follow the engine's test
fixtures (TPC-H-shaped ``customer``/``orders``/``lineitem`` plus the
``documents`` and ``embeddings`` tables of the extension entries).

The tables depend only on the scale (the generator's own seed is fixed);
a workload's ``--seed`` chooses the operations run over them, never the
tables, so a generated directory is reused by every run in the same
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "line sort window data column join small customer query order "
         "stream filter group spark big vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
N_DAYS = 2400                      # order dates span 1995-01-01 .. 2001-07
BASE_SEED = 42


def _days_to_ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def customers(rng, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders_and_lines(rng, n_orders: int, n_cust: int, n_part: int):
    okeys = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, N_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)],
    })
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is unique
    per = rng.integers(1, 8, n_orders)
    lkey = np.repeat(okeys, per)
    starts = np.cumsum(per) - per
    lnum = (np.arange(per.sum()) - np.repeat(starts, per) + 1).astype(np.int32)
    n = len(lkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odays, per) + rng.integers(1, 121, n)
    lines = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n_part // 20), n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days_to_ts(ship),
    })
    return orders, lines


def documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # a near-copy of an earlier document: the dedup stages and the
            # n-gram entries have real pairs to find
            src = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(0, len(src)))
            texts.append(" ".join(src[:cut] + ["dup"] + src[cut:]))
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0, 0.15, (n, dim)).astype(np.float32)
    # plant near-duplicates (cosine well above 0.95) of earlier vectors
    for i in range(20, n, 25):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] * 1.02 + rng.normal(0, 0.005, dim)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir: str, scale: float) -> None:
    """Write every table under ``out_dir`` (created if missing)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(100, int(150_000 * scale))
    n_orders = max(500, int(1_500_000 * scale))
    n_part = max(200, int(200_000 * scale))
    tables = {"customer": customers(rng, n_cust)}
    tables["orders"], tables["lineitem"] = orders_and_lines(
        rng, n_orders, n_cust, n_part)
    tables["documents"] = documents(rng, max(200, int(50_000 * scale)))
    tables["embeddings"] = embeddings(rng, max(200, int(50_000 * scale)))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

