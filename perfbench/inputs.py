"""Seeded input tables for the benchmark.

Every table has the column names and Arrow types of the star-schema test
data the package's loaders and DuckDB oracles are written against
(``dask_recommender_system_spark.data.TABLES``), and value ranges modelled
on it. The same ``(seed, sizes)`` always gives byte-identical inputs.

Documents are bags of words over a small vocabulary. A fixed share of them
are near-duplicates of an earlier document: the earlier text with ``" dup"``
appended, one word substituted, or copied verbatim. That share is the
workload's stated near-duplicate rate and is the same for every seed, so
seeds change which documents collide but not how many.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value join hash sort merge scan filter "
    "group agg window stream batch spark query order line part customer "
    "vector big small fast slow"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
EMBED_CLUSTERS = 10


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated dataset. ``lineitem`` drives the
    star-schema tables (ratings view = lineitem ⋈ orders, one rating per
    line item)."""

    documents: int
    near_dup_rate: float
    embeddings: int
    lineitem: int

    @property
    def orders(self) -> int:
        return self.lineitem // 4

    @property
    def customer(self) -> int:
        return max(self.lineitem // 40, 10)

    @property
    def part(self) -> int:
        return max(self.lineitem // 30, 10)

    @property
    def supplier(self) -> int:
        return max(self.lineitem // 600, 5)

    @property
    def events(self) -> int:
        return max(self.lineitem // 6, 100)


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int, near_dup_rate: float) -> pa.Table:
    n_dup = int(round(n * near_dup_rate))
    n_base = n - n_dup
    lens = rng.integers(10, 100, n_base)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts: list[str] = []
    pos = 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # near-duplicates point at earlier base documents only, so each forms a
    # cluster with its source and never chains into another copy
    src = rng.integers(0, n_base, n_dup)
    kind = rng.integers(0, 3, n_dup)
    for s, k in zip(src, kind):
        t = texts[s]
        if k == 0:
            t = t + " dup"
        elif k == 1:
            toks = t.split()
            toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
            t = " ".join(toks)
        texts.append(t)
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n)
    v = centers[label] + rng.normal(0, 1.5, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _star(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    n_cust, n_part, n_supp, n_ord, n_li = s.customer, s.part, s.supplier, s.orders, s.lineitem
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    # (l_orderkey, l_linenumber) repeats, as in the test data; the ratings
    # view's interaction_id stays unique only while (partkey, suppkey,
    # floor(quantity)) is unique inside each repeat group, so drop the rare
    # draws that break that
    ok = rng.integers(0, n_ord, n_li)
    ln = rng.integers(1, 8, n_li)
    pk = rng.integers(0, n_part, n_li)
    sk = rng.integers(0, n_supp, n_li)
    qty = rng.integers(1, 51, n_li)
    key = np.stack([ok, ln, pk, sk, qty], axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    keep = np.sort(first)
    m = len(keep)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(ok[keep], pa.int64()),
            "l_partkey": pa.array(pk[keep], pa.int64()),
            "l_suppkey": pa.array(sk[keep], pa.int64()),
            "l_linenumber": pa.array(ln[keep], pa.int32()),
            "l_quantity": qty[keep].astype(np.float64),
            "l_extendedprice": _money(rng, m, 900.0, 105000.0),
            "l_discount": np.round(rng.integers(0, 11, m) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, m) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    n_ev = s.events
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + np.datetime64("2024-01-01", "us").astype(
        np.int64
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet`` (one file, one row
    group, like the test data) and return the row count of each."""
    rng = np.random.default_rng(seed)
    tables = _star(rng, sizes)
    tables["documents"] = _documents(rng, sizes.documents, sizes.near_dup_rate)
    tables["embeddings"] = _embeddings(rng, sizes.embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=max(t.num_rows, 1))
    return {name: t.num_rows for name, t in tables.items()}
