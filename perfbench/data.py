"""Seeded input generation for the benchmark.

The base tables follow the schema of the engine's TPC-H-ish test tables
(``orders``, ``lineitem``, ``customer``, ``documents``) and are written as
one parquet file each.  They come from a fixed dataset seed so that every
run measures the same data; the workload seed (``--seed``) drives only the
op streams: serve requests, composite pass order and ingest batches.
"""

from __future__ import annotations

import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET_SEED = 42

# rows per table at scale 1.0 (the engine's sf0.1 test tables are scale 0.1)
ROWS_AT_SCALE_1 = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
LANGS = ["en", "de", "es", "fr", "zh"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rows(name: str, scale: float) -> int:
    return max(20, int(ROWS_AT_SCALE_1[name] * scale))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US


def customer_table(scale: float) -> pa.Table:
    rng = np.random.default_rng([DATASET_SEED, 1])
    n = _rows("customer", scale)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders_table(scale: float) -> pa.Table:
    rng = np.random.default_rng([DATASET_SEED, 2])
    n = _rows("orders", scale)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, _rows("customer", scale), n),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem_table(scale: float) -> pa.Table:
    rng = np.random.default_rng([DATASET_SEED, 3])
    n = _rows("lineitem", scale)
    # four lines an order: (l_orderkey, l_linenumber) is unique, as in
    # TPC-H, so a top-k over it has a total order
    line = rng.permutation(n)
    return pa.table({
        "l_orderkey": (line // 4) % _rows("orders", scale),
        "l_partkey": rng.integers(0, max(20, int(200_000 * scale)), n),
        "l_suppkey": rng.integers(0, max(20, int(10_000 * scale)), n),
        "l_linenumber": (line % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(rng, n, 2500), pa.timestamp("us")),
    })


def documents_table(scale: float) -> pa.Table:
    """Token soup over a 31-word vocabulary, 10-100 tokens a document,
    with about 5% near-duplicates of an earlier document (one token
    appended or the last one dropped) — the shape the dedup operators
    are built for."""
    rng = random.Random(DATASET_SEED)
    n = _rows("documents", scale)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[rng.randrange(i)].split()
            toks = toks + ["dup"] if rng.random() < 0.5 else toks[:-1]
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        texts.append(" ".join(toks))
    langs = [
        "en" if rng.random() < 0.4 else rng.choice(LANGS[1:]) for _ in range(n)
    ]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


TABLES = {
    "customer": customer_table,
    "orders": orders_table,
    "lineitem": lineitem_table,
    "documents": documents_table,
}


def write_tables(out_dir: str, names: tuple[str, ...], scale: float) -> dict:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        table = TABLES[name](scale)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ------------------------------------------------------------ op streams

SERVE_KINDS = (
    "point_lookup",
    "price_range",
    "name_search",
    "text_search",
    "pending_in_list",
    "paginate",
    "top_k",
    "distinct",
    "group_count",
)


def serve_requests(seed: int, scale: float):
    """Endless request stream in blocks of every kind once, in a seeded
    order per block, so any whole number of blocks has the same, uniform
    mix.  Parameters are drawn from the same seeded generator."""
    rng = random.Random(seed)
    n_orders = _rows("orders", scale)
    n_cust = _rows("customer", scale)
    start = datetime.datetime(1995, 1, 1)
    while True:
        for kind in rng.sample(SERVE_KINDS, len(SERVE_KINDS)):
            if kind == "point_lookup":
                p = {"key": rng.randrange(n_orders)}
            elif kind == "price_range":
                lo = round(rng.uniform(1000.0, 100000.0), 2)
                p = {"lo": lo, "hi": round(lo + 25.0, 2)}
            elif kind == "name_search":
                p = {"needle": f"CUSTOMER#{rng.randrange(n_cust // 10):08d}"}
            elif kind == "text_search":
                p = {"needle": " ".join(rng.choice(VOCAB) for _ in range(3))}
            elif kind == "pending_in_list":
                p = {"custkeys": sorted(rng.sample(range(n_cust), 8))}
            elif kind == "paginate":
                day = start + datetime.timedelta(days=rng.randrange(2390))
                p = {"day_lo": day, "day_hi": day + datetime.timedelta(days=7),
                     "page": rng.randint(1, 4), "per_page": 20}
            elif kind == "top_k":
                p = {"linenumber": rng.randint(1, 4), "k": 10}
            elif kind == "distinct":
                p = {"nation": rng.randrange(25)}
            else:
                p = {"priority": rng.choice(PRIORITIES)}
            yield kind, p


def ingest_batches(seed: int, scale: float, batch_rows: int):
    """Endless stream of arrival batches against the orders table.

    Batches come in rounds of one batch per order status, in a seeded
    order per round; every batch mixes updates of live rows, new keys
    and tombstones in even thirds, all inside the one status partition
    it targets.
    The generator tracks the live keys itself, so it never updates or
    deletes a key that is gone and never inserts one that exists.
    Yields ``(status, pyarrow.Table)`` with a boolean ``_deleted``
    column."""
    rng = np.random.default_rng([seed, 7])
    base = orders_table(scale)
    keys0 = base["o_orderkey"].to_numpy()
    status0 = base["o_orderstatus"].to_numpy(zero_copy_only=False)
    live = {s: set(keys0[status0 == s].tolist()) for s in STATUSES}
    next_key = base.num_rows
    n_cust = _rows("customer", scale)
    n_upd = n_new = n_del = batch_rows // 3
    while True:
        for status in rng.permutation(STATUSES):
            status = str(status)
            pool = np.array(sorted(live[status]), dtype=np.int64)
            touched = rng.choice(pool, n_upd + n_del, replace=False)
            upd, dele = touched[:n_upd], touched[n_upd:]
            new = np.arange(next_key, next_key + n_new, dtype=np.int64)
            next_key += n_new
            keys = np.concatenate([upd, new, dele])
            n = len(keys)
            live[status].difference_update(dele.tolist())
            live[status].update(new.tolist())
            yield status, pa.table({
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, n_cust, n),
                "o_orderstatus": np.full(n, status),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
                "_deleted": np.concatenate(
                    [np.zeros(n_upd + n_new, bool), np.ones(n_del, bool)]
                ),
            })
