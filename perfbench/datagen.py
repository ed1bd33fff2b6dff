"""Seeded inputs for the benchmark.

Two generators:

* :func:`write_fixture` writes the ten fixture tables the registered
  queries read (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), one single-row-group parquet file per table, with
  the row counts and value processes of the engine's reference
  fixtures at scale factor ``sf``. Columns are independent uniform
  draws, as in those fixtures; documents and embeddings come from
  ``scripts/gen_scale_fixture``.
* :func:`history_rows` makes the transaction history the service's
  batch jobs read, through ``tests.factories.make_transactions``.

The same ``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scripts.gen_scale_fixture import EXACT_DUP_FRAC, gen_documents, gen_embeddings

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(start: dt.date, end: dt.date, n: int, rng) -> pa.Array:
    span = (end - start).days
    days = rng.integers(0, span + 1, size=n)
    return _ts(dt.datetime.combine(start, dt.time()), days * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(n: int, rng) -> pa.Table:
    """``gen_documents``, plus one exact duplicate when the corpus is
    too small for its 0.16% rate to yield any."""
    docs = gen_documents(n, rng)
    if int(n * EXACT_DUP_FRAC) == 0:
        texts = docs.column("text").to_pylist()
        texts[-1] = texts[0]
        docs = docs.set_column(1, "text", pa.array(texts, pa.string()))
        docs = docs.set_column(4, "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    return docs


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(2000 * 4 ** math.log10(sf / 0.1)))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                             rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng),
    })
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), offsets),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(n_docs, rng)
    t["embeddings"] = gen_embeddings(n_emb, 64, rng)
    return t


def write_fixture(out_dir: str, sf: float, seed: int) -> str:
    """Write the fixture tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return out_dir


def history_rows(n: int, seed: int) -> list[dict]:
    """Seeded transaction history: 20 days from 2024-03-01."""
    from tests.factories import make_transactions

    return make_transactions(n, seed=seed, n_customers=500, n_products=200)


def warm_engine(spark, path: str, column: str) -> None:
    """A few seconds of generic engine work on a fresh session (parquet
    scan, aggregate, join, collect), so the first timed operation does
    not also pay for the driver's class loading."""
    df = spark.read.parquet(path)
    df.groupBy(column).count().join(df.select(column).distinct(), column).collect()
