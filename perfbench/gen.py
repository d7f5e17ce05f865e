"""Seeded input generator: the tables the benchmark's workloads read.

Writes one parquet file per table into a directory the benchmark owns,
in the same schemas the engine's readers expect (``orders``,
``lineitem``, ``events``, ``documents``).  Values are
drawn from one ``numpy`` generator seeded by ``seed``, and every key
space is re-keyed through a seeded permutation, so two seeds give two
different datasets of the same size and shape while one seed always
gives the same bytes.

Shape notes (they decide what the engine's plans see):

- ratings are ``avg(l_quantity)`` per (customer, part), so a customer's
  rating count is its orders x lines per order; customers and parts are
  drawn uniformly, like the reference fixtures;
- documents are random-word texts with planted exact and near
  duplicates, so the dedup operators have real work and real output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: 1995-01-01 and 2001-08-01 in epoch days; 2024-01-01 in epoch seconds
DAY0, DAY1 = 9131, 11535
EVENTS_T0 = 1704067200
LINES_PER_ORDER = 4
SUPPLIERS = 100


@dataclass(frozen=True)
class Size:
    """Row counts of one generated dataset."""

    customers: int  # the key space of o_custkey
    parts: int  # the key space of l_partkey
    orders: int
    events: int
    documents: int


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _permuted_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded re-keying: key i of the generated data is ``perm[i]``."""
    return rng.permutation(n).astype("int64")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    base = n - n // 20  # the last 5% are planted near/exact duplicates
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths[:base]]
    for j in range(base, n):
        src = texts[int(rng.integers(0, base))].split(" ")
        if (j - base) % 4 == 0:  # exact duplicate
            texts.append(" ".join(src))
        else:  # near duplicate: one word replaced, one marker word appended
            pos = int(rng.integers(0, len(src)))
            src[pos] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src + ["dup"]))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def generate(out_dir: str, seed: int, size: Size) -> dict:
    """Write every table for ``seed`` at ``size`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": b}}`` for the files written.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    nc, npart, no = size.customers, size.parts, size.orders
    cust_keys = _permuted_keys(rng, nc)
    part_keys = _permuted_keys(rng, npart)
    order_days = rng.integers(DAY0, DAY1, size=no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": cust_keys[rng.integers(0, nc, size=no)],
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, size=no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=no), 2),
            "o_orderdate": _ts_days(order_days),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, size=no)],
        }
    )
    nl = no * LINES_PER_ORDER
    line_order = np.repeat(np.arange(no, dtype="int64"), LINES_PER_ORDER)
    part_idx = rng.integers(0, npart, size=nl)
    qty = rng.integers(1, 51, size=nl).astype("float64")
    flags = rng.integers(0, 3, size=nl)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": line_order,
            "l_partkey": part_keys[part_idx],
            "l_suppkey": rng.integers(0, SUPPLIERS, size=nl).astype("int64"),
            "l_linenumber": np.tile(
                np.arange(1, LINES_PER_ORDER + 1, dtype="int32"), no
            ),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=nl), 2),
            "l_discount": np.round(rng.integers(0, 11, size=nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=nl) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in flags],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, size=nl)],
            "l_shipdate": _ts_days(order_days[line_order] + rng.integers(1, 122, size=nl)),
        }
    )
    ne = size.events
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, size=ne)) + EVENTS_T0 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": cust_keys[rng.integers(0, nc, size=ne)],
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, size=ne)],
            "value": np.round(rng.exponential(60.0, size=ne), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, size=ne)],
        }
    )
    tables["documents"] = _documents(rng, size.documents)

    manifest = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        manifest[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return manifest
