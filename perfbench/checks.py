"""Output checks: every op's result against a reference for its seed.

A result is reduced to an order-insensitive digest: its row count and
a SHA-1 over its rows sorted after normalization (columns by name,
floats printed at 6 decimals, as the engine's oracle tests compare).  Where the
engine's registry carries a DuckDB oracle for the computation, the
reference digest comes from running that oracle on the same generated
inputs, once per seed before the timed pass.  Otherwise the reference
is pinned per seed in ``pinned.json`` beside this file.  Pins hold only
for the CPU count they were made with (ALS and the SOM split their work
by the session's parallelism, and float sums follow the split); for a
seed or CPU count without a pin, only the op's shape rule is checked.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
TABLES = ("orders", "lineitem", "events", "documents")


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "tolist"):  # numpy arrays / scalars
        return _cell(v.tolist())
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(rows, sha1) of a pandas frame, independent of row and column order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha1("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


def load_pins(workload: str, seed: int, cpus: int) -> dict:
    """The digests pinned for ``seed``, if they were made with ``cpus``."""
    try:
        with open(PINNED_PATH) as f:
            pins = json.load(f)
    except FileNotFoundError:
        return {}
    if pins.get("cpus") != cpus:
        return {}
    return pins.get(workload, {}).get(str(seed), {})


def topk_shape(pdf) -> list[int]:
    """[rows, users, lowest rank, highest rank] of a per-user top-k."""
    if len(pdf) == 0:
        return [0, 0, 0, 0]
    return [len(pdf), int(pdf["user_id"].nunique()), int(pdf["rank"].min()), int(pdf["rank"].max())]


def _oracle_sql(name: str) -> str:
    from recsys_spark_spark.plans import registry

    registry.all_queries()  # imports every plans module, registering its oracles
    return registry.oracle_of(name)


class Oracles:
    """DuckDB over one generated input directory."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def query(self, sql: str):
        return self.con.sql(sql).df()

    def registry(self, name: str) -> tuple[int, str]:
        return digest(self.query(_oracle_sql(name)))

    def fold_reference(self, fold: int, n_folds: int, relevant_min: float, k: int):
        """Reference for one CV fold: the registry's hybrid top-k oracle
        run over the fold's train side, and the fold's ranking summary.

        The oracle derives ratings from ``orders`` x ``lineitem``; a
        fold is a function of (customer, part), so filtering line items
        by fold filters whole ratings."""
        from recsys_spark_spark.metrics.evaluation import (
            ap_coefficient,
            dcg_coefficient,
            idcg,
        )
        con = self.con
        bucket = "(o.o_custkey + l.l_partkey) % {n}"
        con.sql(
            "CREATE OR REPLACE TEMP VIEW lineitem_fold AS SELECT l.* FROM lineitem l "
            "JOIN orders o ON o.o_orderkey = l.l_orderkey "
            f"WHERE {bucket.format(n=n_folds)} <> {fold}"
        )
        sql = _oracle_sql("hybrid_topk")
        if " lineitem l" not in sql:
            raise RuntimeError("hybrid_topk oracle no longer reads lineitem as `l`")
        sql = sql.replace(" lineitem l", " lineitem_fold l")
        top = con.sql(sql).df()
        relevant = con.sql(
            "SELECT o.o_custkey AS user_id, l.l_partkey AS item_id "
            "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            f"WHERE {bucket.format(n=n_folds)} = {fold} "
            f"GROUP BY 1, 2 HAVING avg(l.l_quantity) >= {relevant_min}"
        ).df()
        rel: dict[int, set] = {}
        for u, i in relevant.itertuples(index=False):
            rel.setdefault(int(u), set()).add(int(i))
        recs: dict[int, list] = {}
        for u, i, r in top[["user_id", "item_id", "rank"]].itertuples(index=False):
            recs.setdefault(int(u), []).append((int(r), int(i)))
        users = set(rel) | set(recs)
        sums = [0.0] * 5
        for u in users:
            hits = sorted(r for r, i in recs.get(u, []) if i in rel.get(u, ()))
            n_rel = len(rel.get(u, ()))
            sums[0] += len(hits) / k
            sums[1] += len(hits) / n_rel if n_rel else 0.0
            sums[2] += sum(ap_coefficient(k, r) for r in hits) / k
            sums[3] += (sum(dcg_coefficient(r) for r in hits) / idcg(k, min(n_rel, k))) if n_rel else 0.0
            sums[4] += 1.0 / hits[0] if hits else 0.0
        n = len(users)
        summary = [round(s / n, 6) for s in sums] + [n]
        return digest(top), summary
