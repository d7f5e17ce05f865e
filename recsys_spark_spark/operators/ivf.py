"""IVF (inverted-file) approximate nearest-neighbor search
(SURVEY L3 — the second scale path next to sign-LSH in
operators/knn.py).

Classic IVF-Flat: a small coarse quantizer partitions the base
vectors into ``n_cells`` Voronoi cells; a query probes only its
``n_probe`` closest cells and reranks those candidates exactly.  The
reference has no ANN operator (its similarity scans are O(n²) driver
loops, e.g. UserBasedTopKRecommender.scala:47-59); IVF is the
standard 100-TB answer when the embedding space is clustered —
complementary to LSH, which needs no training but can't exploit
cluster structure.

Determinism (so the DuckDB oracle can replay it bit-for-bit):
- coarse-quantizer INIT is data-driven, not RNG: the ``n_cells`` base
  vectors with the smallest md5 hash of their id (`hash60`, the same
  cross-engine primitive operators/dedup.py uses) — reproducible
  under any partitioning, no RNG state;
- ONE batch-Lloyd refinement step (assign → per-cell mean) turns the
  sampled seeds into honest k-means-ish centroids; the mean is a pure
  aggregate, so the oracle replays it;
- every ranking decision (cell assignment argmax, probe selection,
  final top-k) happens on similarities quantized at 7 dp with the
  engine-stable `qround` op sequence, ties broken by cell / id
  ascending.

Scale shape (the part that must survive 1000 executors / 100 TB):
- seed selection is a distributed ``orderBy(hash).limit(n_cells)``
  → TakeOrderedAndProject, NOT a global-sort window;
- centroids are a k×dim numpy array (a few KB) captured by value in
  Arrow-batched pandas UDFs — assignment is one narrow scan per
  Lloyd pass, no shuffle;
- the refinement aggregates via ``mapInPandas`` partial sums: each
  input partition emits ≤ n_cells tiny rows, so the driver collects
  O(n_cells × partitions) rows, never data;
- the probe join shuffles on compact ``cell`` ids and the candidate
  set is |base| · n_probe / n_cells per query, not |base|.

The matmul-per-batch pandas UDF is the documented exception to the
built-ins-first rule: a 16-centroid × 64-dim higher-order-function
expression tree executes interpreted per element (measured ~45 ms/row
for the equivalent 128-plane LSH tree); numpy BLAS is >1000× that.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql
from ..lifecycle import materialize
from .dedup import hash60, hash60_sql
from .knn import _dot, _norm, _vec_double

#: n_cells ≈ √n is the textbook IVF regime; at equal scan fraction a
#: finer quantizer recalls more (measured at sf0.01, 25% scanned:
#: 32 cells/8 probes → 0.61 recall vs 16/4 → 0.49).  At 100 TB n_cells
#: grows with √n — the codebook stays a broadcast-size numpy array.
N_CELLS = 32
N_PROBE = 8
SIM_ROUND = 7


def seed_centroids(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
) -> np.ndarray:
    """The n_cells base vectors with the smallest (hash60(id), id) —
    cell j is the j-th in that order.  Distributed top-N (no global
    sort); only n_cells tiny rows reach the driver."""
    rows = (
        base.select(
            F.col(id_col).alias("_id"),
            _vec_double(F.col(vec_col)).alias("_v"),
            hash60(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(n_cells)
        .collect()
    )
    if len(rows) < n_cells:
        raise ValueError(f"need at least n_cells={n_cells} vectors")
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """+``cell``: argmax cell by 7dp cosine, ties to the lowest cell
    (np.argmax picks the first maximum — matches the oracle's
    ``ORDER BY sim DESC, cell ASC`` rank-1)."""
    from pyspark.sql.pandas.functions import pandas_udf

    C = centroids.copy()

    @pandas_udf("int")
    def bmu(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy()).astype(np.float64)
        xn = np.sqrt((X * X).sum(1))[:, None]
        cn = np.sqrt((C * C).sum(1))[None, :]
        S = np.floor(((X @ C.T) / (xn * cn)) * 1e7 + 0.5) / 1e7
        return pd.Series(np.argmax(S, axis=1).astype("int32"))

    return df.withColumn("cell", bmu(F.col(vec_col)))


def refine_centroids(
    base: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> np.ndarray:
    """One batch-Lloyd step: each cell moves to the mean of its
    members; memberless cells keep their seed.  Partial sums via
    mapInPandas — O(n_cells × partitions) rows to the driver."""
    k, dim = centroids.shape
    assigned = assign_cells(base, centroids, vec_col).select(
        _vec_double(F.col(vec_col)).alias("f"), "cell"
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["f"].to_numpy()).astype(np.float64)
            b = pdf["cell"].to_numpy()
            cells, ns, ss = [], [], []
            for j in np.unique(b):
                m = b == j
                cells.append(int(j))
                ns.append(int(m.sum()))
                ss.append(X[m].sum(0).tolist())
            yield pd.DataFrame({"cell": cells, "n": ns, "s": ss})

    parts = assigned.mapInPandas(
        partials, "cell int, n long, s array<double>"
    ).collect()
    counts = np.zeros(k)
    sums = np.zeros((k, dim))
    for r in parts:
        counts[r["cell"]] += r["n"]
        sums[r["cell"]] += np.array(r["s"])
    out = centroids.copy()
    nz = counts > 0
    out[nz] = sums[nz] / counts[nz, None]
    return out


def probe_cells(
    queries: DataFrame,
    centroids: np.ndarray,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, cell) — each query's n_probe closest cells by 7dp
    cosine, ties to the lowest cell (lexsort: sim desc, cell asc)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = centroids.copy()

    @pandas_udf(ArrayType(IntegerType()))
    def probes(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy()).astype(np.float64)
        xn = np.sqrt((X * X).sum(1))[:, None]
        cn = np.sqrt((C * C).sum(1))[None, :]
        S = np.floor(((X @ C.T) / (xn * cn)) * 1e7 + 0.5) / 1e7
        k = S.shape[1]
        out = []
        for row in S:
            idx = np.lexsort((np.arange(k), -row))[:n_probe]
            out.append([int(i) for i in idx])
        return pd.Series(out)

    return queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probes(F.col(vec_col))).alias("cell"),
    )


def cosine_knn_ivf(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    query_meta_cols: tuple[str, ...] = (),
    match_meta_cols: tuple[str, ...] = (),
    match_predicate=None,
) -> DataFrame:
    """Approximate cosine top-k of each query against ``base`` via
    IVF-Flat.  Returns ``(query_id, match_id, sim, rank)``; ``sim``
    is the EXACT cosine of the probed candidates (like the LSH
    operator, approximation lives only in candidate generation —
    recall, not precision, is probabilistic).

    FILTERED ANN (r11): ``match_predicate`` is a pyspark ``Column``
    over columns ``q_<name>`` (from ``query_meta_cols``, carried onto
    the broadcast probe relation) and ``m_<name>`` (from
    ``match_meta_cols``, carried onto the cell-member relation),
    applied INSIDE the candidate join — disqualified pairs never
    reach the exact-rerank dot product, the filter-aware form every
    production vector store serves (filter-after-ANN returns < k rows
    exactly when the filter bites; over-fetch is the fallback for
    non-pushable predicates — see ``overfetch_k``).  When meta cols
    are requested the output carries them (``q_*`` before ``m_*``);
    the default path emits the historical 4-column grain and an
    unchanged plan."""
    # Index construction makes THREE passes over base (seed top-N,
    # Lloyd partials, member assignment) — cache it so passes 2-3 read
    # columnar blocks instead of re-scanning and re-decoding parquet
    # arrays.  At 100 TB the equivalent is a persisted index build
    # (the cache spills via MEMORY_AND_DISK; plan-identity keying
    # shares it with any other query over the same base this session).
    # NOT spread_scan'd (r14 A/B): the base relation here is vectors,
    # whose TOTAL per-row work at bench scale is small — spreading a
    # 2k-row input to 32 partitions added per-task Arrow/setup fixed
    # costs across the index build's several small jobs and regressed
    # embedding_knn_ivf 2.8 -> 4.7-5.9 s in-bench; at production scale
    # the scan arrives multi-partition anyway.
    base = materialize(base, owner="ivf")  # released by the caller
    c0 = seed_centroids(base, id_col, vec_col, n_cells)
    c1 = refine_centroids(base, c0, vec_col)

    members = assign_cells(base, c1, vec_col).select(
        F.col(id_col).alias("match_id"),
        *[F.col(c).alias(f"m_{c}") for c in match_meta_cols],
        "cell",
        _vec_double(F.col(vec_col)).alias("bv"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    probes = probe_cells(queries, c1, n_probe, id_col, vec_col)
    if query_meta_cols:
        # probe relation stays broadcast-tiny: |queries| × n_probe rows
        # plus a few scalar meta columns
        q_meta = queries.select(
            F.col(id_col).alias("query_id"),
            *[F.col(c).alias(f"q_{c}") for c in query_meta_cols],
        )
        probes = probes.join(q_meta, "query_id")
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        _vec_double(F.col(vec_col)).alias("qv"),
        _norm(F.col(vec_col)).alias("nq"),
    )
    meta_cols = [f"q_{c}" for c in query_meta_cols] + [
        f"m_{c}" for c in match_meta_cols
    ]
    cand = (
        F.broadcast(probes)
        .join(members, "cell")
        .where(F.col("match_id") != F.col("query_id"))
    )
    if match_predicate is not None:
        # the filter-aware step: applied with the candidate join, so
        # Catalyst folds it into the join filter and wrong-meta pairs
        # never reach the rerank dot product
        cand = cand.where(match_predicate)
    sims = cand.join(F.broadcast(q_vec), "query_id").select(
        "query_id",
        "match_id",
        *meta_cols,
        # zero-vector cosine pinned to 0.0 in both engines (see
        # operators/knn.py)
        qround(
            F.when(F.col("nq") * F.col("nb") == 0.0, 0.0).otherwise(
                _dot(F.col("qv"), F.col("bv")) / (F.col("nq") * F.col("nb"))
            ),
            SIM_ROUND,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "match_id",
            *meta_cols,
            qround("sim", 6).alias("sim"),
            "rank",
        )
    )


def overfetch_k(k: int, selectivity: float) -> int:
    """Over-fetch depth k' = ceil(k / selectivity) for predicates the
    index cannot push (e.g. a predicate over a column the candidate
    relations don't carry, or a per-pair UDF): fetch k' unfiltered
    neighbors, post-filter, truncate to k.  ``selectivity`` is the
    expected pass fraction of the predicate among near neighbors —
    at uniform label frequency f the different-label selectivity is
    1 − f.  Documented fallback of the filter-aware route
    (plans/ann.py::embedding_hard_negatives docstring); the pushed
    predicate is strictly better when available because over-fetch
    still returns < k rows whenever the local pass rate dips below
    k/k' (tested in tests/test_r11_queries.py)."""
    import math

    if not 0.0 < selectivity <= 1.0:
        raise ValueError(f"selectivity must be in (0, 1], got {selectivity}")
    return int(math.ceil(k / selectivity))


def knn_ivf_oracle_sql(
    n_queries: int,
    k: int,
    dim: int,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    table: str = "embeddings",
    prelude_ctes: str = "",
    exclude_same: str | None = None,
) -> str:
    """DuckDB twin of ``cosine_knn_ivf`` over the ``table`` view
    (default ``embeddings``): replays hash-seeded init → one Lloyd
    step → probe → exact rerank with the identical 7dp quantization at
    every ranking decision.  ``prelude_ctes`` (e.g. the int8
    dequantization CTE) is spliced ahead of the pipeline so composed
    sources replay inside the same WITH chain.

    ``exclude_same`` (r11, the filtered-ANN twin): when set to a meta
    column name, the candidate CTE joins ``table`` on both sides and
    drops candidates sharing the query's value BEFORE the exact
    rerank — mirroring the Spark side's ``match_predicate`` landing
    inside the candidate join — and the output gains
    ``query_<col>`` / ``match_<col>``."""
    q7 = lambda e: qround_sql(e, 7)  # noqa: E731
    prelude = f"{prelude_ctes},\n" if prelude_ctes else ""
    if exclude_same:
        c = exclude_same
        meta_sel = f", qm.{c} AS query_{c}, bm.{c} AS match_{c}"
        meta_joins = (
            f"\n  JOIN {table} qm ON qm.vec_id = p.query_id"
            f"\n  JOIN {table} bm ON bm.vec_id = a.vec_id"
        )
        meta_pred = f" AND bm.{c} <> qm.{c}"
        meta_group = f", query_{c}, match_{c}"
        meta_out = f", query_{c}, match_{c}"
    else:
        meta_sel = meta_joins = meta_pred = meta_group = meta_out = ""
    return f"""
WITH {prelude}flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {table}
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY 1),
seeds AS (
  SELECT vec_id AS sid, row_number() OVER (
           ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
         ) - 1 AS cell
  FROM {table}
  ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {n_cells}
),
c0 AS (
  SELECT s.cell, f.j, f.v AS w
  FROM seeds s JOIN flat f ON f.vec_id = s.sid
),
c0n AS (SELECT cell, sqrt(sum(w * w)) AS cn FROM c0 GROUP BY 1),
d0 AS (
  SELECT f.vec_id, c.cell,
         {q7("sum(f.v * c.w) / (any_value(n.nrm) * any_value(cn.cn))")} AS sim
  FROM flat f
  JOIN c0 c ON c.j = f.j
  JOIN norms n ON n.vec_id = f.vec_id
  JOIN c0n cn ON cn.cell = c.cell
  GROUP BY 1, 2
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM d0
  ) WHERE rn = 1
),
c1m AS (
  SELECT a.cell, f.j, avg(f.v) AS w
  FROM a0 a JOIN flat f ON f.vec_id = a.vec_id
  GROUP BY 1, 2
),
c1 AS (
  SELECT c0.cell, c0.j, coalesce(m.w, c0.w) AS w
  FROM c0 LEFT JOIN c1m m ON m.cell = c0.cell AND m.j = c0.j
),
c1n AS (SELECT cell, sqrt(sum(w * w)) AS cn FROM c1 GROUP BY 1),
d1 AS (
  SELECT f.vec_id, c.cell,
         {q7("sum(f.v * c.w) / (any_value(n.nrm) * any_value(cn.cn))")} AS sim
  FROM flat f
  JOIN c1 c ON c.j = f.j
  JOIN norms n ON n.vec_id = f.vec_id
  JOIN c1n cn ON cn.cell = c.cell
  GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM d1
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM d1 WHERE vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT DISTINCT p.query_id{meta_sel}, a.vec_id AS match_id
  FROM probe p JOIN a1 a ON a.cell = p.cell{meta_joins}
  WHERE a.vec_id <> p.query_id{meta_pred}
),
pdots AS (
  SELECT c.query_id, c.match_id{meta_group}, sum(q.v * b.v) AS dot
  FROM cand c
  JOIN flat q ON q.vec_id = c.query_id
  JOIN flat b ON b.vec_id = c.match_id AND b.j = q.j
  GROUP BY ALL
),
sims AS (
  SELECT p.query_id, p.match_id{meta_group},
         {q7("CASE WHEN nq.nrm * nb.nrm = 0.0 THEN 0.0 "
             "ELSE p.dot / (nq.nrm * nb.nrm) END")} AS sim
  FROM pdots p
  JOIN norms nq ON nq.vec_id = p.query_id
  JOIN norms nb ON nb.vec_id = p.match_id
)
SELECT query_id, match_id{meta_out},
       {qround_sql("sim", 6)} AS sim,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT query_id, match_id{meta_group}, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rk
  FROM sims
) WHERE rk <= {k}
""".strip()
