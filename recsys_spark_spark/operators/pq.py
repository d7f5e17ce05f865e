"""Product-quantization ANN (SURVEY L3 — the memory-frontier scale
path next to sign-LSH, IVF-Flat and int8).

Classic PQ (Jégou, Douze, Schmid 2011, "Product quantization for
nearest neighbor search"): split each (unit-normalized) vector into
``M_SUB`` subvectors, learn a tiny ``K_CODES``-entry codebook per
subspace, store each vector as M code ids (M bytes at K ≤ 256 —
a 64-dim float32 vector compresses 256 B → 8 B, 32×; int8
(operators/quant.py) only gives 4×).  A query scores the ENTIRE
encoded base through per-subspace lookup tables (ADC — asymmetric
distance computation: exact query subvector vs code centroid), takes
a shortlist by approximate distance, and reranks the shortlist with
the exact cosine — so like every ANN operator in this package, the
returned similarities are TRUE values and only recall is
approximate.

Determinism (the IVF recipe, operators/ivf.py, applied per
subspace so the DuckDB oracle replays training bit-for-bit):
- codebook INIT is data-driven, not RNG: the ``K_CODES`` base vectors
  with the smallest (hash60(id), id) — the SAME seed set for every
  subspace, sliced per subspace;
- ONE batch-Lloyd refinement per subspace (assign → per-code mean of
  unit subvectors; empty codes keep their seed);
- every ranking decision (code assignment argmin, ADC shortlist,
  final top-k) happens on values quantized at 7 dp with the
  engine-stable qround op sequence, ties broken by code / id
  ascending.  ADC table entries are quantized BEFORE the M-term sum
  and the sum is quantized again, so both engines add identical
  doubles in the same order (subspace index ascending).

Scale shape:
- training collects O(M × K × sub_dim) floats (≤ a few KB) via
  mapInPandas partial sums — each input partition emits ≤ M × K tiny
  rows, never data;
- the codebook broadcasts by value inside Arrow-batched UDFs;
- encoding is one narrow scan (n × M small-int codes);
- the ADC scan is mapInPandas over the ENCODED base only (M bytes a
  vector, the point of PQ) with a per-partition top-R cut per query,
  so the global shortlist shuffle is O(partitions × queries × R)
  rows, never O(n);
- exact rerank touches only shortlist × full vectors (a match_id
  equi-join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize
from .ivf import seed_centroids
from .knn import _dot, _norm, _vec_double

#: 16 subspaces × 32 codes = 80 bits (10 B) per 64-dim vector — a 25×
#: cut vs float32 (int8 gives 4×).  Sweep at sf0.01 (recall@5 vs
#: brute force, rerank 6k unless noted): 8×16 → 0.49; 16×16 → 0.73;
#: 16×32 → 0.86 (0.96 at rerank 10k); 32×16 → 0.92; 32×32 → 0.98 at
#: only 12.8× compression.  16×32 + rerank 10k is the chosen
#: frontier point: 0.96 recall at the deepest compression.
M_SUB = 16
K_CODES = 32
SIM_ROUND = 7
#: exact-rerank shortlist depth as a multiple of k (absorbs ADC
#: quantization error; recall measured in tests/test_pq.py)
RERANK_FACTOR = 10


def _unit(X: np.ndarray) -> np.ndarray:
    """Rows scaled to unit length; zero rows stay zero (the package's
    zero-vector convention — cosine pinned to 0, knn.py)."""
    n = np.sqrt((X * X).sum(1))
    n[n == 0] = 1.0
    return X / n[:, None]


def _q7(x: np.ndarray) -> np.ndarray:
    """NumPy twin of qround(·, 7) — same IEEE op sequence."""
    return np.floor(x * 1e7 + 0.5) / 1e7


def _assign_codes(U: np.ndarray, C: np.ndarray) -> np.ndarray:
    """n × M code matrix: per subspace, argmin of the 7dp-quantized
    squared L2 to each code centroid (ties → smallest code, which is
    what argmin returns on the first minimum)."""
    m_sub, k, sub = C.shape
    n = U.shape[0]
    codes = np.empty((n, m_sub), dtype=np.int32)
    for m in range(m_sub):
        um = U[:, m * sub : (m + 1) * sub]
        d = _q7(
            ((um[:, None, :] - C[m][None, :, :]) ** 2).sum(2)
        )  # n × k
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def train_codebooks(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = M_SUB,
    k_codes: int = K_CODES,
) -> np.ndarray:
    """(m_sub, k_codes, sub_dim) codebook: hash-seeded init + one
    distributed Lloyd step per subspace (docstring above).  Driver
    state is O(M × K × sub_dim) — partial sums, never vectors."""
    seeds = seed_centroids(base, id_col, vec_col, n_cells=k_codes)
    dim = seeds.shape[1]
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub = dim // m_sub
    C0 = _unit(seeds).reshape(k_codes, m_sub, sub).transpose(1, 0, 2).copy()

    # one Lloyd step: per-partition (m, code) partial sums of unit
    # subvectors — self-contained UDF body (vanilla-session rule)
    def partials(batches):
        for pdf in batches:
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            n = np.sqrt((X * X).sum(1))
            n[n == 0] = 1.0
            U = X / n[:, None]
            out_m, out_c, out_s, out_n = [], [], [], []
            for m in range(m_sub):
                um = U[:, m * sub : (m + 1) * sub]
                d = np.floor(
                    ((um[:, None, :] - C0[m][None, :, :]) ** 2).sum(2) * 1e7
                    + 0.5
                ) / 1e7
                code = np.argmin(d, axis=1)
                for c in range(k_codes):
                    mask = code == c
                    if mask.any():
                        out_m.append(m)
                        out_c.append(c)
                        out_s.append(um[mask].sum(0))
                        out_n.append(int(mask.sum()))
            yield pd.DataFrame(
                {"m": out_m, "code": out_c, "s": out_s, "n": out_n}
            )

    rows = (
        base.select(_vec_double(F.col(vec_col)).alias("_v"))
        .mapInPandas(partials, "m int, code int, s array<double>, n long")
        .groupBy("m", "code")
        .agg(
            F.array(
                *[F.sum(F.col("s")[j]) for j in range(sub)]
            ).alias("s"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    C1 = C0.copy()
    for r in rows:
        if r["n"]:
            C1[r["m"], r["code"]] = np.array(r["s"]) / r["n"]
    return C1


def encode_base(
    base: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — M small-int codes per vector; one
    narrow Arrow-batched scan, no shuffle."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = codebooks
    m_sub, k_codes, sub = C.shape

    @pandas_udf(ArrayType(IntegerType()))
    def enc(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy()).astype(np.float64)
        n = np.sqrt((X * X).sum(1))
        n[n == 0] = 1.0
        U = X / n[:, None]
        codes = np.empty((len(U), m_sub), dtype=np.int32)
        for m in range(m_sub):
            um = U[:, m * sub : (m + 1) * sub]
            d = np.floor(
                ((um[:, None, :] - C[m][None, :, :]) ** 2).sum(2) * 1e7 + 0.5
            ) / 1e7
            codes[:, m] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return base.select(F.col(id_col).alias("match_id"), enc(F.col(vec_col)).alias("codes"))


def cosine_knn_pq(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = M_SUB,
    k_codes: int = K_CODES,
    rerank_factor: int = RERANK_FACTOR,
) -> DataFrame:
    """Approximate cosine top-k via PQ/ADC + exact rerank.  Returns
    ``(query_id, match_id, sim, rank)`` — sim is the EXACT cosine of
    the shortlisted candidates (module docstring)."""
    base = materialize(base, owner="pq")  # released by the caller
    C = train_codebooks(base, id_col, vec_col, m_sub, k_codes)
    m_local, k_local, sub = C.shape
    encoded = encode_base(base, C, id_col, vec_col)

    # query LUTs: per (query, subspace) the 7dp-quantized squared L2
    # to every code centroid — O(queries × M × K) doubles, broadcast
    # by value into the ADC scan
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _vec_double(F.col(vec_col)).alias("_v"),
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = _unit(np.stack([np.array(r["_v"]) for r in q_rows]))
    lut = np.empty((len(q_ids), m_local, k_local), dtype=np.float64)
    for m in range(m_local):
        qm = Q[:, m * sub : (m + 1) * sub]
        lut[:, m, :] = _q7(((qm[:, None, :] - C[m][None, :, :]) ** 2).sum(2))
    r_depth = k * rerank_factor

    # ADC scan over the ENCODED base with a per-partition top-R cut:
    # each partition emits ≤ queries × R rows (self-contained body)
    def adc(batches):
        for pdf in batches:
            ids = pdf["match_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy())  # n × M
            # dist[q, i] = Σ_m lut[q, m, codes[i, m]]  (gather + sum)
            d = np.zeros((len(q_ids), len(ids)), dtype=np.float64)
            for m in range(m_local):
                d += lut[:, m, :][:, codes[:, m]]
            d = np.floor(d * 1e7 + 0.5) / 1e7
            out_q, out_i, out_d = [], [], []
            for qi in range(len(q_ids)):
                row = d[qi]
                # deterministic partial top-R by (dist, id): a full
                # lexsort, NOT argpartition — argpartition breaks
                # dist-ties arbitrarily at the cut boundary, which
                # would make the emitted set depend on partitioning.
                # The SELF row must be excluded BEFORE the cut: it
                # would otherwise burn one of this partition's R
                # slots and silently drop the true R-th neighbor
                # (per-partition-topR ∪ … ⊇ global-topR only holds
                # when both sides apply the same filter).
                order = np.lexsort((ids, row))
                order = order[ids[order] != q_ids[qi]][:r_depth]
                out_q.extend([q_ids[qi]] * len(order))
                out_i.extend(ids[order])
                out_d.extend(row[order])
            yield pd.DataFrame(
                {"query_id": out_q, "match_id": out_i, "approx": out_d}
            )

    shortlist_partial = encoded.mapInPandas(
        adc, "query_id long, match_id long, approx double"
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("approx"), F.asc("match_id")
    )
    shortlist = (
        shortlist_partial.where(F.col("match_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= r_depth)
        .select("query_id", "match_id")
    )

    b_vec = base.select(
        F.col(id_col).alias("match_id"),
        _vec_double(F.col(vec_col)).alias("bv"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        _vec_double(F.col(vec_col)).alias("qv"),
        _norm(F.col(vec_col)).alias("nq"),
    )
    sims = (
        shortlist.join(b_vec, "match_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "match_id",
            qround(
                F.when(F.col("nq") * F.col("nb") == 0.0, 0.0).otherwise(
                    _dot(F.col("qv"), F.col("bv")) / (F.col("nq") * F.col("nb"))
                ),
                SIM_ROUND,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", qround("sim", 6).alias("sim"), "rank")
    )


def knn_pq_oracle_sql(
    n_queries: int,
    k: int,
    dim: int,
    m_sub: int = M_SUB,
    k_codes: int = K_CODES,
    rerank_factor: int = RERANK_FACTOR,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``cosine_knn_pq``: replays hash-seeded init →
    one Lloyd step per subspace → encoding → ADC shortlist → exact
    rerank with the identical 7dp quantization at every ranking
    decision (the IVF oracle's structure, per subspace).  The M-term
    ADC sum is aggregated unordered here vs subspace-ascending on the
    Spark side — the same last-ulp class the 7dp grid absorbs
    everywhere else in the package (registry.py header)."""
    from ..functions.rounding import qround_sql
    from .dedup import hash60_sql

    q7 = lambda e: qround_sql(e, 7)  # noqa: E731
    sub = dim // m_sub
    r_depth = k * rerank_factor
    return f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {table}
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY 1),
u AS (
  SELECT f.vec_id, f.j, CAST(f.j // {sub} AS INTEGER) AS m,
         CASE WHEN n.nrm = 0 THEN 0.0 ELSE f.v / n.nrm END AS u
  FROM flat f JOIN norms n ON n.vec_id = f.vec_id
),
seeds AS (
  SELECT vec_id AS sid, row_number() OVER (
           ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
         ) - 1 AS code
  FROM {table}
  ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {k_codes}
),
c0 AS (
  SELECT u.m, s.code, u.j, u.u AS w
  FROM seeds s JOIN u ON u.vec_id = s.sid
),
d0 AS (
  SELECT u.vec_id, u.m, c.code, {q7("sum((u.u - c.w) * (u.u - c.w))")} AS dist
  FROM u JOIN c0 c ON c.m = u.m AND c.j = u.j
  GROUP BY 1, 2, 3
),
a0 AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM d0
  ) WHERE rn = 1
),
c1m AS (
  SELECT a.m, a.code, u.j, avg(u.u) AS w
  FROM a0 a JOIN u ON u.vec_id = a.vec_id AND u.m = a.m
  GROUP BY 1, 2, 3
),
c1 AS (
  SELECT c0.m, c0.code, c0.j, coalesce(m1.w, c0.w) AS w
  FROM c0 LEFT JOIN c1m m1
    ON m1.m = c0.m AND m1.code = c0.code AND m1.j = c0.j
),
d1 AS (
  SELECT u.vec_id, u.m, c.code, {q7("sum((u.u - c.w) * (u.u - c.w))")} AS dist
  FROM u JOIN c1 c ON c.m = u.m AND c.j = u.j
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM d1
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, m, code, dist FROM d1 WHERE vec_id < {n_queries}
),
approx AS (
  SELECT l.query_id, e.vec_id AS match_id, {q7("sum(l.dist)")} AS approx
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id, row_number() OVER (
             PARTITION BY query_id ORDER BY approx ASC, match_id ASC) AS rn
    FROM approx
  ) WHERE rn <= {r_depth}
),
pdots AS (
  SELECT s.query_id, s.match_id, sum(q.v * b.v) AS dot
  FROM shortlist s
  JOIN flat q ON q.vec_id = s.query_id
  JOIN flat b ON b.vec_id = s.match_id AND b.j = q.j
  GROUP BY 1, 2
),
sims AS (
  SELECT p.query_id, p.match_id,
         {q7("CASE WHEN nq.nrm * nb.nrm = 0.0 THEN 0.0 "
             "ELSE p.dot / (nq.nrm * nb.nrm) END")} AS sim
  FROM pdots p
  JOIN norms nq ON nq.vec_id = p.query_id
  JOIN norms nb ON nb.vec_id = p.match_id
)
SELECT query_id, match_id,
       {qround_sql("sim", 6)} AS sim,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT query_id, match_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rk
  FROM sims
) WHERE rk <= {k}
""".strip()


def cosine_knn_ivfpq(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int | None = None,
    m_sub: int = M_SUB,
    k_codes: int = K_CODES,
    rerank_factor: int = RERANK_FACTOR,
) -> DataFrame:
    """IVF-PQ — the billion-scale composition (FAISS's workhorse
    index shape): the IVF coarse quantizer prunes each query to its
    ``n_probe`` closest cells, the candidate members are scored
    through the PQ lookup tables (ADC over 80-bit codes — the full
    vectors of probed cells are never touched), and the top-R
    shortlist is reranked with the exact cosine.  Both approximations
    compose on RECALL only: every returned similarity is a true
    cosine.

    vs plain IVF: the probe-join candidate relation carries M
    small-int codes instead of dim floats (the memory/IO win that
    matters when a probed cell is millions of vectors).
    vs plain PQ: the ADC scan touches |base|·n_probe/n_cells codes
    per query instead of all of them.

    Shares every deterministic ingredient with its parents
    (hash-seeded inits, one Lloyd step each, 7dp decisions), so the
    full composition is oracle-replayable."""
    from .ivf import N_CELLS, N_PROBE, assign_cells, probe_cells, refine_centroids

    n_cells = N_CELLS if n_cells is None else n_cells
    n_probe = N_PROBE if n_probe is None else n_probe
    base = materialize(base, owner="pq")  # released by the caller
    # coarse quantizer (IVF recipe)
    cc0 = seed_centroids(base, id_col, vec_col, n_cells)
    cc1 = refine_centroids(base, cc0, vec_col)
    members = assign_cells(base, cc1, vec_col).select(
        F.col(id_col).alias("match_id"), "cell"
    )
    probes = probe_cells(queries, cc1, n_probe, id_col, vec_col)

    # PQ codebook + encoding (global unit-vector codebooks — the
    # residual-encoding refinement is a documented non-goal: it would
    # need one codebook chain per cell in the oracle)
    C = train_codebooks(base, id_col, vec_col, m_sub, k_codes)
    m_local, k_local, sub = C.shape
    encoded = encode_base(base, C, id_col, vec_col).join(members, "match_id")

    # query LUTs (same construction as cosine_knn_pq)
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _vec_double(F.col(vec_col)).alias("_v"),
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = _unit(np.stack([np.array(r["_v"]) for r in q_rows]))
    lut = np.empty((len(q_ids), m_local, k_local), dtype=np.float64)
    for m in range(m_local):
        qm = Q[:, m * sub : (m + 1) * sub]
        lut[:, m, :] = _q7(((qm[:, None, :] - C[m][None, :, :]) ** 2).sum(2))
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    r_depth = k * rerank_factor

    # candidate relation: probed cells only, codes not vectors
    cand = (
        F.broadcast(probes)
        .join(encoded, "cell")
        .where(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", "codes")
    )

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def adc_dist(qs: pd.Series, codes: pd.Series) -> pd.Series:
        qi = np.array([qpos[int(x)] for x in qs], dtype=np.int64)
        cm = np.stack(codes.to_numpy())  # n × M
        d = np.zeros(len(qi), dtype=np.float64)
        for m in range(m_local):
            d += lut[qi, m, cm[:, m]]
        return pd.Series(np.floor(d * 1e7 + 0.5) / 1e7)

    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("approx"), F.asc("match_id")
    )
    shortlist = (
        cand.withColumn("approx", adc_dist(F.col("query_id"), F.col("codes")))
        .withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= r_depth)
        .select("query_id", "match_id")
    )

    b_vec = base.select(
        F.col(id_col).alias("match_id"),
        _vec_double(F.col(vec_col)).alias("bv"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        _vec_double(F.col(vec_col)).alias("qv"),
        _norm(F.col(vec_col)).alias("nq"),
    )
    sims = (
        shortlist.join(b_vec, "match_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "match_id",
            qround(
                F.when(F.col("nq") * F.col("nb") == 0.0, 0.0).otherwise(
                    _dot(F.col("qv"), F.col("bv")) / (F.col("nq") * F.col("nb"))
                ),
                SIM_ROUND,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", qround("sim", 6).alias("sim"), "rank")
    )


def knn_ivfpq_oracle_sql(
    n_queries: int,
    k: int,
    dim: int,
    n_cells: int | None = None,
    n_probe: int | None = None,
    m_sub: int = M_SUB,
    k_codes: int = K_CODES,
    rerank_factor: int = RERANK_FACTOR,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``cosine_knn_ivfpq`` — the IVF oracle's coarse
    chain (g-prefixed CTEs) composed with the PQ oracle's codebook
    chain (p-prefixed), candidates restricted to probed cells before
    the ADC sum."""
    from ..functions.rounding import qround_sql
    from .dedup import hash60_sql
    from .ivf import N_CELLS, N_PROBE

    n_cells = N_CELLS if n_cells is None else n_cells
    n_probe = N_PROBE if n_probe is None else n_probe
    q7 = lambda e: qround_sql(e, 7)  # noqa: E731
    sub = dim // m_sub
    r_depth = k * rerank_factor
    return f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {table}
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY 1),
gseeds AS (
  SELECT vec_id AS sid, row_number() OVER (
           ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
         ) - 1 AS cell
  FROM {table}
  ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {n_cells}
),
gc0 AS (
  SELECT s.cell, f.j, f.v AS w
  FROM gseeds s JOIN flat f ON f.vec_id = s.sid
),
gc0n AS (SELECT cell, sqrt(sum(w * w)) AS cn FROM gc0 GROUP BY 1),
gd0 AS (
  SELECT f.vec_id, c.cell,
         {q7("sum(f.v * c.w) / (any_value(n.nrm) * any_value(cn.cn))")} AS sim
  FROM flat f
  JOIN gc0 c ON c.j = f.j
  JOIN norms n ON n.vec_id = f.vec_id
  JOIN gc0n cn ON cn.cell = c.cell
  GROUP BY 1, 2
),
ga0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM gd0
  ) WHERE rn = 1
),
gc1m AS (
  SELECT a.cell, f.j, avg(f.v) AS w
  FROM ga0 a JOIN flat f ON f.vec_id = a.vec_id
  GROUP BY 1, 2
),
gc1 AS (
  SELECT gc0.cell, gc0.j, coalesce(m.w, gc0.w) AS w
  FROM gc0 LEFT JOIN gc1m m ON m.cell = gc0.cell AND m.j = gc0.j
),
gc1n AS (SELECT cell, sqrt(sum(w * w)) AS cn FROM gc1 GROUP BY 1),
gd1 AS (
  SELECT f.vec_id, c.cell,
         {q7("sum(f.v * c.w) / (any_value(n.nrm) * any_value(cn.cn))")} AS sim
  FROM flat f
  JOIN gc1 c ON c.j = f.j
  JOIN norms n ON n.vec_id = f.vec_id
  JOIN gc1n cn ON cn.cell = c.cell
  GROUP BY 1, 2
),
ga1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM gd1
  ) WHERE rn = 1
),
gprobe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM gd1 WHERE vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
u AS (
  SELECT f.vec_id, f.j, CAST(f.j // {sub} AS INTEGER) AS m,
         CASE WHEN n.nrm = 0 THEN 0.0 ELSE f.v / n.nrm END AS u
  FROM flat f JOIN norms n ON n.vec_id = f.vec_id
),
pseeds AS (
  SELECT vec_id AS sid, row_number() OVER (
           ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
         ) - 1 AS code
  FROM {table}
  ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {k_codes}
),
pc0 AS (
  SELECT u.m, s.code, u.j, u.u AS w
  FROM pseeds s JOIN u ON u.vec_id = s.sid
),
pd0 AS (
  SELECT u.vec_id, u.m, c.code, {q7("sum((u.u - c.w) * (u.u - c.w))")} AS dist
  FROM u JOIN pc0 c ON c.m = u.m AND c.j = u.j
  GROUP BY 1, 2, 3
),
pa0 AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM pd0
  ) WHERE rn = 1
),
pc1m AS (
  SELECT a.m, a.code, u.j, avg(u.u) AS w
  FROM pa0 a JOIN u ON u.vec_id = a.vec_id AND u.m = a.m
  GROUP BY 1, 2, 3
),
pc1 AS (
  SELECT pc0.m, pc0.code, pc0.j, coalesce(m1.w, pc0.w) AS w
  FROM pc0 LEFT JOIN pc1m m1
    ON m1.m = pc0.m AND m1.code = pc0.code AND m1.j = pc0.j
),
pd1 AS (
  SELECT u.vec_id, u.m, c.code, {q7("sum((u.u - c.w) * (u.u - c.w))")} AS dist
  FROM u JOIN pc1 c ON c.m = u.m AND c.j = u.j
  GROUP BY 1, 2, 3
),
penc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM pd1
  ) WHERE rn = 1
),
plut AS (
  SELECT vec_id AS query_id, m, code, dist FROM pd1
  WHERE vec_id < {n_queries}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS match_id
  FROM gprobe p JOIN ga1 a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
approx AS (
  SELECT c.query_id, c.match_id, {q7("sum(l.dist)")} AS approx
  FROM cand c
  JOIN penc e ON e.vec_id = c.match_id
  JOIN plut l ON l.query_id = c.query_id AND l.m = e.m AND l.code = e.code
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id, row_number() OVER (
             PARTITION BY query_id ORDER BY approx ASC, match_id ASC) AS rn
    FROM approx
  ) WHERE rn <= {r_depth}
),
pdots AS (
  SELECT s.query_id, s.match_id, sum(q.v * b.v) AS dot
  FROM shortlist s
  JOIN flat q ON q.vec_id = s.query_id
  JOIN flat b ON b.vec_id = s.match_id AND b.j = q.j
  GROUP BY 1, 2
),
sims AS (
  SELECT p.query_id, p.match_id,
         {q7("CASE WHEN nq.nrm * nb.nrm = 0.0 THEN 0.0 "
             "ELSE p.dot / (nq.nrm * nb.nrm) END")} AS sim
  FROM pdots p
  JOIN norms nq ON nq.vec_id = p.query_id
  JOIN norms nb ON nb.vec_id = p.match_id
)
SELECT query_id, match_id,
       {qround_sql("sim", 6)} AS sim,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT query_id, match_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rk
  FROM sims
) WHERE rk <= {k}
""".strip()
