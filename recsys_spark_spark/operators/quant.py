"""Int8 scalar quantization for embedding search (L3 scale path #3).

At 100 TB the ANN working set is memory/IO-bound: per-vector absmax
int8 quantization cuts vector bytes 4× (float32 → int8) at a ~1e-2
relative dot-product error — the standard first step before IVF/PQ in
production vector stores.  Everything here is JVM column math:

- ``quantize_embeddings``: per-vector scale s = max|x_i| (one
  row-local pass), q_i = floor(127·x_i/s + 0.5) ∈ [−127, 127].  The
  explicit floor(·+0.5) half-up rounding (not engine round()) makes
  the quantization bit-identical across Spark and DuckDB, so the
  whole pipeline is oracle-replayable.
- ``knn_bruteforce_int8``: cosine top-k over the quantized vectors —
  same dimension-exploded join as the float baseline
  (plans/llm.py::embedding_knn_bruteforce), but the dot product runs
  on integers and rescales by sa·sb/127² at the end.  cos(a,b) is
  scale-invariant, so the per-vector scales cancel in the ranking up
  to quantization noise (recall vs the float baseline asserted in
  tests/test_quant.py).

Zero-vector guard: an all-zero vector's absmax scale is clamped to
1e-30 (so the q_i division is well-defined) and it quantizes to all
zeros with norm 0; the similarity expression guards the 0·0
denominator explicitly — ``when(nq·nb = 0, 0.0)`` in Spark and the
matching CASE in the DuckDB twin — so a zero vector scores exactly
0.0 in BOTH engines (never NULL/NaN, never selected) instead of
relying on engine-specific 0/0 and NULL-ordering behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize

Q_MAX = 127


def quantize_embeddings(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, scale DOUBLE, qvec ARRAY<INT>) — per-vector absmax int8."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))), F.lit(1e-30)
    )
    q = F.transform(
        x, lambda v: F.floor(v * Q_MAX / scale + 0.5).cast("int")
    )
    return embs.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        q.alias("qvec"),
    )


def dequantized_embeddings(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, embedding ARRAY<DOUBLE>) reconstructed from the int8
    codes: v̂_i = q_i · scale / 127.

    This is the storage-layer composition point: downstream index
    builds (IVF, LSH) run UNCHANGED on the reconstructed vectors, so a
    100 TB deployment stores 4×-smaller int8 vectors and pays only the
    ~1e-2 relative reconstruction error.  The reconstruction is the
    same IEEE op sequence in both engines (DEQUANT_EMBEDDINGS_CTE), so
    composed pipelines stay oracle-replayable bit-for-bit."""
    qz = quantize_embeddings(embs, vec_col, id_col)
    return qz.select(
        F.col("id").alias(id_col),
        F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale") / float(Q_MAX)
        ).alias(vec_col),
    )


#: DuckDB twin of ``dequantized_embeddings`` over the ``embeddings``
#: view — quantization replay (identical floor half-up) + q·scale/127
#: reconstruction, exposed as a CTE body named ``embeddings_q``.
DEQUANT_EMBEDDINGS_CTE = f"""
embeddings_q AS (
  SELECT id AS vec_id,
         list_transform(qvec, q -> CAST(q AS DOUBLE) * scale / {float(Q_MAX)})
           AS embedding
  FROM (
    SELECT id, scale,
           list_transform(xs, v -> CAST(floor(v * {Q_MAX} / scale + 0.5) AS BIGINT))
             AS qvec
    FROM (
      SELECT vec_id AS id,
             greatest(list_max(list_transform(embedding,
                      v -> abs(CAST(v AS DOUBLE)))), 1e-30) AS scale,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings
    )
  )
)
""".strip()


def knn_bruteforce_int8(
    embs: DataFrame,
    n_queries: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Cosine top-k of the first ``n_queries`` ids against the rest,
    computed on int8-quantized vectors.

    Scale shape = the float baseline's: queries broadcast after the
    dimension explode, base streams once, integer dot products get
    map-side partial aggregation; only the per-query rank window
    shuffles (WindowGroupLimit-pruned).  The int dot stays < 2⁶³
    (127² · dim) — exact integer math in both engines."""
    qz = quantize_embeddings(embs, vec_col, id_col)
    # flat feeds four subtrees (norms used as nq AND nb, the broadcast
    # query side, the base dot side) — persist so one action quantizes
    # and explodes the source once, not ~4x (same multi-consumer
    # discipline as operators/dedup.py's persisted shingles)
    flat = materialize(
        qz.select("id", "scale", F.posexplode("qvec").alias("pos", "qv")),
        owner="quant",
    )
    norms = flat.groupBy("id").agg(
        F.sqrt(F.sum(F.col("qv").cast("bigint") * F.col("qv"))).alias("qnrm")
    )

    qside = flat.where(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), "pos", F.col("qv").alias("q_qv")
    )
    dots = (
        F.broadcast(qside)
        .join(flat.alias("b"), "pos")
        .where(F.col("b.id") != F.col("query_id"))
        .groupBy("query_id", F.col("b.id").alias("match_id"))
        .agg(
            F.sum(
                F.col("q_qv").cast("bigint") * F.col("b.qv").cast("bigint")
            ).alias("qdot")
        )
    )
    nq = norms.select(F.col("id").alias("query_id"), F.col("qnrm").alias("nq"))
    nb = norms.select(F.col("id").alias("match_id"), F.col("qnrm").alias("nb"))
    # zero-norm guard: see module docstring — 0.0, not 0/0
    den = F.col("nq") * F.col("nb")
    sims = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nb, "match_id")
        .select(
            "query_id",
            "match_id",
            qround(
                F.when(den == 0, F.lit(0.0)).otherwise(F.col("qdot") / den), 7
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "match_id", qround("sim", round_to).alias("sim"), "rank"
        )
    )


def knn_int8_sql(n_queries: int, k: int, table: str = "embeddings") -> str:
    """DuckDB twin: replays quantization (identical floor half-up
    rounding) → integer dots → rank."""
    return f"""
WITH x AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM {table}
),
scaled AS (
  SELECT id,
         greatest(list_max(list_transform(xs, v -> abs(v))), 1e-30) AS scale,
         xs
  FROM x
),
qz AS (
  SELECT id,
         list_transform(xs, v -> CAST(floor(v * {Q_MAX} / scale + 0.5) AS BIGINT))
           AS qvec
  FROM scaled
),
flat AS (
  SELECT id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS qv FROM qz
),
norms AS (
  SELECT id, sqrt(CAST(sum(qv * qv) AS DOUBLE)) AS qnrm FROM flat GROUP BY 1
),
dots AS (
  SELECT q.id AS query_id, b.id AS match_id, sum(q.qv * b.qv) AS qdot
  FROM flat q JOIN flat b ON q.pos = b.pos
  WHERE q.id < {n_queries} AND b.id <> q.id
  GROUP BY 1, 2
),
sims AS (
  SELECT d.query_id, d.match_id,
         floor((CASE WHEN nq.qnrm * nb.qnrm = 0 THEN 0.0
                     ELSE CAST(d.qdot AS DOUBLE) / (nq.qnrm * nb.qnrm)
                END) * 10000000.0 + 0.5)
           / 10000000.0 AS sim
  FROM dots d
  JOIN norms nq ON nq.id = d.query_id
  JOIN norms nb ON nb.id = d.match_id
)
SELECT query_id, match_id,
       floor((sim) * 1000000.0 + 0.5) / 1000000.0 AS sim,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT query_id, match_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rk
  FROM sims
) WHERE rk <= {k}
""".strip()
