"""Recommender queries with DuckDB oracles (SURVEY §2.8-2.9).

The ratings "matrix" is the recommender-shaped projection of the star
schema (FIXTURES.md §B): ``(o_custkey, l_partkey, avg(l_quantity))``
from orders ⋈ lineitem as ``(user_id, item_id, rating)``.

The oracle SQL is *generated* from the same kernel formulas the Spark
side uses (functions/similarity.py) so the two engines state the same
math; both round similarities to 7 dp (SIM_ROUND; the 10000000.0
factors in the SQL) BEFORE any ranking and scores to 6 dp before
output, making top-k boundaries stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..functions.similarity import pairwise_similarity
from ..lifecycle import materialize
from ..operators.dedup import hash60_sql
from ..phases import phase
from ..recommenders.neighborhood import item_based_topk, user_based_topk
from ..recommenders.hybrid import hybrid_topk
from ..sources.readers import ratings_from_sales
from .registry import register

# ---------------------------------------------------------------------------
# oracle SQL templates
# ---------------------------------------------------------------------------

RATINGS_CTE = """
ratings AS (
  SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
         avg(l.l_quantity) AS rating
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
)
""".strip()

#: kernel → SQL formula over pair stats (sa/sb = per-entity stats rows)
KERNEL_SQL = {
    # NULLIF guards mirror functions/similarity.py::with_kernel_column:
    # zero-variance entities make Pearson 0/0 (ANSI Spark would error,
    # DuckDB would error on sqrt of a tiny negative variance residue) —
    # both engines emit NULL instead, which ranks last on DESC.
    "cosine": "dot / NULLIF(sqrt(sa.ss) * sqrt(sb.ss), 0.0)",
    "pearson": (
        "(dot - sa.s * sb.s / ncols.n) / "
        "NULLIF(sqrt(greatest(sa.ss - sa.s * sa.s / ncols.n, 0.0)) * "
        "sqrt(greatest(sb.ss - sb.s * sb.s / ncols.n, 0.0)), 0.0)"
    ),
    "euclidean": "1.0 / (sqrt(greatest(sa.ss + sb.ss - 2 * dot, 0.0)) + 1.0)",
    "jaccard": "CAST(co AS DOUBLE) / (sa.n + sb.n - co)",
}


def _sims_ctes(axis: str, kernel: str) -> str:
    """CTE chain: stats → co-rated pairs (a<b) → directed rounded sims."""
    ent, key = ("user_id", "item_id") if axis == "user" else ("item_id", "user_id")
    ncols_join = (
        ", (SELECT CAST(count(DISTINCT " + key + ") AS DOUBLE) AS n FROM ratings) ncols"
        if kernel == "pearson"
        else ""
    )
    return f"""
stats AS (
  SELECT {ent} AS ent, sum(rating) AS s, sum(rating*rating) AS ss,
         count(*) AS n
  FROM ratings GROUP BY 1
),
copairs AS (
  SELECT a.{ent} AS ea, b.{ent} AS eb,
         sum(a.rating * b.rating) AS dot, count(*) AS co
  FROM ratings a JOIN ratings b
    ON a.{key} = b.{key} AND a.{ent} < b.{ent}
  GROUP BY 1, 2
),
halfsims AS (
  SELECT ea, eb, co, {KERNEL_SQL[kernel]} AS sim
  FROM copairs
  JOIN stats sa ON sa.ent = ea
  JOIN stats sb ON sb.ent = eb{ncols_join}
),
sims AS (
  SELECT ea, eb, co, floor((sim) * 10000000.0 + 0.5) / 10000000.0 AS sim FROM halfsims
  UNION ALL
  SELECT eb, ea, co, floor((sim) * 10000000.0 + 0.5) / 10000000.0 AS sim FROM halfsims
)
""".strip()


def _pair_query_sql(axis: str, kernels: tuple[str, ...], min_co: int) -> str:
    """Undirected pair listing with one rounded column per kernel —
    all kernels share the single stats/copairs aggregate, exactly like
    the Spark side's multi-kernel pairwise_similarity."""
    ent, key = ("user_id", "item_id") if axis == "user" else ("item_id", "user_id")
    a, b = (f"{axis}_a", f"{axis}_b")
    ncols_join = (
        ", (SELECT CAST(count(DISTINCT " + key + ") AS DOUBLE) AS n FROM ratings) ncols"
        if "pearson" in kernels
        else ""
    )
    kcols = ", ".join(f"{KERNEL_SQL[k]} AS raw_{k}" for k in kernels)
    out = ", ".join(
        f"floor((floor((raw_{k}) * 10000000.0 + 0.5) / 10000000.0) * 10000.0 + 0.5)"
        f" / 10000.0 AS sim_{k}"
        for k in kernels
    )
    return f"""
WITH {RATINGS_CTE},
stats AS (
  SELECT {ent} AS ent, sum(rating) AS s, sum(rating*rating) AS ss,
         count(*) AS n
  FROM ratings GROUP BY 1
),
copairs AS (
  SELECT a.{ent} AS ea, b.{ent} AS eb,
         sum(a.rating * b.rating) AS dot, count(*) AS co
  FROM ratings a JOIN ratings b
    ON a.{key} = b.{key} AND a.{ent} < b.{ent}
  GROUP BY 1, 2
),
halfsims AS (
  SELECT ea, eb, co, {kcols}
  FROM copairs
  JOIN stats sa ON sa.ent = ea
  JOIN stats sb ON sb.ent = eb{ncols_join}
)
SELECT ea AS {a}, eb AS {b}, {out}, co
FROM halfsims
WHERE co >= {min_co}
""".strip()


def _split_cte(fold: int, n_folds: int = 5) -> str:
    """Hash-split twin of metrics.evaluation.split_ratings."""
    return f"""
ratings_all AS (
  SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
         avg(l.l_quantity) AS rating
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
ratings AS (SELECT * FROM ratings_all WHERE (user_id + item_id) % {n_folds} <> {fold}),
test AS (SELECT * FROM ratings_all WHERE (user_id + item_id) % {n_folds} = {fold})
""".strip()


#: fold 0 of 5 — the single-fold evaluation queries
SPLIT_RATINGS_CTE = _split_cte(0)


def _user_topk_sql(
    kernel: str,
    prefilter: int,
    k_neighbors: int,
    k_items: int,
    ratings_cte: str = RATINGS_CTE,
) -> str:
    return f"""
WITH {ratings_cte},
{_sims_ctes("user", kernel)},
pruned AS (
  SELECT user_id, neighbor, sim FROM (
    SELECT ea AS user_id, eb AS neighbor, sim,
           row_number() OVER (PARTITION BY ea ORDER BY sim DESC, eb ASC) AS rn
    FROM sims
  ) WHERE rn <= {prefilter}
),
cand AS (
  SELECT s.user_id, r.item_id, s.sim, s.neighbor, r.rating AS r_n
  FROM pruned s JOIN ratings r ON r.user_id = s.neighbor
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings x
    WHERE x.user_id = s.user_id AND x.item_id = r.item_id)
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
),
means AS (SELECT user_id, avg(rating) AS m FROM ratings GROUP BY 1),
scored AS (
  SELECT t.user_id, t.item_id,
         sum(t.sim * (t.r_n - mn.m)) / sum(t.sim) AS delta
  FROM topn t JOIN means mn ON mn.user_id = t.neighbor
  GROUP BY 1, 2
  HAVING sum(t.sim) <> 0
)
SELECT user_id, item_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT s.user_id, s.item_id,
         floor((mu.m + s.delta) * 1000000.0 + 0.5) / 1000000.0 AS score,
         row_number() OVER (
           PARTITION BY s.user_id
           ORDER BY floor((mu.m + s.delta) * 1000000.0 + 0.5) / 1000000.0 DESC, s.item_id ASC) AS rk
  FROM scored s JOIN means mu ON mu.user_id = s.user_id
) WHERE rk <= {k_items}
""".strip()


def _item_topk_sql(
    kernel: str,
    prefilter: int,
    k_neighbors: int,
    k_items: int,
    ratings_cte: str = RATINGS_CTE,
) -> str:
    return f"""
WITH {ratings_cte},
{_sims_ctes("item", kernel)},
pruned AS (
  SELECT item_id, neighbor_item, sim FROM (
    SELECT ea AS item_id, eb AS neighbor_item, sim,
           row_number() OVER (PARTITION BY ea ORDER BY sim DESC, eb ASC) AS rn
    FROM sims
  ) WHERE rn <= {prefilter}
),
cand AS (
  SELECT r.user_id, s.item_id, s.sim, s.neighbor_item, r.rating AS r_u
  FROM pruned s JOIN ratings r ON r.item_id = s.neighbor_item
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings x
    WHERE x.user_id = r.user_id AND x.item_id = s.item_id)
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor_item ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
)
SELECT user_id, item_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT user_id, item_id, score,
         row_number() OVER (
           PARTITION BY user_id ORDER BY score DESC, item_id ASC) AS rk
  FROM (
    SELECT user_id, item_id,
           floor((sum(sim * r_u) / sum(abs(sim))) * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM topn
    GROUP BY 1, 2
    HAVING sum(abs(sim)) <> 0
  )
) WHERE rk <= {k_items}
""".strip()


# hybrid: blend the two top-k lists (children return CHILD_K items each),
# max-normalize per user, weight 0.6/0.4, sum per item, re-rank
# (reference HybridRecommenderTopK.scala:69-79,116-120).
def _hybrid_sql(
    kernel: str, prefilter: int, k_neighbors: int, child_k: int, k_items: int
) -> str:
    user_sql = _user_topk_sql(kernel, prefilter, k_neighbors, child_k)
    item_sql = _item_topk_sql(kernel, prefilter, k_neighbors, child_k)
    return f"""
WITH u_rec AS ({user_sql}),
i_rec AS ({item_sql}),
u_norm AS (
  SELECT user_id, item_id,
         0.6 * score / NULLIF(max(score) OVER (PARTITION BY user_id), 0.0) AS wscore
  FROM u_rec
),
i_norm AS (
  SELECT user_id, item_id,
         0.4 * score / NULLIF(max(score) OVER (PARTITION BY user_id), 0.0) AS wscore
  FROM i_rec
),
blended AS (
  SELECT user_id, item_id, floor((sum(wscore)) * 1000000.0 + 0.5) / 1000000.0 AS score
  FROM (SELECT * FROM u_norm UNION ALL SELECT * FROM i_norm)
  GROUP BY 1, 2
)
SELECT user_id, item_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT user_id, item_id, score,
         row_number() OVER (
           PARTITION BY user_id ORDER BY score DESC, item_id ASC) AS rk
  FROM blended
) WHERE rk <= {k_items}
""".strip()


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

PREFILTER = 50
K_NEIGHBORS = 10
K_ITEMS = 5
CHILD_K = 20
MIN_CO = 5

#: Skew guard for the co-rated self-join (O(Σ n_i²) pair rows per hot
#: item).  500 is a deliberate no-op at oracle/bench scale — the
#: observed max raters-per-item is 49 at sf0.01 and 53 at sf0.1, so
#: every oracle row is unchanged — but at 100 TB a viral item with 10⁶
#: raters would otherwise contribute 10¹² pair rows to one join key;
#: the cap bounds any single key's contribution at 2.5·10⁵ pairs.
#: Parity note: the reference scores all pairs (driver loop, no skew
#: concept); dropping ultra-hot items is the standard frequent-item
#: cutoff for neighborhood CF and only fires above this threshold.
MAX_RATERS_PER_ITEM = 500


def _cached_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratings_from_sales, marked for caching.

    Every CF plan references the ratings subtree many times (pair join
    sides, per-entity stats, means, candidate join, anti-join); without
    a cache Catalyst re-executes the orders⋈lineitem aggregate for each
    reference.  The cache registers by analyzed plan, so all queries
    in a session share one materialization."""
    return materialize(ratings_from_sales(spark, sf_dir), owner="recsys")


@register(
    # rotation r5: driver-green r1-r4; slot freed for never-checked queries
    "user_sims", oracle=_pair_query_sql("user", ("cosine", "pearson"), MIN_CO)
)
def user_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 cosine + K2 Pearson over full rating vectors, one co-rated
    self-join (reference similarity/CosineSimilarity.scala:24-33,
    PearsonSimilarity.scala:24-37 — Pearson keeps the full-array-means
    quirk: means divide by the total item count N, zeros included).
    Both kernels are scalar formulas over the same (dot, co, sums)
    pair-stats aggregate, so merging them costs one extra projection,
    not a second quadratic join.  (Merged from the former
    user_sim_cosine + user_sim_pearson registry entries.)"""
    return _pair_query(spark, sf_dir, "user", ("cosine", "pearson"))


@register(
    # rotation r5: driver-green r1-r4; slot freed for never-checked queries
    "item_sims", oracle=_pair_query_sql("item", ("jaccard", "euclidean"), MIN_CO)
)
def item_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 Jaccard over rater sets + K3 inverted Euclidean
    1/(√Σ(a−b)²+1), one co-rated self-join (reference
    JaccardSimilarity.scala:22-29 set form,
    EuclideanSimilarity.scala:24-28).  (Merged from the former
    item_sim_jaccard + item_sim_euclidean registry entries.)"""
    return _pair_query(spark, sf_dir, "item", ("jaccard", "euclidean"))


def _pair_query(
    spark: SparkSession, sf_dir: str, axis: str, kernels: tuple[str, ...]
) -> DataFrame:
    ratings = _cached_ratings(spark, sf_dir)
    sims = pairwise_similarity(
        ratings,
        kernel=kernels,
        axis=axis,
        directed=False,
        with_co=True,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    a, b = f"{axis}_a", f"{axis}_b"
    # 4 dp output: these queries list ~10⁶ pairs, and cross-engine float
    # noise (worst for the cancelling Pearson numerator, ~1e-12) must
    # stay far from the rounding bucket for the value-hash to be stable
    return sims.where(F.col("co") >= MIN_CO).select(
        a,
        b,
        *[
            qround(qround(f"sim_{k}", 7), 4).alias(f"sim_{k}")
            for k in kernels
        ],
        "co",
    )


@register(
    "user_topk_cosine",
    bench=True,
    oracle=_user_topk_sql("cosine", PREFILTER, K_NEIGHBORS, K_ITEMS),
)
def user_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-5 recommendations for EVERY user via user k-NN
    (reference M3, UserBasedTopKRecommender.scala:40-91) as one
    distributed plan."""
    return user_based_topk(
        _cached_ratings(spark, sf_dir),
        k_neighbors=K_NEIGHBORS,
        k_items=K_ITEMS,
        kernel="cosine",
        prefilter_neighbors=PREFILTER,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )


@register(
    "item_topk_cosine",
    bench=True,
    oracle=_item_topk_sql("cosine", PREFILTER, K_NEIGHBORS, K_ITEMS),
)
def item_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 via item k-NN (reference M5, ItemBasedTopKRecommender
    .scala:44-94); per-item neighbor lists pre-pruned to the standard
    item-CF top-N model shape."""
    return item_based_topk(
        _cached_ratings(spark, sf_dir),
        k_neighbors=K_NEIGHBORS,
        k_items=K_ITEMS,
        kernel="cosine",
        prefilter_neighbors=PREFILTER,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )


@register(
    "hybrid_topk",
    bench=True,
    oracle=_hybrid_sql("cosine", PREFILTER, K_NEIGHBORS, CHILD_K, K_ITEMS),
)
def hybrid_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 weighted hybrid: max-normalized 0.6·user + 0.4·item blend
    (HybridRecommenderTopK.scala:69-79,116-120).

    The two axis models are independent DAGs, so their one-off
    checkpoints are taken from two driver threads — Spark's scheduler
    interleaves the jobs and each axis' straggler stages overlap the
    other's compute instead of serializing behind it (the blend itself
    then plans over the two checkpoints).  Both axes read one
    lineage-free ratings index (``ratings_index``), checkpointed first
    and held until the next ``release("neighborhood")``."""
    from concurrent.futures import ThreadPoolExecutor

    from ..recommenders.neighborhood import (
        _rank_items,
        item_based_scored,
        ratings_index,
        user_based_scored,
    )

    # each thread computes its axis THROUGH the rank window into the
    # checkpointed O(users·CHILD_K) ranked model (see _rank_items)
    def _axis(pair):
        name, scored = pair
        with phase(name):
            return _rank_items(scored, CHILD_K, share=True)

    with phase("ratings"):
        ratings = ratings_index(_cached_ratings(spark, sf_dir))
    u_scored = user_based_scored(
        ratings,
        K_NEIGHBORS,
        "cosine",
        max_raters_per_item=MAX_RATERS_PER_ITEM,
        prefilter_neighbors=PREFILTER,
    )
    i_scored = item_based_scored(
        ratings,
        K_NEIGHBORS,
        "cosine",
        max_raters_per_item=MAX_RATERS_PER_ITEM,
        prefilter_neighbors=PREFILTER,
    )
    # the two axis phases overlap; "axes_wall" is their elapsed span
    with phase("axes_wall"), ThreadPoolExecutor(2) as ex:
        u, i = ex.map(_axis, (("axis_user", u_scored), ("axis_item", i_scored)))
    return hybrid_topk(u, i, weight_a=0.6, weight_b=0.4, k_items=K_ITEMS)


# ---------------------------------------------------------------------------
# content-based (M6-M8 + K5): feature-space sims from the part table
# ---------------------------------------------------------------------------

#: long-format feature CTE — twin of recommenders.content.part_features
FEATURES_CTE = """
feat AS (
  SELECT p_partkey AS ent, 'brand:' || p_brand AS key, 1.0 AS r FROM part
  UNION ALL
  SELECT p_partkey, 'type:' || p_type, 1.0 FROM part
  UNION ALL
  SELECT p_partkey, 'size', p_size / 50.0 FROM part
  UNION ALL
  SELECT p_partkey, 'price', p_retailprice / 2000.0 FROM part
)
""".strip()

#: cosine with the K5 zero→Euclidean fallback
#: (ContentBasedTopKRecommender.scala:42-50)
_CONTENT_SIMS_CTES = f"""
{FEATURES_CTE},
fstats AS (
  SELECT ent, sum(r) AS s, sum(r*r) AS ss, count(*) AS n FROM feat GROUP BY 1
),
fpairs AS (
  SELECT a.ent AS ea, b.ent AS eb, sum(a.r * b.r) AS dot
  FROM feat a JOIN feat b ON a.key = b.key AND a.ent < b.ent
  GROUP BY 1, 2
),
fhalf AS (
  SELECT ea, eb,
         CASE WHEN dot / NULLIF(sqrt(sa.ss) * sqrt(sb.ss), 0.0) = 0.0
              THEN 1.0 / (sqrt(greatest(sa.ss + sb.ss - 2 * dot, 0.0)) + 1.0)
              ELSE dot / NULLIF(sqrt(sa.ss) * sqrt(sb.ss), 0.0) END AS sim
  FROM fpairs
  JOIN fstats sa ON sa.ent = ea
  JOIN fstats sb ON sb.ent = eb
),
fsims AS (
  SELECT ea, eb, floor((sim) * 10000000.0 + 0.5) / 10000000.0 AS sim FROM fhalf
  UNION ALL
  SELECT eb, ea, floor((sim) * 10000000.0 + 0.5) / 10000000.0 AS sim FROM fhalf
)
""".strip()


def _content_topk_sql(prefilter: int, k_neighbors: int, k_items: int) -> str:
    return f"""
WITH {RATINGS_CTE},
{_CONTENT_SIMS_CTES},
pruned AS (
  SELECT item_id, neighbor_item, sim FROM (
    SELECT ea AS item_id, eb AS neighbor_item, sim,
           row_number() OVER (PARTITION BY ea ORDER BY sim DESC, eb ASC) AS rn
    FROM fsims
  ) WHERE rn <= {prefilter}
),
cand AS (
  SELECT r.user_id, s.item_id, s.sim, s.neighbor_item, r.rating AS r_u
  FROM pruned s JOIN ratings r ON r.item_id = s.neighbor_item
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings x
    WHERE x.user_id = r.user_id AND x.item_id = s.item_id)
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor_item ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
)
SELECT user_id, item_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT user_id, item_id, score,
         row_number() OVER (
           PARTITION BY user_id ORDER BY score DESC, item_id ASC) AS rk
  FROM (
    SELECT user_id, item_id,
           floor((sum(sim * r_u) / sum(abs(sim))) * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM topn
    GROUP BY 1, 2
    HAVING sum(abs(sim)) <> 0
  )
) WHERE rk <= {k_items}
""".strip()


def _content_predict_sql(k_neighbors: int) -> str:
    return f"""
WITH {SPLIT_RATINGS_CTE},
{_CONTENT_SIMS_CTES},
cand AS (
  SELECT t.user_id, t.item_id, s.sim, s.eb AS neighbor_item, r.rating AS r_u
  FROM test t
  JOIN fsims s ON s.ea = t.item_id
  JOIN ratings r ON r.user_id = t.user_id AND r.item_id = s.eb
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor_item ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
)
SELECT user_id, item_id,
       floor((sum(sim * r_u) / sum(abs(sim))) * 1000000.0 + 0.5) / 1000000.0 AS prediction
FROM topn
GROUP BY 1, 2
HAVING sum(abs(sim)) <> 0
""".strip()


@register(
    "content_topk_cosine",
    oracle=_content_topk_sql(PREFILTER, K_NEIGHBORS, K_ITEMS),
)
def content_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: top-5 per user where item neighbors come from part-attribute
    feature space (one-hot brand/type + scaled size/price), with the K5
    Euclidean fallback."""
    from ..recommenders.content import content_based_topk, part_features

    return content_based_topk(
        _cached_ratings(spark, sf_dir),
        part_features(spark, sf_dir),
        k_neighbors=K_NEIGHBORS,
        k_items=K_ITEMS,
        prefilter_neighbors=PREFILTER,
    )


# M7 rating prediction is registered as the 'content' branch of
# cf_predictions (below) — one union query value-checks M2+M4+M7.


# ---------------------------------------------------------------------------
# evaluation queries (X1-X6): deterministic hash split, fold 0 of 5
# ---------------------------------------------------------------------------

RELEVANT_THRESHOLD = 30.0  # "relevant" = test rating >= 30 (cf. Main.scala:101-103
#                            where relevant = rating >= 4.0 on the 1-5 scale)


def _user_predict_sql(
    kernel: str, k_neighbors: int, ratings_cte: str | None = None
) -> str:
    """M2 rating prediction for the test pairs, trained on the train fold
    (UserBasedRatingRecommender.scala:34-77)."""
    return f"""
WITH {ratings_cte or SPLIT_RATINGS_CTE},
{_sims_ctes("user", kernel)},
cand AS (
  SELECT t.user_id, t.item_id, s.sim, s.eb AS neighbor, r.rating AS r_n
  FROM test t
  JOIN sims s ON s.ea = t.user_id
  JOIN ratings r ON r.user_id = s.eb AND r.item_id = t.item_id
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
),
means AS (SELECT user_id, avg(rating) AS m FROM ratings GROUP BY 1),
pred AS (
  SELECT t.user_id, t.item_id,
         sum(t.sim * (t.r_n - mn.m)) / sum(t.sim) AS delta
  FROM topn t JOIN means mn ON mn.user_id = t.neighbor
  GROUP BY 1, 2
  HAVING sum(t.sim) <> 0
)
SELECT p.user_id, p.item_id, floor((mu.m + p.delta) * 1000000.0 + 0.5) / 1000000.0 AS prediction
FROM pred p JOIN means mu ON mu.user_id = p.user_id
""".strip()


def _item_predict_sql(kernel: str, k_neighbors: int) -> str:
    """M4 rating prediction: k most similar items among the user's rated
    (ItemBasedRatingRecommender.scala:36-72)."""
    return f"""
WITH {SPLIT_RATINGS_CTE},
{_sims_ctes("item", kernel)},
cand AS (
  SELECT t.user_id, t.item_id, s.sim, s.eb AS neighbor_item, r.rating AS r_u
  FROM test t
  JOIN sims s ON s.ea = t.item_id
  JOIN ratings r ON r.user_id = t.user_id AND r.item_id = s.eb
),
topn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, item_id ORDER BY sim DESC, neighbor_item ASC) AS nrank
    FROM cand
  ) WHERE nrank <= {k_neighbors}
)
SELECT user_id, item_id,
       floor((sum(sim * r_u) / sum(abs(sim))) * 1000000.0 + 0.5) / 1000000.0 AS prediction
FROM topn
GROUP BY 1, 2
HAVING sum(abs(sim)) <> 0
""".strip()


def _coeff_values_sql(k: int) -> str:
    """AP@k + DCG coefficient rows; the 1.0/i sum is written
    left-to-right so DuckDB evaluates the identical IEEE op sequence
    as metrics.evaluation.ap_coefficient, and the DCG discount ships
    as the Python-computed double literal (metrics.evaluation.
    dcg_coefficient) so log2 never runs engine-side."""
    from ..metrics.evaluation import dcg_coefficient

    rows = []
    for r in range(1, k + 1):
        expr = " + ".join(f"1.0/{i}" for i in range(r, k + 1))
        g = f"CAST('{dcg_coefficient(r)!r}' AS DOUBLE)"
        rows.append(f"({r}, {expr}, {g})")
    return ", ".join(rows)


def _idcg_case_sql(k: int) -> str:
    """CASE over rc.n_rel → ideal DCG literal (clamped at k), the
    oracle twin of metrics.evaluation._ndcg_col."""
    from ..metrics.evaluation import idcg

    parts = [f"WHEN rc.n_rel >= {k} THEN CAST('{idcg(k, k)!r}' AS DOUBLE)"]
    for n in range(k - 1, 0, -1):
        parts.append(
            f"WHEN rc.n_rel = {n} THEN CAST('{idcg(k, n)!r}' AS DOUBLE)"
        )
    return "CASE " + " ".join(parts) + " END"


def _ranking_eval_sql(kernel: str, prefilter: int, k_neighbors: int, k: int) -> str:
    rec_sql = _user_topk_sql(
        kernel, prefilter, k_neighbors, k, ratings_cte=SPLIT_RATINGS_CTE
    )
    return f"""
WITH rec AS (
{rec_sql}
),
relevant AS (
  WITH {SPLIT_RATINGS_CTE}
  SELECT user_id, item_id FROM test WHERE rating >= {RELEVANT_THRESHOLD}
),
coeff(rank, c, g) AS (VALUES {_coeff_values_sql(k)}),
hits AS (
  SELECT r.user_id, r.rank
  FROM rec r JOIN relevant USING (user_id, item_id)
),
per_user AS (
  SELECT u.user_id,
         coalesce(h.n_hits, 0) / {float(k)} AS p_at_k,
         CASE WHEN rc.n_rel IS NULL OR rc.n_rel = 0 THEN 0.0
              ELSE coalesce(h.n_hits, 0) / CAST(rc.n_rel AS DOUBLE) END AS r_at_k,
         coalesce(h.c_sum, 0.0) / {float(k)} AS ap_at_k,
         CASE WHEN rc.n_rel IS NULL OR rc.n_rel = 0 THEN 0.0
              ELSE coalesce(h.g_sum, 0.0) / ({_idcg_case_sql(k)}) END
           AS ndcg_at_k,
         CASE WHEN h.first_hit IS NULL THEN 0.0
              ELSE 1.0 / h.first_hit END AS rr_at_k
  FROM (SELECT user_id FROM rec UNION SELECT user_id FROM relevant) u
  LEFT JOIN (
    SELECT user_id, count(*) AS n_hits, sum(c) AS c_sum, sum(g) AS g_sum,
           min(rank) AS first_hit
    FROM hits JOIN coeff USING (rank) GROUP BY 1
  ) h USING (user_id)
  LEFT JOIN (
    SELECT user_id, count(*) AS n_rel FROM relevant GROUP BY 1
  ) rc USING (user_id)
)
SELECT floor((avg(p_at_k)) * 1000000.0 + 0.5) / 1000000.0 AS mean_p,
       floor((avg(r_at_k)) * 1000000.0 + 0.5) / 1000000.0 AS mean_r,
       floor((avg(ap_at_k)) * 1000000.0 + 0.5) / 1000000.0 AS mean_ap,
       floor((avg(ndcg_at_k)) * 1000000.0 + 0.5) / 1000000.0 AS mean_ndcg,
       floor((avg(rr_at_k)) * 1000000.0 + 0.5) / 1000000.0 AS mean_mrr,
       count(*) AS n_users
FROM per_user
""".strip()


def _split(spark: SparkSession, sf_dir: str):
    from ..metrics.evaluation import split_ratings

    return split_ratings(_cached_ratings(spark, sf_dir))


@register(
    "cf_predictions",
    oracle=f"""
SELECT 'user' AS model, * FROM (
{_user_predict_sql("cosine", K_NEIGHBORS)}
)
UNION ALL
SELECT 'item' AS model, * FROM (
{_item_predict_sql("cosine", K_NEIGHBORS)}
)
UNION ALL
SELECT 'content' AS model, * FROM (
{_content_predict_sql(K_NEIGHBORS)}
)
""",
)
def cf_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 + M4 + M7: predicted rating for every held-out (user, item)
    pair from all three rating predictors — user-kNN (mean-centered
    weighted average), item-kNN and content-kNN (Σ sim·r / Σ|sim|) —
    as one union tagged by ``model``.  Each branch is exactly the
    former standalone registry entry (user_cf_predictions /
    item_cf_predictions / content_cf_predictions); the union
    value-checks all three in one driver row.  The branches share the
    cached ratings subtree; each carries the MAX_RATERS_PER_ITEM skew
    guard (a provable no-op at oracle scale — max raters-per-item is
    49 at sf0.01)."""
    from ..recommenders.content import part_features, predict_content_based
    from ..recommenders.neighborhood import (
        predict_item_based,
        predict_user_based,
    )

    train, test = _split(spark, sf_dir)
    pairs = test.select("user_id", "item_id")
    u = predict_user_based(
        train,
        pairs,
        k_neighbors=K_NEIGHBORS,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    i = predict_item_based(
        train,
        pairs,
        k_neighbors=K_NEIGHBORS,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    c = predict_content_based(
        train, part_features(spark, sf_dir), pairs, k_neighbors=K_NEIGHBORS
    )
    return (
        u.select(F.lit("user").alias("model"), "*")
        .unionByName(i.select(F.lit("item").alias("model"), "*"))
        .unionByName(c.select(F.lit("content").alias("model"), "*"))
    )


#: DuckDB twin of the user-CF slice of the merged rmse/mae row
_USER_CF_RMSE_SQL = f"""
WITH pred AS (
{_user_predict_sql("cosine", K_NEIGHBORS)}
),
actual AS (
  WITH {SPLIT_RATINGS_CTE} SELECT user_id, item_id, rating FROM test
)
SELECT floor((sqrt(avg((p.prediction - a.rating) * (p.prediction - a.rating)))) * 1000000.0 + 0.5) / 1000000.0
         AS rmse,
       floor((avg(abs(p.prediction - a.rating))) * 1000000.0 + 0.5) / 1000000.0 AS mae,
       count(*) AS n_pairs
FROM pred p JOIN actual a USING (user_id, item_id)
""".strip()

#: DuckDB twin of the item-mean baseline slice
_ITEMMEAN_RMSE_SQL = f"""
WITH {SPLIT_RATINGS_CTE},
imean AS (SELECT item_id, avg(rating) AS prediction FROM ratings GROUP BY 1)
SELECT floor((sqrt(avg((m.prediction - t.rating) * (m.prediction - t.rating)))) * 1000000.0 + 0.5) / 1000000.0
         AS rmse,
       floor((avg(abs(m.prediction - t.rating))) * 1000000.0 + 0.5) / 1000000.0 AS mae,
       count(*) AS n_pairs
FROM test t JOIN imean m ON m.item_id = t.item_id
""".strip()


# r12 rotation: registration merged into the model-tagged
# "user_cf_rmse_mae" row below (model 'user_cf') — library API.
def user_cf_rmse_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5 over M2 predictions on the held-out fold — the reference's
    cross-validation step (Main.scala:304-331) as one plan.
    Numerically identical to fold 0 of user_cf_cv5_rmse; carries its
    own driver row since the round-4 rotation."""
    from ..metrics.evaluation import prediction_metrics
    from ..recommenders.neighborhood import predict_user_based

    train, test = _split(spark, sf_dir)
    preds = predict_user_based(
        train,
        test.select("user_id", "item_id"),
        k_neighbors=K_NEIGHBORS,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    return prediction_metrics(preds.join(test, ["user_id", "item_id"]))


# (rotation note: promoted to the driver window in round 4 — the fold-0
# redundancy argument cut the other way once every other query had a
# driver row; the swapped-out relational rows keep pytest parity.)


# r12 rotation: registration merged into the model-tagged
# "user_cf_rmse_mae" row below (model 'item_mean') — library API.
def itemmean_rmse_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline predictor (item mean) RMSE/MAE — the floor any CF model
    must beat."""
    from ..metrics.evaluation import prediction_metrics

    train, test = _split(spark, sf_dir)
    imean = train.groupBy("item_id").agg(F.avg("rating").alias("prediction"))
    return prediction_metrics(test.join(imean, "item_id"))


@register(
    "user_cf_rmse_mae",
    oracle=f"""
SELECT 'user_cf' AS model, * FROM ({_USER_CF_RMSE_SQL}) _m_cf
UNION ALL
SELECT 'item_mean' AS model, * FROM ({_ITEMMEAN_RMSE_SQL}) _m_im
""",
)
def user_cf_rmse_mae_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged rating-predictor metric row (r12 rotation): the user-CF
    held-out RMSE/MAE and the item-mean baseline floor as tagged
    models on one (model, rmse, mae, n_pairs) relation — both members
    driver-green r10, so one model-tagged slot certifies both plans
    (the baseline_topk / window-twin merge precedent; each member's
    oracle replays under its tag).  Keeping the two metrics in one
    row also keeps the model-vs-floor comparison a downstream reader
    actually wants side-by-side (the ALS quality gate makes the same
    comparison in tests/test_als.py)."""
    cols = ["rmse", "mae", "n_pairs"]
    cf = user_cf_rmse_mae(spark, sf_dir).select(
        F.lit("user_cf").alias("model"), *cols
    )
    im = itemmean_rmse_mae(spark, sf_dir).select(
        F.lit("item_mean").alias("model"), *cols
    )
    return cf.unionByName(im)


def _cv_fold_sql(fold: int) -> str:
    return f"""
SELECT {fold} AS fold, rmse, mae, n_pairs FROM (
  WITH pred AS (
{_user_predict_sql("cosine", K_NEIGHBORS, ratings_cte=_split_cte(fold))}
  ),
  actual AS (
    WITH {_split_cte(fold)} SELECT user_id, item_id, rating FROM test
  )
  SELECT floor((sqrt(avg((p.prediction - a.rating) * (p.prediction - a.rating)))) * 1000000.0 + 0.5) / 1000000.0
           AS rmse,
         floor((avg(abs(p.prediction - a.rating))) * 1000000.0 + 0.5) / 1000000.0 AS mae,
         count(*) AS n_pairs
  FROM pred p JOIN actual a USING (user_id, item_id)
)
""".strip()


@register(
    "user_cf_cv5_rmse",
    oracle="\nUNION ALL\n".join(_cv_fold_sql(f) for f in range(5)),
)
def user_cf_cv5_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: the full 5-fold cross-validation harness
    (Main.scala:61-126 runs 5 train/test folds and averages) — one
    union plan, one row per fold.  Fold 0 equals user_cf_rmse_mae."""
    from ..metrics.evaluation import crossval_prediction_metrics
    from ..recommenders.neighborhood import predict_user_based

    ratings = _cached_ratings(spark, sf_dir)

    def predict(train: DataFrame, pairs: DataFrame) -> DataFrame:
        # same hot-key cap as every other CF plan (provable no-op at
        # sf — max raters 53 < 500 — but the eval family must not be
        # the one uncapped quadratic join at scale)
        return predict_user_based(
            train,
            pairs,
            k_neighbors=K_NEIGHBORS,
            max_raters_per_item=MAX_RATERS_PER_ITEM,
        )

    return crossval_prediction_metrics(ratings, predict, n_folds=5)


@register(
    "user_cf_ranking_eval",
    oracle=_ranking_eval_sql("cosine", PREFILTER, K_NEIGHBORS, K_ITEMS),
)
def user_cf_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-X3: mean P@5 / R@5 / AP@5 of the user-CF top-k against
    held-out relevant items (rating >= {threshold}) — the full
    evaluation harness (Main.scala:61-126) as one distributed plan.
    AP uses the properly ordered prefix (documented X3 divergence from
    the reference's unordered Set.take)."""
    from ..metrics.evaluation import ranking_metrics, ranking_metrics_summary

    train, test = _split(spark, sf_dir)
    rec = user_based_topk(
        train,
        k_neighbors=K_NEIGHBORS,
        k_items=K_ITEMS,
        kernel="cosine",
        prefilter_neighbors=PREFILTER,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    relevant = test.where(F.col("rating") >= RELEVANT_THRESHOLD).select(
        "user_id", "item_id"
    )
    return ranking_metrics_summary(
        ranking_metrics(spark, rec, relevant, k=K_ITEMS)
    )


# ---------------------------------------------------------------------------
# sequential (M10-M14): rows-only check — KMeans/FPGrowth have no SQL twin
# ---------------------------------------------------------------------------


@register("sequential_topk", bench=True)
def sequential_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10/M11: cluster-sequence rule recommendations.  No DuckDB
    oracle (KMeans + FPGrowth are not SQL-expressible); correctness is
    covered by property tests in tests/test_sequential.py."""
    from ..recommenders.sequential import SequentialTopK
    from ..sources.readers import table

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    interactions = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
        F.col("l_shipdate").alias("ts"),
    )
    return SequentialTopK(k_items=K_ITEMS).fit(interactions).recommend()


@register(
    # rotation r5: driver-green r1-r4; slot freed for never-checked queries
    "rating_stats_per_user",
    oracle=f"""
WITH {RATINGS_CTE}
SELECT user_id,
       count(*) AS n_items,
       floor((avg(rating)) * 1000000.0 + 0.5) / 1000000.0 AS mean_rating,
       floor((sum(rating * rating)) * 1000000.0 + 0.5) / 1000000.0 AS sumsq
FROM ratings GROUP BY user_id
""",
)
def rating_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/M1: the per-user stats that replace the reference's dense
    matrix materialization (BaseRecommender.scala:87-132)."""
    r = _cached_ratings(spark, sf_dir)
    return r.groupBy("user_id").agg(
        F.count("*").alias("n_items"),
        qround(F.avg("rating"), 6).alias("mean_rating"),
        qround(F.sum(F.col("rating") * F.col("rating")), 6).alias("sumsq"),
    )


@register("als_topk", bench=True)
def als_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS factorization top-5 (no DuckDB oracle — iterative ML, like
    sequential_topk; exactness of the GEMM serving is pinned by the
    NumPy twin and quality by the item-mean baseline in
    tests/test_als.py).  Promoted into the round-4 driver window
    (rows-only check) and the bench set so the one MLlib-native model
    family is perf-tracked too."""
    from ..recommenders.als import als_topk

    # als_topk is eager through fit + item-model collect; the GEMM
    # serving itself is the lazy remainder the caller's action pays
    with phase("fit_and_index"):
        return als_topk(_cached_ratings(spark, sf_dir), k_items=K_ITEMS)


# ---------------------------------------------------------------------------
# negative sampling (implicit-feedback training-data prep)
# ---------------------------------------------------------------------------

#: FIXED candidate-pool size: the hash-smallest NEG_POOL items form
#: the shared negative pool, so the candidate relation is
#: users × NEG_POOL — linear in users and CONSTANT in catalog size.
#: (A permille-rate pool was quadratic in scale factor: users and
#: catalog·rate both grow with the data — measured ×13 for a ×10 sf
#: step before the fix.)
NEG_POOL = 512
#: deterministic negatives emitted per user
NEG_PER_USER = 10


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "cf_negative_samples",
    oracle=f"""
WITH {RATINGS_CTE},
items_s AS (
  SELECT item_id FROM (SELECT DISTINCT item_id FROM ratings)
  ORDER BY {hash60_sql("CAST(item_id AS VARCHAR)", "negitem")}, item_id
  LIMIT {NEG_POOL}
),
users AS (SELECT DISTINCT user_id FROM ratings),
cand AS (
  SELECT u.user_id, i.item_id,
         {hash60_sql(
             "concat(CAST(u.user_id AS VARCHAR), '|', "
             "CAST(i.item_id AS VARCHAR))",
             "neg",
         )} AS h
  FROM users u CROSS JOIN items_s i
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings r
    WHERE r.user_id = u.user_id AND r.item_id = i.item_id
  )
)
SELECT user_id, item_id, CAST(neg_rank AS INTEGER) AS neg_rank FROM (
  SELECT user_id, item_id,
         row_number() OVER (PARTITION BY user_id ORDER BY h, item_id)
           AS neg_rank
  FROM cand
) WHERE neg_rank <= {NEG_PER_USER}
""",
)
def cf_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (the BPR / sampled-softmax data-prep step): for every user, pick
    NEG_PER_USER unrated items by hash rank from the shared
    NEG_POOL-item candidate pool (the hash-smallest items).

    Two-level determinism (same contract as corpus_samples): the item
    pool is a pure function of the item-id set and each user's
    negative set a pure function of (user_id, item_id) — reproducible
    across engines, reruns, and cluster layouts.  Under incremental
    catalog growth a NEW item displaces at most ONE pool member (the
    pool is the NEG_POOL smallest hashes), so almost all negatives
    are stable across loads.

    Scale shape: the candidate relation is users × NEG_POOL — LINEAR
    in users and constant in catalog (the pool itself is one
    TakeOrdered over distinct items); the broadcast pool bounds the
    nested-loop join (BroadcastNestedLoopJoin, never
    CartesianProduct); the anti-join removes positives; one per-user
    window ranks the bounded pool.
    """
    ratings = _cached_ratings(spark, sf_dir)
    return negative_samples(
        ratings,
        pool_size=NEG_POOL,
        per_user=NEG_PER_USER,
    )


def negative_samples(
    ratings: DataFrame,
    pool_size: int = NEG_POOL,
    per_user: int = NEG_PER_USER,
) -> DataFrame:
    """Library form of cf_negative_samples (so tests can plant a tiny
    catalog and verify positives are never sampled)."""
    from ..operators.dedup import hash60

    item_hash = hash60(F.col("item_id").cast("string"), seed="negitem")
    items_s = (
        ratings.select("item_id")
        .distinct()
        .orderBy(item_hash, F.asc("item_id"))
        .limit(pool_size)
    )
    users = ratings.select("user_id").distinct()
    cand = users.crossJoin(F.broadcast(items_s))
    neg = cand.join(
        ratings.select("user_id", "item_id"),
        ["user_id", "item_id"],
        "left_anti",
    ).select(
        "user_id",
        "item_id",
        hash60(
            F.concat_ws(
                "|",
                F.col("user_id").cast("string"),
                F.col("item_id").cast("string"),
            ),
            seed="neg",
        ).alias("h"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("h", "item_id")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= per_user)
        .select("user_id", "item_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# beyond-accuracy evaluation: coverage + novelty of the CF top-k
# ---------------------------------------------------------------------------


def _coverage_novelty_sql(kernel: str, prefilter: int, k_neighbors: int, k: int) -> str:
    rec_sql = _user_topk_sql(kernel, prefilter, k_neighbors, k)
    return f"""
WITH rec AS (
{rec_sql}
),
pops AS (
  WITH {RATINGS_CTE}
  SELECT item_id,
         percent_rank() OVER (
           ORDER BY count(*) DESC, item_id
         ) AS pop_pct,
         count(*) OVER () AS n_catalog
  FROM ratings GROUP BY item_id
)
SELECT CAST(count(DISTINCT r.item_id) AS BIGINT) AS n_rec_items,
       CAST(max(p.n_catalog) AS BIGINT) AS n_catalog,
       floor((CAST(count(DISTINCT r.item_id) AS DOUBLE) / max(p.n_catalog))
             * 1000000.0 + 0.5) / 1000000.0 AS coverage,
       floor((avg(p.pop_pct)) * 1000000.0 + 0.5) / 1000000.0 AS novelty
FROM rec r JOIN pops p USING (item_id)
""".strip()


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "user_cf_coverage_novelty",
    oracle=_coverage_novelty_sql("cosine", PREFILTER, K_NEIGHBORS, K_ITEMS),
)
def user_cf_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy evaluation of the user-CF top-k (the dimension
    the accuracy trio misses — Castells et al.'s coverage/novelty
    framing): catalog coverage = fraction of distinct items that
    appear in ANYONE's top-k (a recommender that only ever surfaces
    blockbusters scores high accuracy and ~0 coverage), and novelty =
    the mean popularity percentile of recommended slots
    (percent_rank over rating counts, 0 = most popular; higher =
    deeper into the long tail).

    Pure rational arithmetic — percent_rank is (rank−1)/(n−1) with a
    deterministic (count desc, item_id) tie-break in both engines —
    so the whole row is value-hash-oracled.  The rec subtree is the
    SHARED cached scored model: this query is a cache-read aggregate
    after any top-k query has run."""
    from pyspark.sql import Window

    rec = user_based_topk(
        _cached_ratings(spark, sf_dir),
        k_neighbors=K_NEIGHBORS,
        k_items=K_ITEMS,
        kernel="cosine",
        prefilter_neighbors=PREFILTER,
        max_raters_per_item=MAX_RATERS_PER_ITEM,
    )
    ratings = _cached_ratings(spark, sf_dir)
    wp = Window.orderBy(F.desc("n_r"), F.asc("item_id"))
    pops = (
        ratings.groupBy("item_id")
        .agg(F.count("*").alias("n_r"))
        .select(
            "item_id",
            F.percent_rank().over(wp).alias("pop_pct"),
            F.count("*").over(Window.partitionBy()).alias("n_catalog"),
        )
    )
    return rec.join(pops, "item_id").agg(
        F.countDistinct("item_id").alias("n_rec_items"),
        F.max("n_catalog").cast("bigint").alias("n_catalog"),
        qround(
            F.countDistinct("item_id").cast("double") / F.max("n_catalog"),
            6,
        ).alias("coverage"),
        qround(F.avg("pop_pct"), 6).alias("novelty"),
    )


# --- non-personalized ranking baselines ---------------------------------------
#: candidate pool for the popularity baseline: the top POP_POOL most
#: rated items (rank before anti-join so the candidate relation is
#: users × POP_POOL, never users × catalog)
POP_POOL = 50


#: oracle of the popularity member — kept as a module constant so the
#: merged baseline_topk row (r10 rotation) replays it verbatim in its
#: variant slice
POPULARITY_TOPK_SQL = f"""
WITH {RATINGS_CTE},
pop AS (
  SELECT item_id, CAST(count(*) AS BIGINT) AS n_r,
         row_number() OVER (ORDER BY count(*) DESC, item_id ASC) AS prank
  FROM ratings GROUP BY 1
  QUALIFY prank <= {POP_POOL}
),
users AS (SELECT DISTINCT user_id FROM ratings),
cand AS (
  SELECT u.user_id, p.item_id, p.n_r, p.prank
  FROM users u CROSS JOIN pop p
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings r
    WHERE r.user_id = u.user_id AND r.item_id = p.item_id)
)
SELECT user_id, item_id, n_r,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY prank ASC) AS rk
  FROM cand
) WHERE rk <= {K_ITEMS}
"""


# r10 rotation: registration merged into baseline_topk (variant
# "pop") — the function stays library API and feeds the merged row.
def popularity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-personalized POPULARITY baseline: every user's top-5 most-
    rated items they have not rated — the control every ranking eval
    needs (a personalized model that cannot beat popularity@k is not
    learning; the coverage/novelty query quantifies the other side of
    this trade).  Ties in popularity break by ascending item_id.

    Scale shape: the candidate pool is PRE-RANKED to the global top
    POP_POOL items (TakeOrderedAndProject + broadcast), so the
    candidate relation is users × POP_POOL — never users × catalog —
    and the anti-join + per-user rank run on that bounded relation.
    A user who rated ≥ POP_POOL − K of the pool emits fewer than K
    rows (documented; at the shipped densities the deepest user
    touches far less of the pool)."""
    from pyspark.sql import Window

    ratings = _cached_ratings(spark, sf_dir)
    pop = (
        ratings.groupBy("item_id")
        .agg(F.count("*").alias("n_r"))
        .orderBy(F.desc("n_r"), F.asc("item_id"))
        .limit(POP_POOL)
    )
    wp = Window.orderBy(F.desc("n_r"), F.asc("item_id"))
    pool = pop.withColumn("prank", F.row_number().over(wp))
    users = ratings.select("user_id").distinct()
    cand = users.crossJoin(F.broadcast(pool)).join(
        ratings.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("prank"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_ITEMS)
        .select("user_id", "item_id", "n_r", "rank")
    )


#: oracle of the deterministic-random member — module constant for the
#: merged baseline_topk row's variant slice (r10 rotation)
RANDOM_TOPK_SQL = f"""
WITH {RATINGS_CTE},
pool AS (
  SELECT item_id
  FROM (SELECT DISTINCT item_id FROM ratings)
  QUALIFY row_number() OVER (
    ORDER BY md5('pool|' || CAST(item_id AS VARCHAR)), item_id
  ) <= {POP_POOL}
),
users AS (SELECT DISTINCT user_id FROM ratings),
cand AS (
  SELECT u.user_id, p.item_id,
         md5(CAST(u.user_id AS VARCHAR) || '|' || CAST(p.item_id AS VARCHAR))
           AS h
  FROM users u CROSS JOIN pool p
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings r
    WHERE r.user_id = u.user_id AND r.item_id = p.item_id)
)
SELECT user_id, item_id, CAST(rk AS INTEGER) AS rank
FROM (
  SELECT user_id, item_id, row_number() OVER (
    PARTITION BY user_id ORDER BY h, item_id) AS rk
  FROM cand
) WHERE rk <= {K_ITEMS}
"""


# r10 rotation: registration merged into baseline_topk (variant
# "random") — the function stays library API and feeds the merged row.
def random_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC-random ranking baseline (the floor every
    personalized model and the popularity baseline must clear): each
    user's top-5 unrated items ranked by a pure hash of
    (user, item) — engine-/rerun-/layout-stable "randomness", so the
    baseline itself is value-hash-oracled rather than seeded RNG.

    Same bounded-pool shape as popularity_topk: a global hash-ranked
    pool of POP_POOL items (TakeOrderedAndProject + broadcast) keeps
    the candidate relation at users × POP_POOL, never users ×
    catalog."""
    from pyspark.sql import Window

    ratings = _cached_ratings(spark, sf_dir)
    items = ratings.select("item_id").distinct()
    pool = (
        items.withColumn(
            "_h", F.md5(F.concat(F.lit("pool|"), F.col("item_id").cast("string")))
        )
        .orderBy(F.asc("_h"), F.asc("item_id"))
        .limit(POP_POOL)
        .drop("_h")
    )
    users = ratings.select("user_id").distinct()
    cand = (
        users.crossJoin(F.broadcast(pool))
        .join(
            ratings.select("user_id", "item_id"),
            ["user_id", "item_id"],
            "left_anti",
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("|"),
                    F.col("item_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("h"), F.asc("item_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_ITEMS)
        .select("user_id", "item_id", "rank")
    )


# --- merged ranking-baseline row (r10 rotation) -------------------------------
# popularity_topk and random_topk share the (user_id, item_id, rank)
# grain over the same bounded POP_POOL candidate shape and exist purely
# as the two non-personalized controls every ranking eval needs, so ONE
# tagged-union row carries both oracles (the embedding_knn_exact
# precedent): a regression in either baseline flips the merged row's
# value hash.  `score` is the ranking statistic where one exists —
# popularity's rating count n_r; the deterministic-random baseline has
# no score by construction, so its slice pins the 0 sentinel (NOT NULL:
# the oracle compare should never depend on engine null ordering).


@register(
    "baseline_topk",
    oracle=f"""
SELECT 'pop' AS variant, user_id, item_id,
       CAST(n_r AS BIGINT) AS score, rank
FROM ({POPULARITY_TOPK_SQL}) _v_pop
UNION ALL
SELECT 'random' AS variant, user_id, item_id,
       CAST(0 AS BIGINT) AS score, rank
FROM ({RANDOM_TOPK_SQL}) _v_random
""",
)
def baseline_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged non-personalized ranking baselines: the popularity@k and
    deterministic-random@k controls as tagged variants on one
    (variant, user_id, item_id, score, rank) relation — the merged
    form of the formerly-standalone popularity_topk / random_topk
    registered rows (r10 rotation; both earned driver-green rows in
    r9 first, and the library functions are unchanged).

    Scale shape: per member unchanged — each variant's candidate
    relation is users × POP_POOL (global top-pool broadcast after
    TakeOrderedAndProject), never users × catalog; the union is two
    independent bounded plans with no barrier between them."""
    pop = popularity_topk(spark, sf_dir).select(
        F.lit("pop").alias("variant"),
        "user_id",
        "item_id",
        F.col("n_r").cast("bigint").alias("score"),
        "rank",
    )
    rnd = random_topk(spark, sf_dir).select(
        F.lit("random").alias("variant"),
        "user_id",
        "item_id",
        F.lit(0).cast("bigint").alias("score"),
        "rank",
    )
    return pop.unionByName(rnd)
