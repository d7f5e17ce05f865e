"""Ranking + prediction metrics as DataFrame aggregations (SURVEY §2.10).

The reference computes per-user metric tuples inside a foreach with a
driver-side accumulator and averages them on the driver
(Main.scala:96-122, accumulator/ListBufferAccumulator.scala:28-34).
Here metrics are plain aggregations over joined DataFrames — no
accumulators, no collect.

Formulas (reference metrics/RankingMetrics.scala:37-53,
PredictionMetrics.scala:35-43):
    P@k  = |selected ∩ relevant| / k
    R@k  = |selected ∩ relevant| / |relevant|   (0 when relevant empty)
    AP@k = (1/k) Σ_{i=1..k} |selected_i ∩ relevant| / i
    RMSE = √(Σe²/n),  MAE = Σ|e|/n

Documented divergence (SURVEY X3): the reference computes AP over a
Scala Set.take(i) — an UNORDERED prefix.  We use the properly ordered
ranking: selected_i = the i highest-scored items.

AP@k trick: each hit at rank r contributes Σ_{i=r..k} 1/i to the sum,
so AP = (1/k)·Σ_hits c(rank) with c precomputed — a literal CASE over
rank instead of a per-user loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround

R6 = 6


def split_ratings(ratings: DataFrame, fold: int = 0, n_folds: int = 5):
    """Deterministic ARITHMETIC split: (user_id + item_id) % n_folds
    == fold is the test fold — reproducible in any engine, no RNG
    state, and trivially SQL-mirrorable (the oracle CTE replays it).
    Returns (train, test).

    Caveats, accepted for the oracle-checked CV queries: the modulus
    is a structured slice, not a hash — if id assignment correlates
    with rating behavior the folds are biased (production splits
    should use operators.dedup.hash60 over the pair); rows with a
    NULL key land in NEITHER fold (NULL bucket fails both filters)."""
    bucket = (F.col("user_id") + F.col("item_id")) % n_folds
    return ratings.where(bucket != fold), ratings.where(bucket == fold)


def crossval_prediction_metrics(
    ratings: DataFrame,
    predict_fn,
    n_folds: int = 5,
) -> DataFrame:
    """X6: the reference's 5-fold harness (Main.scala:61-126 runs one
    recommender per fold and averages) as ONE union plan.

    ``predict_fn(train, pairs) -> (user_id, item_id, prediction)``.
    Returns one (fold, rmse, mae, n_pairs) row per fold — the caller
    aggregates or inspects per-fold variance.  The folds share the
    (cached) ratings scan; everything else is fold-local subtrees that
    Spark schedules independently."""
    parts = []
    for fold in range(n_folds):
        train, test = split_ratings(ratings, fold=fold, n_folds=n_folds)
        preds = predict_fn(train, test.select("user_id", "item_id"))
        m = prediction_metrics(preds.join(test, ["user_id", "item_id"]))
        parts.append(m.select(F.lit(fold).alias("fold"), "rmse", "mae", "n_pairs"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def prediction_metrics(
    joined: DataFrame, pred_col: str = "prediction", actual_col: str = "rating"
) -> DataFrame:
    """RMSE/MAE over (prediction, actual) rows → one-row DataFrame
    (X4/X5, PredictionMetrics.scala:35-43)."""
    err = F.col(pred_col) - F.col(actual_col)
    return joined.agg(
        qround(F.sqrt(F.avg(err * err)), R6).alias("rmse"),
        qround(F.avg(F.abs(err)), R6).alias("mae"),
        F.count("*").alias("n_pairs"),
    )


def ap_coefficient(k: int, rank: int) -> float:
    """c(rank) = Σ_{i=rank..k} 1/i, accumulated ascending so the float
    op order matches the SQL oracle expression exactly."""
    total = 0.0
    for i in range(rank, k + 1):
        total = total + 1.0 / i
    return total


def dcg_coefficient(rank: int) -> float:
    """Binary-relevance DCG discount 1/log2(rank+1).

    Computed ONCE here in Python and shipped to both engines as the
    identical double literal (Spark ``F.lit``, oracle
    ``CAST('<repr>' AS DOUBLE)``) — log2 never runs inside either
    engine, so the one transcendental in NDCG cannot introduce
    cross-engine ulp noise."""
    import math

    return 1.0 / math.log2(rank + 1)


def idcg(k: int, n_rel: int) -> float:
    """Ideal DCG@k for n_rel relevant items: Σ_{i=1..min(k,n)} g(i),
    accumulated ascending (same literal-shipping contract)."""
    total = 0.0
    for i in range(1, min(k, n_rel) + 1):
        total = total + dcg_coefficient(i)
    return total


def ranking_metrics(
    spark: SparkSession,
    recommended: DataFrame,
    relevant: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Per-user P@k / R@k / AP@k / NDCG@k / MRR@k.

    ``recommended``: (user_id, item_id, rank) with rank 1..k.
    ``relevant``: (user_id, item_id) ground-truth positives.
    Users in ``recommended`` with no relevant row score 0 (X2's
    empty-relevant rule).

    One per-user aggregate: both inputs are unioned, grouped by
    (user, item), then by user.  The (user, item) grouping gives SET
    semantics to both inputs, like the reference (and
    compat.RankingMetrics, which materializes Python sets): a
    duplicate row counts once, and an item recommended at two ranks
    keeps its best.  The evaluation universe is recommended ∪ relevant
    users: a user who holds relevant items but received NO
    recommendations (cold-start drop, empty candidate set) scores 0 in
    the averages — the reference harness iterates test users, so
    dropping them would silently inflate every mean.
    """
    del spark  # kept for the public signature; the coefficients are literals
    rows = recommended.select(
        "user_id", "item_id", "rank", F.lit(False).alias("rel")
    ).unionByName(
        relevant.select(
            "user_id",
            "item_id",
            F.lit(None).cast("int").alias("rank"),
            F.lit(True).alias("rel"),
        )
    )
    # one exchange on user_id serves both groupings: a (user, item)
    # group never spans two user partitions
    items = (
        rows.repartition("user_id")
        .groupBy("user_id", "item_id")
        .agg(F.min("rank").alias("rank"), F.max("rel").alias("rel"))
    )
    # a hit is a relevant item at a rank in 1..k (outside it the
    # coefficient is NULL)
    c = _rank_case(k, lambda r: ap_coefficient(k, r))
    hit = F.col("rel") & c.isNotNull()
    per_user = items.groupBy("user_id").agg(
        F.count(F.when(hit, 1)).alias("n_hits"),
        F.sum(F.when(hit, c)).alias("c_sum"),
        F.sum(F.when(hit, _rank_case(k, dcg_coefficient))).alias("g_sum"),
        F.min(F.when(hit, F.col("rank"))).alias("first_hit"),
        F.count(F.when(F.col("rel"), 1)).alias("n_rel"),
    )
    return per_user.select(
        "user_id",
        (F.col("n_hits") / F.lit(float(k))).alias("p_at_k"),
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(F.col("n_hits") / F.col("n_rel").cast("double"))
        .alias("r_at_k"),
        (F.coalesce("c_sum", F.lit(0.0)) / F.lit(float(k))).alias("ap_at_k"),
        _ndcg_col(k).alias("ndcg_at_k"),
        # MRR@k: reciprocal rank of the FIRST hit (pure rational
        # arithmetic — identical in both engines), 0 when no hit
        F.when(F.col("first_hit").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_hit"))
        .alias("rr_at_k"),
    )


def _rank_case(k: int, coefficient):
    """CASE rank WHEN 1 THEN coefficient(1) ... WHEN k THEN coefficient(k)
    END, each value the same Python double literal the oracle ships;
    NULL for any other rank."""
    col = F.when(F.col("rank") == 1, F.lit(coefficient(1)))
    for r in range(2, k + 1):
        col = col.when(F.col("rank") == r, F.lit(coefficient(r)))
    return col


def _ndcg_col(k: int):
    """NDCG@k (binary relevance): DCG over hit ranks ÷ ideal DCG for
    the user's relevant count; 0 when no relevant items exist.  The
    IDCG lookup is a literal CASE over n_rel (clamped at k), mirroring
    the oracle's CASE — no engine-side log anywhere."""
    ideal = F.lit(idcg(k, k))
    for n in range(k - 1, 0, -1):
        ideal = F.when(F.col("n_rel") == n, F.lit(idcg(k, n))).otherwise(
            ideal
        )
    return F.when(F.col("n_rel") == 0, F.lit(0.0)).otherwise(
        F.coalesce("g_sum", F.lit(0.0)) / ideal
    )


def ranking_metrics_summary(per_user: DataFrame) -> DataFrame:
    """Mean of the per-user tuples — the reference's driver-side
    pairwise-sum average (Main.scala:113-122) as one agg."""
    return per_user.agg(
        qround(F.avg("p_at_k"), R6).alias("mean_p"),
        qround(F.avg("r_at_k"), R6).alias("mean_r"),
        qround(F.avg("ap_at_k"), R6).alias("mean_ap"),
        qround(F.avg("ndcg_at_k"), R6).alias("mean_ndcg"),
        qround(F.avg("rr_at_k"), R6).alias("mean_mrr"),
        F.count("*").alias("n_users"),
    )
