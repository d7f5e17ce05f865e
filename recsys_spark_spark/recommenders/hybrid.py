"""Weighted hybrid blending (reference M9).

The reference normalizes each child ranking by its max score times a
weight, merges with a driver-side groupBy-sum, and takes top-K
(HybridRecommenderTopK.scala:69-79,116-120; default weights 0.6/0.4 at
:33-34).  Here the children are already DataFrames of
``(user_id, item_id, score, ...)`` and the blend is a union +
window-max normalization + group-sum — no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround

# the blend must quantize on the SAME grid as the children's scores —
# import, don't redefine, so the two can never drift apart
from .neighborhood import SCORE_ROUND


def _weighted(rec: DataFrame, weight: float, child: int) -> DataFrame:
    """``rec``'s rows tagged with its blend weight and child number."""
    return rec.select(
        "user_id", "item_id", "score", F.lit(weight).alias("w"), F.lit(child).alias("child")
    )


def hybrid_topk(
    rec_a: DataFrame,
    rec_b: DataFrame,
    weight_a: float = 0.6,
    weight_b: float = 0.4,
    k_items: int = 5,
) -> DataFrame:
    """Blend two scored recommendation DataFrames into a top-K.

    Inputs carry ``(user_id, item_id, score)``; each child's score
    becomes ``weight · score / max(score)`` per user
    (HybridRecommenderTopK.scala:69-79), and an item present in both
    lists sums its weighted normalized scores (the reference's
    driver-side groupBy(_._1).mapValues(sum), :116-118).

    One exchange on user_id serves every later step: the per-(user,
    child) max, the (user, item) sum and the per-user rank all group
    within a user.
    """
    rows = (
        _weighted(rec_a, weight_a, 0)
        .unionByName(_weighted(rec_b, weight_b, 1))
        .repartition("user_id")
    )
    mx = F.max("score").over(Window.partitionBy("user_id", "child"))
    # A user whose entire child list scores exactly 0 makes max(score)
    # a zero denominator — ANSI Spark errors where the reference's
    # Scala doubles gave NaN.  Emit NULL instead (mirrored by NULLIF
    # in the oracle SQL): sum() ignores it, so the other child's
    # weighted score still counts, and an all-NULL user ranks last.
    blended = (
        rows.select(
            "user_id",
            "item_id",
            F.when(mx != 0.0, F.col("w") * F.col("score") / mx).alias("wscore"),
        )
        .groupBy("user_id", "item_id")
        .agg(qround(F.sum("wscore"), SCORE_ROUND).alias("score"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        blended.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_items)
        .select("user_id", "item_id", "score", "rank")
    )
