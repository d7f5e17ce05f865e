"""Content-based recommender (reference M6-M8 + K5).

The reference assembles a feature CSV into dense vectors with
VectorAssembler, collects them to a driver list, and linear-scans it
per lookup (ContentRecommender.scala:32-53,
ContentBasedRatingRecommender.scala:55-58).  Here item features live in
a LONG-format DataFrame ``(item_id, idx, val)`` — one row per nonzero
feature — so feature similarity is the same co-key self-join as rating
similarity (functions/similarity.py) and the scoring core is shared
with item-based CF (recommenders/neighborhood.py).

Scale note: a dense feature (every item nonzero) makes the co-key join
quadratic through one hot key.  For wide dense embeddings use LSH
(operators/knn.py); for mixed catalogs keep dense numerics as a few
scalar columns and one-hot the categoricals (sparse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.similarity import pairwise_similarity_for_pairs
from .neighborhood import (
    _axis_neighbors,
    _neighbor_list,
    predict_from_item_sims,
    topk_from_item_sims,
)


def features_long_from_wide(features: DataFrame, id_col: str) -> DataFrame:
    """Reference S2 shape (id + numeric feature columns,
    Main.scala:53-59) → long format, zeros dropped.  The stack-based
    unpivot replaces VectorAssembler + driver collect."""
    value_cols = [c for c in features.columns if c != id_col]
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in value_cols)
    return (
        features.selectExpr(
            f"`{id_col}` as item_id",
            f"stack({len(value_cols)}, {pairs}) as (idx, val)",
        )
        .where(F.col("val") != 0.0)
    )


def part_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo content model for the star schema: one-hot brand/type plus
    scaled numeric size/price from ``part``."""
    from ..sources.readers import table

    p = table(spark, sf_dir, "part")
    return (
        p.select(
            F.col("p_partkey").alias("item_id"),
            F.concat(F.lit("brand:"), F.col("p_brand")).alias("idx"),
            F.lit(1.0).alias("val"),
        )
        .unionByName(
            p.select(
                F.col("p_partkey").alias("item_id"),
                F.concat(F.lit("type:"), F.col("p_type")).alias("idx"),
                F.lit(1.0).alias("val"),
            )
        )
        .unionByName(
            p.select(
                F.col("p_partkey").alias("item_id"),
                F.lit("size").alias("idx"),
                (F.col("p_size") / 50.0).alias("val"),
            )
        )
        .unionByName(
            p.select(
                F.col("p_partkey").alias("item_id"),
                F.lit("price").alias("idx"),
                (F.col("p_retailprice") / 2000.0).alias("val"),
            )
        )
    )


def content_similarities(
    features_long: DataFrame,
    kernel: str = "cosine",
    use_lsh_candidates: bool = False,
) -> DataFrame:
    """Directed item-item similarity in feature space with the K5
    Euclidean fallback, ready for the shared scoring cores.
    Returns ``(item_id, neighbor_item, sim)``.

    No hot-key cutoff on the feature join key: unlike rating data
    (where only pathological viral items are hot), a *dense* feature —
    one every item carries, e.g. the scaled ``size``/``price`` columns
    of part_features — is hot by construction, and dropping it changes
    the kernel.

    ``use_lsh_candidates`` is the scale path for dense features (r11):
    the operators/cf_lsh.py drop-in generates candidate pairs from
    sign-LSH band buckets over the feature vectors and scores ONLY
    candidates with the identical exact kernel — the |catalog|²
    dense-feature self-join never runs (measured 17.8x superlinear at
    sf0.1 on the exact path).  Recall is probabilistic (high-cosine
    pairs collide with prob → 1); emitted values are EXACT; the K5
    fallback's reachable set is recall-limited (moot on all-positive
    feature spaces, where cosine 0.0 never occurs)."""
    return _axis_neighbors(
        _feature_ratings(features_long),
        kernel,
        "user",  # entities are items, join key is the feature idx
        "item_id",
        "neighbor_item",
        use_lsh_candidates=use_lsh_candidates,
        euclidean_fallback=True,
    )


def _feature_ratings(features_long: DataFrame) -> DataFrame:
    """``(item_id, idx, val)`` features in the ratings shape the pair
    generators read: items as the user axis, feature idx as the key."""
    return features_long.select(
        F.col("item_id").alias("user_id"),
        F.col("idx").alias("item_id"),
        F.col("val").alias("rating"),
    )


def content_based_topk(
    ratings: DataFrame,
    features_long: DataFrame,
    k_neighbors: int = 25,
    k_items: int = 5,
    kernel: str = "cosine",
    prefilter_neighbors: int | None = None,
) -> DataFrame:
    """M8: top-K per user where neighbors are the feature-space nearest
    among the user's rated items
    (ContentBasedTopKRecommender.scala:52-98).

    DELIBERATELY NO ``use_lsh_candidates`` here (r11, measured): M8's
    final ranking is by the weighted-AVERAGE score Σ sim·r / Σ|sim|,
    which is not sim-monotone — a candidate similar mostly to one
    highly-rated item can outrank an everywhere-similar one, so the
    ranking READS low-sim pairs that LSH candidates legitimately drop
    (measured 0.075 row agreement on a planted high-cosine catalog
    where pair-level recall of true top-5 sims was >= 0.95).  The LSH
    switch is sound only for SIM-RANKED consumers (the predictors'
    k-most-similar neighbor selection); score-ranked top-k at catalog
    scale needs the exact relation or a changed (sim-monotone)
    scoring rule."""
    sims = content_similarities(features_long, kernel)
    return topk_from_item_sims(
        sims, ratings, k_neighbors, k_items, prefilter_neighbors
    )


def predict_content_based(
    ratings: DataFrame,
    features_long: DataFrame,
    pairs: DataFrame,
    k_neighbors: int = 25,
    kernel: str = "cosine",
) -> DataFrame:
    """M7: predicted rating for explicit pairs via feature k-NN
    (ContentBasedRatingRecommender.scala:44-87).

    PAIR-CONSTRAINED sims (r11, measured fix): the prediction only
    ever reads sims between a pair's TARGET item and the user's RATED
    items, so the needed pair set is |pairs| × items-per-user — while
    the old ``content_similarities(features)`` materialized ALL-item
    sims, which is |catalog|² through dense features (the
    part_features size/price columns every item carries; the hazard
    content_similarities' own docstring documents).  Measured: the
    all-pairs form took cf_predictions from 28 s (sf0.01) to >560 s
    (sf0.1) on local[32]; the constrained form restores linear
    scaling.  Values are identical — same stats, same
    kernel tail, same K5 fallback
    (functions/similarity.py::pairwise_similarity_for_pairs)."""
    needed = (
        pairs.join(
            ratings.select("user_id", F.col("item_id").alias("neighbor_item")),
            "user_id",
        )
        .select(
            F.col("item_id").alias("user_a"),
            F.col("neighbor_item").alias("user_b"),
        )
        .distinct()
    )
    sims = pairwise_similarity_for_pairs(
        _feature_ratings(features_long),
        needed,
        kernel=kernel,
        axis="user",
        euclidean_fallback=True,
    )
    return predict_from_item_sims(
        _neighbor_list(sims, "item_id", "neighbor_item"), ratings, pairs, k_neighbors
    )
