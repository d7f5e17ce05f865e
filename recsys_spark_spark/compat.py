"""Reference-shaped compatibility API.

Thin classes mirroring the reference's public surface
(recommender/RecommenderInterface.scala:27-51: ``fit(df)`` then
``transform(...)``) so code written against danitico/recsys-spark maps
1:1 onto this engine:

    rec = UserBasedTopKRecommender(k_users=25, top_k=5,
                                   similarity="cosine")
    rec.fit(ratings_df)
    rec.transform()            # DataFrame, ALL users at once
    rec.transform_user(42)     # [(item_id, score)], one user

Differences from the reference, by design:
- ``transform()`` scores every user in one distributed plan (the
  reference scores one user per call in a driver loop,
  UserBasedTopKRecommender.scala:76-90); ``transform_user`` is the
  one-user convenience wrapper and is the ONLY place a collect
  happens — on k rows.
- ``fit`` caches the long-format ratings DataFrame instead of
  materializing a dense matrix (BaseRecommender.scala:87-132).
- parameter names follow the reference's setters: k_users /
  k_similar_items, top_k, similarity kernel name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lifecycle import materialize, release
from .recommenders.content import content_similarities, predict_content_based
from .recommenders.hybrid import hybrid_topk
from .recommenders.neighborhood import (
    _rank_items,
    item_based_scored,
    predict_item_based,
    predict_user_based,
    scored_from_item_sims,
    user_based_scored,
)


def _own_ratings(model: object, ratings: DataFrame) -> DataFrame:
    """Release ``model``'s previous fit (its cached ratings and result)
    and cache the long-format ratings under it (no dense matrix)."""
    release(model)
    return materialize(ratings.select("user_id", "item_id", "rating"), owner=model)


class _BaseTopK:
    """Shared fit/transform plumbing (RecommenderInterface parity)."""

    def __init__(self) -> None:
        self._ratings: DataFrame | None = None
        self._result: DataFrame | None = None

    def fit(self, ratings: DataFrame) -> "_BaseTopK":
        """M1: cache the long-format ratings (no dense matrix).
        Refitting releases the previous fit's cache entry (same-plan
        cache() calls share one entry, so the hybrid's two children
        fitting the same frame hold it once, not twice).

        CAVEAT on the shared entry: because the cache is plan-keyed,
        refitting instance A on new data unpersists an entry another
        live instance B (fitted on the SAME frame) may still be using
        — B keeps working but recomputes from source on its next
        action.  Correctness is unaffected; refit instances you
        intend to keep sharing last."""
        self._ratings = _own_ratings(self, ratings)
        self._result = None
        return self

    def _transform_all(self) -> DataFrame:
        """The top_k ranking of the subclass' pre-rank ``_scored_all()``
        (what ``*_topk`` computes without a neighbor prefilter)."""
        return _rank_items(self._scored_all(), self.top_k)

    def transform(self) -> DataFrame:
        """(user_id, item_id, score, rank) for EVERY user.

        The result is cache()d: the reference-shaped per-user loop
        (``for u in users: rec.transform_user(u)``) would otherwise
        re-execute the full distributed CF computation on every
        collect — with the cache, the first action materializes it
        once and each later lookup is a cache read."""
        if self._ratings is None:
            raise RuntimeError("fit() first")
        if self._result is None:
            self._result = materialize(self._transform_all(), owner=self)
        return self._result

    def transform_user(self, user_id: int) -> list[tuple[int, float]]:
        """Reference-call-shape convenience: one user's ordered top-K
        as (item_id, score) tuples."""
        rows = (
            self.transform()
            .where(F.col("user_id") == user_id)
            .orderBy("rank")
            .collect()
        )
        return [(r["item_id"], r["score"]) for r in rows]


class UserBasedTopKRecommender(_BaseTopK):
    """Reference UserBasedTopKRecommender.scala:40-91."""

    def __init__(
        self, k_users: int = 25, top_k: int = 5, similarity: str = "cosine"
    ) -> None:
        super().__init__()
        self.k_users, self.top_k, self.similarity = k_users, top_k, similarity

    def _scored_all(self) -> DataFrame:
        return user_based_scored(
            self._ratings,
            k_neighbors=self.k_users,
            kernel=self.similarity,
        )


class ItemBasedTopKRecommender(_BaseTopK):
    """Reference ItemBasedTopKRecommender.scala:44-94."""

    def __init__(
        self,
        k_similar_items: int = 25,
        top_k: int = 5,
        similarity: str = "cosine",
    ) -> None:
        super().__init__()
        self.k_similar_items, self.top_k, self.similarity = (
            k_similar_items,
            top_k,
            similarity,
        )

    def _scored_all(self) -> DataFrame:
        return item_based_scored(
            self._ratings,
            k_neighbors=self.k_similar_items,
            kernel=self.similarity,
        )


class ContentBasedTopKRecommender(_BaseTopK):
    """Reference ContentBasedTopKRecommender.scala:52-98; features set
    via ``set_features`` (ContentRecommender.scala:32-53)."""

    def __init__(
        self,
        k_similar_items: int = 25,
        top_k: int = 5,
        similarity: str = "cosine",
    ) -> None:
        super().__init__()
        self.k_similar_items, self.top_k, self.similarity = (
            k_similar_items,
            top_k,
            similarity,
        )
        self._features: DataFrame | None = None

    def set_features(self, features: DataFrame) -> "ContentBasedTopKRecommender":
        """Long-format (item_id, key, r) feature frame — see
        recommenders/content.py for the one-hot/scaled builder."""
        self._features = features
        return self

    def _scored_all(self) -> DataFrame:
        if self._features is None:
            raise RuntimeError("set_features() first")
        sims = content_similarities(self._features, self.similarity)
        return scored_from_item_sims(sims, self._ratings, self.k_similar_items)


class HybridRecommenderTopK(_BaseTopK):
    """Reference HybridRecommenderTopK.scala:81-121: weighted blend of
    two fitted child recommenders (defaults 0.6/0.4, :33-34)."""

    def __init__(
        self,
        first: _BaseTopK,
        second: _BaseTopK,
        weight_first: float = 0.6,
        weight_second: float = 0.4,
        top_k: int = 5,
    ) -> None:
        super().__init__()
        self.first, self.second = first, second
        self.weight_first, self.weight_second = weight_first, weight_second
        self.top_k = top_k

    def fit(self, ratings: DataFrame) -> "HybridRecommenderTopK":
        self.first.fit(ratings)
        self.second.fit(ratings)
        self._ratings = self.first._ratings
        self._result = None
        return self

    def _transform_all(self) -> DataFrame:
        # blend the children's FULL pre-rank scored relations, not
        # their truncated top-k lists: the reference normalizes and
        # merges each child's complete ranking before taking top-K
        # (HybridRecommenderTopK.scala:69-79,116-120), so an item
        # ranked just past a child's top_k can still win the blend.
        # A child without a scored form (the sequential recommender)
        # contributes its top-k list — which is ALSO the reference's
        # behavior for that child (:97-107 transforms it to a k-item
        # Seq before normalizing).
        def _scored(child):
            fn = getattr(child, "_scored_all", None)
            return fn() if fn is not None else child.transform()

        return hybrid_topk(
            _scored(self.first),
            _scored(self.second),
            weight_a=self.weight_first,
            weight_b=self.weight_second,
            k_items=self.top_k,
        )


class UserBasedRatingRecommender:
    """Reference UserBasedRatingRecommender.scala:34-77: predict the
    rating of explicit (user, item) pairs."""

    def __init__(self, k_users: int = 25, similarity: str = "cosine") -> None:
        self.k_users, self.similarity = k_users, similarity
        self._ratings: DataFrame | None = None

    def fit(self, ratings: DataFrame) -> "UserBasedRatingRecommender":
        self._ratings = _own_ratings(self, ratings)
        return self

    def transform(self, pairs: DataFrame) -> DataFrame:
        if self._ratings is None:
            raise RuntimeError("fit() first")
        return predict_user_based(
            self._ratings, pairs, k_neighbors=self.k_users, kernel=self.similarity
        )


class ItemBasedRatingRecommender:
    """Reference ItemBasedRatingRecommender.scala:36-72."""

    def __init__(self, k_similar_items: int = 25, similarity: str = "cosine") -> None:
        self.k_similar_items, self.similarity = k_similar_items, similarity
        self._ratings: DataFrame | None = None

    def fit(self, ratings: DataFrame) -> "ItemBasedRatingRecommender":
        self._ratings = _own_ratings(self, ratings)
        return self

    def transform(self, pairs: DataFrame) -> DataFrame:
        if self._ratings is None:
            raise RuntimeError("fit() first")
        return predict_item_based(
            self._ratings,
            pairs,
            k_neighbors=self.k_similar_items,
            kernel=self.similarity,
        )


class SequentialTopKRecommender:
    """Reference SequentialTopKRecommender.scala:42-70 setter surface
    over recommenders.sequential.SequentialTopK (KMeans-for-SOM
    divergence documented there)."""

    def __init__(
        self,
        k: int = 5,
        height: int = 3,
        width: int = 3,
        number_periods: int = 5,
        min_support: float = 0.01,
        min_confidence: float = 0.2,
        min_support_seq: float = 0.01,
        min_confidence_seq: float = 0.05,
        seed: int = 42,
    ) -> None:
        from .recommenders.sequential import SequentialTopK

        self._model = SequentialTopK(
            k_items=k,
            grid_height=height,
            grid_width=width,
            n_periods=number_periods,
            min_support=min_support,
            min_confidence=min_confidence,
            min_support_seq=min_support_seq,
            min_confidence_seq=min_confidence_seq,
            seed=seed,
        )

    def fit(self, interactions: DataFrame) -> "SequentialTopKRecommender":
        """interactions: (user_id, item_id, ts)."""
        self._model.fit(interactions)
        return self

    def transform(self) -> DataFrame:
        return self._model.recommend()

    def transform_user(self, user_id: int) -> list[tuple[str, float]]:
        rows = (
            self.transform()
            .where(F.col("user_id") == user_id)
            .orderBy("rank")
            .collect()
        )
        return [(r["item_id"], r["score"]) for r in rows]


class ContentBasedRatingRecommender:
    """Reference ContentBasedRatingRecommender.scala:26-105: predict
    the rating of explicit (user, item) pairs from feature-space item
    neighbors (zero-similarity pairs fall back to Euclidean — the K5
    rule, :34-42, applied inside ``content_similarities``)."""

    def __init__(
        self, k_similar_items: int = 25, similarity: str = "cosine"
    ) -> None:
        self.k_similar_items, self.similarity = k_similar_items, similarity
        self._ratings: DataFrame | None = None
        self._features: DataFrame | None = None

    def fit(self, ratings: DataFrame) -> "ContentBasedRatingRecommender":
        self._ratings = _own_ratings(self, ratings)
        return self

    def set_features(
        self, features: DataFrame
    ) -> "ContentBasedRatingRecommender":
        """Long-format (item_id, key, r) feature frame."""
        self._features = features
        return self

    def transform(self, pairs: DataFrame) -> DataFrame:
        if self._ratings is None or self._features is None:
            raise RuntimeError("fit() and set_features() first")
        return predict_content_based(
            self._ratings,
            self._features,
            pairs,
            k_neighbors=self.k_similar_items,
            kernel=self.similarity,
        )


class PredictionMetrics:
    """Reference PredictionMetrics.scala:24-45: (RMSE, MAE) over
    prediction errors.  Accepts an errors DataFrame (distributed — the
    engine-native path) or a plain Python sequence (driver-side parity
    with the reference's Array[Double] constructor)."""

    def __init__(self, errors, error_col: str = "error") -> None:
        self._errors, self._error_col = errors, error_col

    def get_prediction_metrics(self) -> tuple[float, float]:
        # empty input → (nan, nan), matching the reference's Scala
        # 0.0/0 double arithmetic (avg over zero rows is NULL here,
        # and float(None) would raise instead)
        if isinstance(self._errors, DataFrame):
            row = self._errors.agg(
                F.sqrt(F.avg(F.pow(F.col(self._error_col), 2))).alias("rmse"),
                F.avg(F.abs(F.col(self._error_col))).alias("mae"),
            ).first()
            rmse = float("nan") if row["rmse"] is None else float(row["rmse"])
            mae = float("nan") if row["mae"] is None else float(row["mae"])
            return rmse, mae
        import math

        errs = list(self._errors)
        if not errs:
            return float("nan"), float("nan")
        rmse = math.sqrt(sum(e * e for e in errs) / len(errs))
        mae = sum(abs(e) for e in errs) / len(errs)
        return rmse, mae


class RankingMetrics:
    """Reference RankingMetrics.scala:21-55: (precision@k, recall@k,
    AP@k) for one user's selected/relevant sets.  Mirrors the
    reference's quirks exactly: precision divides by k (not
    |selected|), recall of an empty relevant set is 0, and AP averages
    ordered-prefix precisions over ALL k positions (not only hits —
    see metrics/evaluation.py:81 for the distributed form and the
    divergence note).  ``selected`` must be in rank order, and is
    expected to BE the top-k list: like the reference (whose selected
    is a Set), no [:k] truncation is applied, so passing more than k
    items inflates precision — parity, not a defect."""

    def __init__(self, k: int, selected, relevant) -> None:
        self._k = k
        self._selected = list(selected)
        self._relevant = set(relevant)

    def get_ranking_metrics(self) -> tuple[float, float, float]:
        if self._k == 0:
            # the reference's Scala double division by 0.0 yields NaN
            # without throwing (RankingMetrics.scala:37-39,49-53);
            # Python int/float would raise — mirror the NaN
            nan = float("nan")
            recall0 = (
                len(set(self._selected) & self._relevant)
                / float(len(self._relevant))
                if self._relevant
                else 0.0
            )
            return nan, recall0, nan
        hits = set(self._selected) & self._relevant
        precision = len(hits) / float(self._k)
        recall = (
            len(hits) / float(len(self._relevant)) if self._relevant else 0.0
        )
        ap = (
            sum(
                len(set(self._selected[:i]) & self._relevant) / float(i)
                for i in range(1, self._k + 1)
            )
            / self._k
        )
        return precision, recall, ap
