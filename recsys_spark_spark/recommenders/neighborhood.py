"""User-based and item-based neighborhood CF, all-users-at-once.

The reference scores ONE user per call with single-threaded driver
loops over a dense matrix (UserBasedTopKRecommender.scala:40-91,
ItemBasedTopKRecommender.scala:44-94 — O(users·items·veclen) per user,
model shipped inside every task closure, Main.scala:96-111).  Here each
recommender is ONE distributed plan for every user simultaneously:

    co-rated self-join sims  →  candidate join  →  anti-join rated
    →  per-(user,item) neighbor window rank ≤ k  →  aggregate score
    →  per-user item window rank ≤ K

Semantics preserved from the reference (cited):
- neighbors are selected PER CANDIDATE ITEM among the entities that
  actually rated it (UserBasedRatingRecommender.scala:34-53 filters
  raters before ranking);
- user-based prediction is the mean-centered weighted average
  ``mean_u + Σ sim·(r_n − mean_n) / Σ sim``
  (UserBasedRatingRecommender.scala:62-77); means are over *rated*
  entries only (the filter(_>0) at :41,67);
- item-based prediction is the plain weighted average
  ``Σ sim·r / Σ |sim|`` (ItemBasedRatingRecommender.scala:52-72; the
  reference folds the denominator with reduce(abs+abs), which equals
  Σ|sim| for ≥2 neighbors — we use Σ|sim| and document the 1-element
  quirk divergence);
- ties rank by ascending id (the reference's stable sort leaves ties in
  ascending candidate order, SURVEY §2.6).

Scores are rounded (7 dp for sims = SIM_ROUND, 6 dp for final scores)
BEFORE ranking so that rank decisions are stable across engines —
last-ulp float noise must not flip a top-k boundary when results are
hash-compared against a SQL oracle.

Shared-model path (``prefilter_neighbors`` set): an axis build reads
ratings from a lineage-free index (``ratings_index``: one
``lifecycle.checkpoint`` per ratings frame of ``(user_id, item_id,
rating)`` plus each row's item rater count, user row count and user
mean) and ends in a checkpoint of its ranked top-k (``_rank_items``).
Both axes of one train split read the same index, which the first
call takes; the hot-key guard is a filter on its count columns and the
user-based scores centre on its mean column, so neither axis
aggregates them.  What the calls leave behind, under owner
``"neighborhood"``, is the ranked models and the one live index.

Scale notes: every stage is a key-partitioned shuffle Catalyst can
plan; the only quadratic term is the co-rated pair join, capped via
``max_raters_per_item`` (hot-item cutoff) or replaced by LSH
(operators/knn.py) above ~10⁸ pair rows.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import lifecycle
from ..functions.rounding import qround
from ..functions.similarity import (
    INDEX_COLUMNS,
    pairwise_similarity,
    with_index_columns,
)

# Similarities are rounded to 7 dp BEFORE any ranking: cross-engine
# float noise (~1e-15) then flips a rank boundary only when two sims
# differ by <1e-7 AND straddle a rounding edge (~1e-8 per comparison);
# values that round equal tie-break deterministically by id.
SIM_ROUND = 7
SCORE_ROUND = 6


#: the live ratings index as (source frame, index frame, release
#: token), or None.  At most one is alive (see ratings_index)
_live: tuple[DataFrame, DataFrame, object] | None = None
_live_lock = threading.Lock()


def ratings_index(ratings: DataFrame) -> DataFrame:
    """The ratings every shared-path CF build reads: one lineage-free
    ``lifecycle.checkpoint`` of ``(user_id, item_id, rating)`` plus, per
    row, the item's rater count, the user's row count and the user's
    mean (``functions.similarity.with_index_columns``).

    Memoized by the input's plan (``sameSemantics``, the way Spark's own
    cache matches a relation), so ``user_based_topk(train)`` followed by
    ``item_based_topk(train)`` — or the two axes of ``hybrid_topk_q`` —
    take one index checkpoint between them.  A frame that already is
    an index is returned as it is.

    Every stage of an axis reads ratings (sims, hot-key guard, stats,
    means, candidate joins, seen-set anti-join).  Over the index:

    - the hot-key guard is a filter on a count column and the user
      means are columns, so neither is an aggregate of the axis plan;
    - AQE reuses an exchange that two of an axis' stages share
      (``ReusedExchange``); over a cached relation it never does;
    - the upstream plan, e.g. a CV split with its fold literal, runs in
      the one index checkpoint, so the generated classes of every later
      stage are identical across folds and hit the codegen cache.

    At most one index is alive: it is released by
    ``lifecycle.release("neighborhood")`` (or a bare release), or when a
    call on a different frame replaces it.  That is safe because every
    shared-path build ends in a lineage-free ranked checkpoint
    (``_rank_items(share=True)``), so no lazy plan reads an old index.
    A caller that rewrites its input files in place under the same plan
    releases first, as it would with a Spark cache."""
    global _live
    if set(INDEX_COLUMNS) <= set(ratings.columns):
        return ratings
    with _live_lock:
        if _live is not None:
            source, index, token = _live
            if source.sameSemantics(ratings):
                return index
            _live = None
            lifecycle.release(token)
        token = object()
        index = lifecycle.checkpoint(with_index_columns(ratings), owner=token)
        _live = (ratings, index, token)
        lifecycle.on_release(lambda: _forget(token), owner="neighborhood")
    return index


def _forget(token: object) -> None:
    """Release the index checkpointed under ``token``, and drop it from
    the memo if it is still the live one."""
    global _live
    with _live_lock:
        if _live is not None and _live[2] is token:
            _live = None
    lifecycle.release(token)


def _rank_items(
    scored: DataFrame, k_items: int, share: bool = False
) -> DataFrame:
    """Per-user top-k by (score desc, item_id asc).

    ``share=True`` (the shared-model paths): the O(users·k)-row ranked
    relation is checkpointed (``lifecycle.checkpoint``, owner
    ``"neighborhood"``) as the axis' model boundary.  The checkpoint is
    eager, so one action composing two models (the hybrid blend) never
    runs both quadratic axes inside one job.  Everything built on the
    axis afterwards — the blend, the ranking metrics, a caller's own
    persist — plans over a scan of the checkpoint instead of the full
    axis lineage (thousands of plan lines per axis under a cache, which
    keeps it), so the driver no longer re-analyzes the axis for every
    later stage.  Once it is taken, nothing lazy reads the axis'
    ratings index (see ``ratings_index``), so a later call may replace
    it.

    The ranked relation is the only materialized level on the scored
    path: the pre-rank ``scored`` relation is read exactly once,
    through this window, so caching it bought no reuse, and its
    storage pushed the axis sorts into multi-GB spills on a contended
    host (measured in OPTIMIZATION_r14.md)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_items)
        .select("user_id", "item_id", "score", "rank")
    )
    if share:
        return lifecycle.checkpoint(ranked, owner="neighborhood")
    return ranked


def _neighbor_list(sims: DataFrame, ent: str, neighbor: str) -> DataFrame:
    """``(ent, neighbor, sim)`` from a directed pair-similarity frame
    ``(<axis>_a, <axis>_b, sim)``, the sim rounded to ``SIM_ROUND``
    before anything ranks it; user sims over an index keep ``mean_a``,
    the user mean of ``ent``."""
    a, b = sims.columns[:2]
    return sims.select(
        F.col(a).alias(ent),
        F.col(b).alias(neighbor),
        qround("sim", SIM_ROUND).alias("sim"),
        *(["mean_a"] if "mean_a" in sims.columns else []),
    )


def _axis_neighbors(
    ratings: DataFrame,
    kernel: str,
    axis: str,
    ent: str,
    neighbor: str,
    max_raters_per_item: int | None = None,
    use_lsh_candidates: bool = False,
    euclidean_fallback: bool = False,
) -> DataFrame:
    """Rounded directed neighbor list ``(ent, neighbor, sim)`` for one
    axis — the exact co-rated self-join by default, or sign-LSH
    candidate generation with exact rerank when ``use_lsh_candidates``
    (the extreme-scale switch: same similarity VALUES for every emitted
    pair, recall < 1 on the pair SET; see operators/cf_lsh.py and
    tests/test_cf_lsh.py)."""
    if use_lsh_candidates:
        from ..operators.cf_lsh import lsh_pairwise_similarity as pairs_fn
    else:
        pairs_fn = pairwise_similarity
    sims = pairs_fn(
        ratings,
        kernel=kernel,
        axis=axis,
        directed=True,
        max_raters_per_item=max_raters_per_item,
        euclidean_fallback=euclidean_fallback,
    )
    return _neighbor_list(sims, ent, neighbor)


def user_based_scored(
    ratings: DataFrame,
    k_neighbors: int = 25,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
    prefilter_neighbors: int | None = None,
    use_lsh_candidates: bool = False,
) -> DataFrame:
    """Pre-rank scored candidates ``(user_id, item_id, score)`` for
    user k-NN — everything in :func:`user_based_topk` except the final
    per-user rank filter.  NOT materialized: every consumer reads it
    exactly once, through the rank window of _rank_items, whose output
    is the checkpointed model."""
    ratings = with_index_columns(ratings)
    sims = _axis_neighbors(
        ratings, kernel, "user", "user_id", "neighbor",
        max_raters_per_item, use_lsh_candidates,
    )

    if prefilter_neighbors is not None:
        wp = Window.partitionBy("user_id").orderBy(F.desc("sim"), F.asc("neighbor"))
        # the pruned neighbor list IS the fitted k-NN model —
        # O(users·N) rows, read once by the candidate join below.  Not
        # cached: on the shared path it is built over a ratings index
        # that a call on another frame releases
        sims = (
            sims.withColumn("prn", F.row_number().over(wp))
            .where(F.col("prn") <= prefilter_neighbors)
            .drop("prn")
        )

    # the neighbor's centred rating r_n − mean_n is an index column
    # expression: no means aggregate, no means join.  Projected before
    # the candidate relation crosses an exchange and two window sorts
    # (guide §2.3): only the difference is read downstream
    neigh_r = ratings.select(
        F.col("user_id").alias("neighbor"),
        "item_id",
        (F.col("rating") - F.col("mean_u")).alias("rc"),
    )
    # candidate (user, item): some neighbor rated it...
    cand = sims.join(neigh_r, "neighbor")
    # ...and the user did not (anti-join replaces the reference's
    # filter(_._1 == 0) unrated scan, UserBasedTopKRecommender.scala:78)
    cand = cand.join(
        ratings.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    )

    w = Window.partitionBy("user_id", "item_id").orderBy(
        F.desc("sim"), F.asc("neighbor")
    )
    top = cand.withColumn("nrank", F.row_number().over(w)).where(
        F.col("nrank") <= k_neighbors
    )

    # r15: the neighbor aggregation is WINDOW sums over the same
    # (user_id, item_id) partitioning instead of a groupBy.  The input
    # is already exchanged+sorted for the nrank window and the group
    # count ≈ the row count (~24M groups from ~26M rows at sf0.1), so
    # the groupBy planned a fused partial+final HashAggregate pair
    # that built two ~24M-entry hash maps for ~0% reduction (profiled:
    # ~110 task-s of aggregation build per axis, and their memory
    # squeezed the adjacent rank-window sort into multi-GB spills).
    # The unbounded-frame window reuses the existing partitioning and
    # order — no exchange, no sort, no hash map; nrank == 1 then keeps
    # exactly one row per group.  Values identical up to float sum
    # order, absorbed by the SCORE_ROUND rounding (the same tolerance
    # class the DuckDB oracle comparison already rides on).
    wg = Window.partitionBy("user_id", "item_id")
    scored = (
        # both sums in ONE select → one Window operator (two chained
        # withColumn calls planned two Window passes over the relation)
        top.select(
            "*",
            F.sum("sim").over(wg).alias("sim_total"),
            F.sum(F.col("sim") * F.col("rc")).over(wg).alias("_num"),
        )
        .where(F.col("nrank") == 1)
        .where(F.col("sim_total") != 0)
        .select(
            "user_id",
            "item_id",
            # mean_a: the user's own mean, carried by the sims
            qround(
                F.col("mean_a") + F.col("_num") / F.col("sim_total"),
                SCORE_ROUND,
            ).alias("score"),
        )
    )
    return scored


def user_based_topk(
    ratings: DataFrame,
    k_neighbors: int = 25,
    k_items: int = 5,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
    prefilter_neighbors: int | None = None,
    use_lsh_candidates: bool = False,
) -> DataFrame:
    """Top-K unrated items per user via user k-NN (reference M3).

    Returns ``(user_id, item_id, score, rank)`` for every user.

    ``prefilter_neighbors``: keep only each user's N globally
    most-similar neighbors before the candidate join.  The reference
    ranks neighbors per candidate item over ALL raters
    (UserBasedRatingRecommender.scala:34-53); pre-pruning bounds the
    candidate explosion to O(users·N·ratings-per-neighbor) — the knob
    that keeps this plan feasible at 100 TB.  Exact reference semantics
    = ``prefilter_neighbors=None``.

    With ``prefilter_neighbors`` set, the ranked top-k is checkpointed
    as the model (see _rank_items); without it the plan is built
    without running any Spark job.

    ``use_lsh_candidates=True`` swaps the co-rated pair self-join for
    sign-LSH candidate generation with exact rerank — the
    extreme-scale switch (see _axis_neighbors / operators/cf_lsh.py).
    """
    share = prefilter_neighbors is not None
    scored = user_based_scored(
        ratings_index(ratings) if share else ratings,
        k_neighbors=k_neighbors,
        kernel=kernel,
        max_raters_per_item=max_raters_per_item,
        prefilter_neighbors=prefilter_neighbors,
        use_lsh_candidates=use_lsh_candidates,
    )
    return _rank_items(scored, k_items, share=share)


def item_based_scored(
    ratings: DataFrame,
    k_neighbors: int = 25,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
    prefilter_neighbors: int | None = None,
    use_lsh_candidates: bool = False,
) -> DataFrame:
    """Pre-rank scored candidates for item k-NN — :func:`item_based_topk`
    minus the final rank filter (see user_based_scored)."""
    sims = _axis_neighbors(
        ratings, kernel, "item", "item_id", "neighbor_item",
        max_raters_per_item, use_lsh_candidates,
    )
    return scored_from_item_sims(sims, ratings, k_neighbors, prefilter_neighbors)


def item_based_topk(
    ratings: DataFrame,
    k_neighbors: int = 25,
    k_items: int = 5,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
    prefilter_neighbors: int | None = None,
    use_lsh_candidates: bool = False,
) -> DataFrame:
    """Top-K unrated items per user via item k-NN (reference M5).

    For each unrated candidate item, its neighbors are the k most
    similar items *among the items the user rated*
    (ItemBasedTopKRecommender.scala:44-94).

    ``use_lsh_candidates``: see :func:`user_based_topk`.
    """
    share = prefilter_neighbors is not None
    scored = item_based_scored(
        ratings_index(ratings) if share else ratings,
        k_neighbors=k_neighbors,
        kernel=kernel,
        max_raters_per_item=max_raters_per_item,
        prefilter_neighbors=prefilter_neighbors,
        use_lsh_candidates=use_lsh_candidates,
    )
    return _rank_items(scored, k_items, share=share)


def scored_from_item_sims(
    sims: DataFrame,
    ratings: DataFrame,
    k_neighbors: int,
    prefilter_neighbors: int | None = None,
) -> DataFrame:
    """Pre-rank scored candidates ``(user_id, item_id, score)`` from a
    directed item-similarity DataFrame — :func:`topk_from_item_sims`
    minus the final per-user rank filter.  NOT materialized (see
    user_based_scored: the ranked model is the checkpoint)."""
    if prefilter_neighbors is not None:
        # the classic item-CF model shape: each item keeps its N most
        # similar items; bounds the candidate join at scale.  Not
        # cached, like the user-axis model (see user_based_scored)
        wp = Window.partitionBy("item_id").orderBy(
            F.desc("sim"), F.asc("neighbor_item")
        )
        sims = (
            sims.withColumn("prn", F.row_number().over(wp))
            .where(F.col("prn") <= prefilter_neighbors)
            .drop("prn")
        )

    user_r = ratings.select(
        "user_id", F.col("item_id").alias("neighbor_item"), F.col("rating").alias("r_u")
    )
    # candidate (user, item): the user rated a similar item...
    cand = sims.join(user_r, "neighbor_item")
    # ...and has not rated the candidate itself
    cand = cand.join(
        ratings.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    )

    w = Window.partitionBy("user_id", "item_id").orderBy(
        F.desc("sim"), F.asc("neighbor_item")
    )
    top = cand.withColumn("nrank", F.row_number().over(w)).where(
        F.col("nrank") <= k_neighbors
    )

    # window sums instead of groupBy — same rationale as
    # user_based_scored (r15): groups ≈ rows, so the fused
    # partial+final HashAggregate pair built huge hash maps for ~0%
    # reduction; the unbounded-frame window reuses the nrank window's
    # exchange and sort outright
    wg = Window.partitionBy("user_id", "item_id")
    scored = (
        top.select(
            "*",
            F.sum(F.col("sim") * F.col("r_u")).over(wg).alias("num"),
            F.sum(F.abs("sim")).over(wg).alias("den"),
        )
        .where(F.col("nrank") == 1)
        .where(F.col("den") != 0)
        .select(
            "user_id",
            "item_id",
            qround(F.col("num") / F.col("den"), SCORE_ROUND).alias("score"),
        )
    )
    return scored


def topk_from_item_sims(
    sims: DataFrame,
    ratings: DataFrame,
    k_neighbors: int,
    k_items: int,
    prefilter_neighbors: int | None = None,
) -> DataFrame:
    """Item-neighbor scoring core: top-K per user from a directed
    item-similarity DataFrame ``(item_id, neighbor_item, sim)``.

    Shared by item-based CF (M5, rating-space sims) and content-based
    (M8, feature-space sims) — the reference implements these twice
    with identical scoring (ItemBasedTopKRecommender.scala:62-70,
    ContentBasedTopKRecommender.scala:71-79: Σ sim·r / Σ|sim|).
    """
    share = prefilter_neighbors is not None
    if share:
        ratings = ratings_index(ratings)
    scored = scored_from_item_sims(sims, ratings, k_neighbors, prefilter_neighbors)
    return _rank_items(scored, k_items, share=share)


def predict_user_based(
    ratings: DataFrame,
    pairs: DataFrame,
    k_neighbors: int = 25,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
) -> DataFrame:
    """Predict ratings for explicit (user_id, item_id) pairs (reference M2).

    ``pred = mean_u + Σ sim·(r_n − mean_n) / Σ sim`` over the k most
    similar users who rated the item
    (UserBasedRatingRecommender.scala:34-77).
    Returns ``(user_id, item_id, prediction)``.

    ``max_raters_per_item`` is the same hot-key cutoff the top-K path
    carries (see plans/recsys.py::MAX_RATERS_PER_ITEM) — without it the
    prediction family keeps the uncapped quadratic pair join the top-K
    family already guards against.
    """
    ratings = with_index_columns(ratings)
    sims = _axis_neighbors(
        ratings, kernel, "user", "user_id", "neighbor", max_raters_per_item
    )
    # index columns: the neighbor's centred rating per row, and the
    # user's own mean through the sims (see user_based_scored)
    neigh_r = ratings.select(
        F.col("user_id").alias("neighbor"),
        "item_id",
        (F.col("rating") - F.col("mean_u")).alias("rc"),
    )
    # JOIN ORDER MATTERS (r11, measured): pairs ⋈ sims first builds
    # |pairs| × sims-per-user candidates — sims-per-user grows with
    # corpus density (the quadratic co-rating regime), and the shape
    # measured >20x superlinear from sf0.01 to sf0.1 (28 s → >560 s).
    # Joining the RATERS OF THE ITEM first bounds candidates at
    # |pairs| × raters-per-item (a data-model constant under the
    # max_raters_per_item cap); the sims join then lands on BOTH keys
    # (user, neighbor) — selective, never expanding.  Inner joins
    # commute, so the candidate SET (neighbors who rated the item,
    # with a sim to the user) is identical.
    cand = pairs.join(neigh_r, "item_id").join(sims, ["user_id", "neighbor"])
    w = Window.partitionBy("user_id", "item_id").orderBy(
        F.desc("sim"), F.asc("neighbor")
    )
    top = cand.withColumn("nrank", F.row_number().over(w)).where(
        F.col("nrank") <= k_neighbors
    )
    return (
        top.groupBy("user_id", "item_id")
        .agg(
            (F.sum(F.col("sim") * F.col("rc")) / F.sum("sim")).alias("delta"),
            F.sum("sim").alias("sim_total"),
            F.first("mean_a").alias("mean_a"),
        )
        .where(F.col("sim_total") != 0)
        .select(
            "user_id",
            "item_id",
            qround(F.col("mean_a") + F.col("delta"), SCORE_ROUND).alias(
                "prediction"
            ),
        )
    )


def predict_item_based(
    ratings: DataFrame,
    pairs: DataFrame,
    k_neighbors: int = 25,
    kernel: str = "cosine",
    max_raters_per_item: int | None = None,
) -> DataFrame:
    """Predict ratings for explicit pairs via item k-NN (reference M4).

    ``pred = Σ sim·r_u / Σ |sim|`` over the k items most similar to the
    target among the user's rated items
    (ItemBasedRatingRecommender.scala:36-72).
    ``max_raters_per_item``: same skew guard as predict_user_based.
    """
    sims = _axis_neighbors(
        ratings, kernel, "item", "item_id", "neighbor_item", max_raters_per_item
    )
    return predict_from_item_sims(sims, ratings, pairs, k_neighbors)


def predict_from_item_sims(
    sims: DataFrame,
    ratings: DataFrame,
    pairs: DataFrame,
    k_neighbors: int = 25,
) -> DataFrame:
    """Rating prediction from a directed item-sims DataFrame — shared
    core of M4 (CF sims) and M7 (content sims):
    ``Σ sim·r / Σ |sim|`` over the k nearest rated items."""
    user_r = ratings.select(
        "user_id",
        F.col("item_id").alias("neighbor_item"),
        F.col("rating").alias("r_u"),
    )
    # same join-order lesson as predict_user_based (r11): the USER'S
    # RATED ITEMS first (|pairs| × items-per-user, a data-model
    # bound), then sims on BOTH keys — never |pairs| × sims-per-item
    cand = pairs.join(user_r, "user_id").join(
        sims, ["item_id", "neighbor_item"]
    )
    w = Window.partitionBy("user_id", "item_id").orderBy(
        F.desc("sim"), F.asc("neighbor_item")
    )
    top = cand.withColumn("nrank", F.row_number().over(w)).where(
        F.col("nrank") <= k_neighbors
    )
    return (
        top.groupBy("user_id", "item_id")
        .agg(
            F.sum(F.col("sim") * F.col("r_u")).alias("num"),
            F.sum(F.abs("sim")).alias("den"),
        )
        .where(F.col("den") != 0)
        .select(
            "user_id",
            "item_id",
            qround(F.col("num") / F.col("den"), SCORE_ROUND).alias("prediction"),
        )
    )
