"""Similarity kernels as distributed co-rated self-join aggregations.

The reference computes similarity between two FULL dense vectors (zeros
at unrated positions) with driver-side loops
(reference similarity/CosineSimilarity.scala:24-33,
PearsonSimilarity.scala:24-37, EuclideanSimilarity.scala:24-28,
JaccardSimilarity.scala:22-29).  Here the rating matrix never exists:
for users a, b with long-format ratings, every full-vector kernel
reduces to three per-user scalars plus the co-rated dot product —

    dot     = Σ_{i co-rated} a_i·b_i          (zeros kill other terms)
    sum_a   = Σ a_i,  sumsq_a = Σ a_i²        (per-user aggregates)

    cosine   = dot / (√sumsq_a · √sumsq_b)
    pearson  = (dot − sum_a·sum_b/N) /
               (√(sumsq_a − sum_a²/N) · √(sumsq_b − sum_b²/N))
               — N = total item count: the reference's (quirky) means
               over the FULL array incl. zeros (PearsonSimilarity:24-37)
    euclid   = 1 / (√(sumsq_a + sumsq_b − 2·dot) + 1)
               (the +1 guard, EuclideanSimilarity.scala:25)
    jaccard  = co / (n_a + n_b − co)  over the rated-item sets
               (set form of the binary kernel, JaccardSimilarity:22-29)

Documented divergence: the reference's all-pairs driver loop also
scores pairs with NO co-rated item.  A distributed engine must not
enumerate O(n²) pairs at 100 TB, so pairs sharing zero items are
omitted here.  For cosine/jaccard this is exact (their similarity is
0 ⇒ never selected as a neighbor before any co-rated pair); for
euclidean it drops degenerate neighbors that carry no signal; for
pearson a zero-overlap pair is NOT exactly 0 in the reference (the
full-array numerator is −sum_a·sum_b/N, i.e. negative), so omission
can drop negative-similarity neighbors when fewer than k co-rated
ones exist — accepted divergence, same class as the euclidean one.

Three pair generators turn ratings into ``(ea, eb, dot, co)``: the
co-rated self-join (``pairwise_similarity``), the requested-pairs join
(``pairwise_similarity_for_pairs``) and sign-LSH candidates
(operators/cf_lsh.py).  They share everything else here: the axis
mapping and hot-key cutoff (``_axis_ratings``), the per-entity scalars
(``_entity_stats`` / ``_with_entity_stats``) and the kernel tail
(``_score_pairs``).

Scale: the self-join explodes per-item rater lists — O(Σ_item n_i²)
pair rows.  ``max_raters_per_item`` caps pathological hot items
(a standard frequent-item cutoff for neighborhood CF); above that, use
MinHashLSH / BucketedRandomProjectionLSH (operators/knn.py) instead of
the exact join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KERNELS = ("cosine", "pearson", "euclidean", "jaccard")


def with_kernel_column(
    df: DataFrame,
    kernel: str,
    n_cols_expr: Column,
) -> DataFrame:
    """Attach a ``sim`` column to a pair-stats DataFrame.

    ``df`` must carry: dot, co, sum_a, sumsq_a, n_a, sum_b, sumsq_b, n_b.
    ``n_cols_expr`` is the full vector length N (total distinct items /
    users), needed only by the Pearson full-array-mean quirk.
    """
    # Zero denominators are real inputs, not just fp edge cases: a
    # zero-variance entity (rates everything identically) gives Pearson
    # 0/0, and Spark 4's ANSI mode turns that into a DIVIDE_BY_ZERO
    # error instead of NaN.  Both div-by-zero kernels guard with
    # when(den != 0) → NULL sim (mirrored by NULLIF in the oracle SQL,
    # plans/recsys.py::KERNEL_SQL); NULL ranks last under DESC ordering
    # in both engines, which matches the reference's NaN-never-selected
    # behavior.  The variance is clamped at 0 before sqrt because the
    # full-array-mean form can leave a tiny negative fp residue (and
    # DuckDB errors on sqrt of a negative).
    if kernel == "cosine":
        den = F.sqrt("sumsq_a") * F.sqrt("sumsq_b")
        sim = F.when(den != 0.0, F.col("dot") / den)
    elif kernel == "pearson":
        num = F.col("dot") - F.col("sum_a") * F.col("sum_b") / n_cols_expr
        den_a = F.sqrt(
            F.greatest(
                F.col("sumsq_a") - F.pow("sum_a", 2) / n_cols_expr, F.lit(0.0)
            )
        )
        den_b = F.sqrt(
            F.greatest(
                F.col("sumsq_b") - F.pow("sum_b", 2) / n_cols_expr, F.lit(0.0)
            )
        )
        den = den_a * den_b
        sim = F.when(den != 0.0, num / den)
    elif kernel == "euclidean":
        sq_dist = F.col("sumsq_a") + F.col("sumsq_b") - 2 * F.col("dot")
        # guard tiny negative fp residue before sqrt
        sim = 1.0 / (F.sqrt(F.greatest(sq_dist, F.lit(0.0))) + 1.0)
    elif kernel == "jaccard":
        sim = F.col("co") / (F.col("n_a") + F.col("n_b") - F.col("co"))
    else:
        raise ValueError(f"unknown kernel {kernel!r}; one of {KERNELS}")
    return df.withColumn("sim", sim)


#: per-row columns of a ratings index (``with_index_columns``): the
#: item's row count, the user's row count and the user's mean rating
INDEX_COLUMNS = ("n_item", "n_user", "mean_u")


def with_index_columns(ratings: DataFrame) -> DataFrame:
    """``(user_id, item_id, rating)`` plus the :data:`INDEX_COLUMNS` on
    every row, lazily; a frame that already carries them is returned as
    it is, so every pair generator can pass its input through here and
    a checkpointed index (``neighborhood.ratings_index``) is read as
    built.

    The counts are the hot-key guard's input: an axis drops a row whose
    join key has more rows than ``max_raters_per_item`` with one filter
    on the key's count column (see ``_axis_ratings``).  ``mean_u`` is
    the user mean over rated entries that user-based CF centres on
    (UserBasedRatingRecommender.scala:41-45)."""
    if set(INDEX_COLUMNS) <= set(ratings.columns):
        return ratings
    by_item, by_user = Window.partitionBy("item_id"), Window.partitionBy("user_id")
    return ratings.select(
        "user_id",
        "item_id",
        "rating",
        F.count("*").over(by_item).alias("n_item"),
        F.count("*").over(by_user).alias("n_user"),
        F.avg("rating").over(by_user).alias("mean_u"),
    )


def _axis_ratings(
    ratings: DataFrame, axis: str, max_raters_per_item: int | None
) -> tuple[DataFrame, str]:
    """One axis of long-format ratings as ``(ent, key, r)`` rows with the
    hot keys dropped, and the name of the ratings column that is the
    join key (``"user"`` → users over shared items, ``"item"`` → items
    over shared users).  A key is hot when it has more than
    ``max_raters_per_item`` rows (the skew guard for the quadratic
    self-join; none when the cap is None)."""
    if axis == "user":
        ent, key, key_rows = "user_id", "item_id", "n_item"
    elif axis == "item":
        ent, key, key_rows = "item_id", "user_id", "n_user"
    else:
        raise ValueError(f"axis must be 'user' or 'item', got {axis!r}")
    if max_raters_per_item is not None:
        ratings = with_index_columns(ratings).where(
            F.col(key_rows) <= max_raters_per_item
        )
    cols = [F.col(ent).alias("ent"), F.col(key).alias("key"), F.col("rating").alias("r")]
    if axis == "user" and "mean_u" in ratings.columns:
        # an index carries the user mean: it rides through the entity
        # stats to the output's ``mean_a`` (see _score_pairs), so user
        # k-NN scoring needs no means aggregate of its own
        cols.append("mean_u")
    return ratings.select(*cols), key


def _entity_stats(r: DataFrame, *extra: Column) -> DataFrame:
    """Per-entity kernel scalars ``(ent, *extra, sum_r, sumsq_r, n_r)``
    — one shuffle on ent, reused on both sides of every pair — plus
    ``mean_`` when ``r`` carries the entity's ``mean_u``."""
    if "mean_u" in r.columns:
        extra = (*extra, F.first("mean_u").alias("mean_"))
    return r.groupBy("ent").agg(
        *extra,
        F.sum("r").alias("sum_r"),
        F.sum(F.col("r") * F.col("r")).alias("sumsq_r"),
        F.count("*").alias("n_r"),
    )


def _with_entity_stats(
    pairs: DataFrame, stats: DataFrame, *extra: str
) -> DataFrame:
    """Join ``stats`` onto both sides of ``(ea, eb, ...)`` pairs: each
    side's scalars arrive as ``sum_a`` / ``sumsq_a`` / ``n_a`` (and
    ``_b``, and ``mean_a`` / ``mean_b`` when the stats carry
    ``mean_``), each ``extra`` stats column ``c`` as ``ca`` / ``cb``."""
    if "mean_" in stats.columns:
        extra = (*extra, "mean_")

    def side(s: str) -> DataFrame:
        return stats.select(
            F.col("ent").alias(f"e{s}"),
            *[F.col(c).alias(f"{c}{s}") for c in extra],
            F.col("sum_r").alias(f"sum_{s}"),
            F.col("sumsq_r").alias(f"sumsq_{s}"),
            F.col("n_r").alias(f"n_{s}"),
        )

    return pairs.join(side("a"), "ea").join(side("b"), "eb")


def _score_pairs(
    enriched: DataFrame,
    ratings: DataFrame,
    key: str,
    kernel: str | tuple[str, ...],
    axis: str,
    directed: bool,
    euclidean_fallback: bool,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """The tail every pair generator shares: kernel columns over an
    enriched pair-stats relation ``(ea, eb, dot, co, sum_a, ..., n_b)``,
    the K5 fallback, the optional mirror and the ``{axis}_a`` /
    ``{axis}_b`` output names, followed by ``mean_a``, the user mean of
    ``user_a``, when the ratings were an index (see _axis_ratings).
    Generators differ only in how they produce the pairs and their
    ``dot`` / ``co``."""
    # each side's user mean, when carried: the mirror swaps them with
    # ea / eb
    means = ["mean_a", "mean_b"] if "mean_a" in enriched.columns else []
    kernels: tuple[str, ...] = (kernel,) if isinstance(kernel, str) else kernel
    multi = not isinstance(kernel, str)
    if euclidean_fallback and multi:
        raise ValueError("euclidean_fallback only supported for a single kernel")
    if "pearson" in kernels:
        # N = countDistinct of the join key over the UNCAPPED ratings
        n_df = ratings.select(F.countDistinct(key).cast("double").alias("_n_cols"))
        enriched = enriched.crossJoin(F.broadcast(n_df))
        n_expr = F.col("_n_cols")
    else:
        # only the Pearson full-array-mean quirk reads N; skipping the
        # countDistinct + 1-row cross join for the other kernels saves
        # an aggregate job Catalyst cannot prune (it can't prove the
        # join is 1-row)
        n_expr = F.lit(1.0)

    sim_cols: list[str] = []
    sims = enriched
    for k in kernels:
        name = f"sim_{k}" if multi else "sim"
        sims = with_kernel_column(sims, k, n_expr).withColumnRenamed("sim", name)
        sim_cols.append(name)
    if euclidean_fallback and kernels[0] != "euclidean":
        # K5: a primary similarity of exactly 0.0 falls back to inverted
        # Euclidean (ContentBasedTopKRecommender.scala:42-50)
        sq_dist = F.col("sumsq_a") + F.col("sumsq_b") - 2 * F.col("dot")
        euclid = 1.0 / (F.sqrt(F.greatest(sq_dist, F.lit(0.0))) + 1.0)
        sims = sims.withColumn(
            "sim", F.when(F.col("sim") == 0.0, euclid).otherwise(F.col("sim"))
        )
    sims = sims.select("ea", "eb", *sim_cols, *extra, *means)

    if directed:
        # one generator, not a self-union: Union(X, mirror(X)) plans X
        # TWICE and Spark's exchange-reuse does not collapse the two
        # branches (verified on the formatted plan — no ReusedExchange),
        # so the quadratic pair join would execute twice.  Exploding
        # [(a,b),(b,a)] per undirected pair keeps one subtree.
        def _s(x: str, y: str) -> Column:
            return F.struct(
                F.col(x).alias("ea"),
                F.col(y).alias("eb"),
                *[F.col(c).alias(c) for c in (*sim_cols, *extra)],
                *([F.col(f"mean_{x[1]}").alias("mean_a")] if means else []),
            )

        sims = sims.select(
            F.explode(F.array(_s("ea", "eb"), _s("eb", "ea"))).alias("_p")
        ).select("_p.*")

    return sims.select(
        F.col("ea").alias(f"{axis}_a"),
        F.col("eb").alias(f"{axis}_b"),
        *sim_cols,
        *extra,
        *means[:1],
    )


def pairwise_similarity(
    ratings: DataFrame,
    kernel: str | tuple[str, ...] = "cosine",
    axis: str = "user",
    directed: bool = True,
    max_raters_per_item: int | None = None,
    with_co: bool = False,
    euclidean_fallback: bool = False,
) -> DataFrame:
    """All co-rated pairs with their similarity, fully distributed.

    Parameters
    ----------
    ratings : long-format ``(user_id, item_id, rating)``
    kernel : one kernel name → a single ``sim`` column; a TUPLE of
        kernel names → one ``sim_<kernel>`` column each, all computed
        from the SAME pair-stats aggregate (the quadratic co-rated
        join runs once, not once per kernel — every kernel is a scalar
        formula over (dot, co, sums, sumsqs)).
    axis : ``"user"`` → pairs of users over shared items (returns
        ``(user_a, user_b, sim...)``); ``"item"`` → pairs of items over
        shared users (returns ``(item_a, item_b, sim...)``).  The
        Pearson N is the countDistinct of the opposite axis (a lazy
        1-row aggregate cross-joined in — no collect).
    directed : emit both (a,b) and (b,a) (needed for per-entity k-NN
        windows); pair stats are computed once on a<b and mirrored.
    max_raters_per_item : drop join keys hotter than this before the
        self-join (skew guard for the quadratic blowup).
    """
    r, key = _axis_ratings(ratings, axis, max_raters_per_item)
    # co-rated pair aggregation: self-join on the shared key, a<b once
    a = r.select(F.col("key"), F.col("ent").alias("ea"), F.col("r").alias("ra"))
    b = r.select(F.col("key"), F.col("ent").alias("eb"), F.col("r").alias("rb"))
    pairs = (
        a.join(b, "key")
        .where(F.col("ea") < F.col("eb"))
        .groupBy("ea", "eb")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).alias("dot"),
            F.count("*").alias("co"),
        )
    )
    return _score_pairs(
        _with_entity_stats(pairs, _entity_stats(r)),
        ratings,
        key,
        kernel,
        axis,
        directed,
        euclidean_fallback,
        ("co",) if with_co else (),
    )


def pairwise_similarity_for_pairs(
    ratings: DataFrame,
    cand_pairs: DataFrame,
    kernel: str = "cosine",
    axis: str = "user",
    max_raters_per_item: int | None = None,
    euclidean_fallback: bool = False,
) -> DataFrame:
    """Exact kernel similarity for ONLY the requested entity pairs —
    the bounded form of :func:`pairwise_similarity` for callers that
    know their pair set up front (r11; born from a measured blow-up:
    the content predictor materialized ALL-item sims, which is
    |catalog|² through dense features — >560 s at sf0.1 — when the
    predictions only ever read |test pairs| × items-per-user sims).

    ``cand_pairs``: DIRECTED ``(ent_a, ent_b)`` rows (column names =
    ``{user_a,user_b}`` or ``{item_a,item_b}`` by ``axis``); output
    rows appear exactly for requested pairs that share ≥1 co-rated
    key (the exact path's co-rated-only contract) and carry the SAME
    similarity values — the stats and kernel tail are the same code
    (``_score_pairs``), only the pair GENERATOR differs:
    ``cand ⋈ ratings(ent_a) ⋈ ratings(ent_b, key)`` is
    |cand| × keys-per-entity, never a self-join.

    Self-pairs are dropped (the exact path's ``a < b`` never emits
    them)."""
    r, key = _axis_ratings(ratings, axis, max_raters_per_item)
    cand = (
        cand_pairs.select(
            F.col(f"{axis}_a").alias("ea"), F.col(f"{axis}_b").alias("eb")
        )
        .where(F.col("ea") != F.col("eb"))
        .distinct()
    )
    a = r.select(F.col("ent").alias("ea"), "key", F.col("r").alias("ra"))
    b = r.select(F.col("ent").alias("eb"), "key", F.col("r").alias("rb"))
    pairs = (
        cand.join(a, "ea")
        .join(b, ["eb", "key"])
        .groupBy("ea", "eb")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).alias("dot"),
            F.count("*").alias("co"),
        )
    )
    return _score_pairs(
        _with_entity_stats(pairs, _entity_stats(r)),
        ratings,
        key,
        kernel,
        axis,
        False,
        euclidean_fallback,
    )
