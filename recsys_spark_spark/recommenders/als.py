"""ALS matrix-factorization recommender — the idiomatic MLlib path
the reference does not have (its neighborhood CF is driver-loop
k-NN; SURVEY §7 names MLlib ALS as the Spark-native counterpart).

Positioned as an ADDITION to the reference surface: the neighborhood
recommenders (recommenders/neighborhood.py) preserve reference
semantics bit-for-bit; ALS is the scale-preferred model when exact
parity is not required — factorization is O(nnz·rank) per iteration
versus the co-rated join's O(Σ n_i²) pair blow-up, and inference is
a rank-dim dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize, on_release

#: f32 elements in one serving score chunk (32M ≈ 128 MB per task)
SERVE_CHUNK_F32 = 32_000_000


def _biases(ratings: DataFrame):
    """Global mean + item and user offsets (the standard baseline
    model ALS factorizes residuals against — raw ALS regularizes
    predictions toward 0, not toward the mean, which is catastrophic
    when ratings live far from 0)."""
    mu = ratings.agg(F.avg("rating").alias("mu"))
    with_mu = ratings.crossJoin(F.broadcast(mu))
    bi = with_mu.groupBy("item_id").agg(
        F.avg(F.col("rating") - F.col("mu")).alias("bi")
    )
    bu = (
        with_mu.join(bi, "item_id")
        .groupBy("user_id")
        .agg(F.avg(F.col("rating") - F.col("mu") - F.col("bi")).alias("bu"))
    )
    return mu, bi, bu


def _residuals(ratings: DataFrame, mu, bi, bu) -> DataFrame:
    return (
        ratings.crossJoin(F.broadcast(mu))
        .join(bi, "item_id")
        .join(bu, "user_id")
        .select(
            "user_id",
            "item_id",
            (F.col("rating") - F.col("mu") - F.col("bi") - F.col("bu")).alias(
                "rating"
            ),
        )
    )


def als_fit(
    ratings: DataFrame,
    rank: int = 8,
    reg: float = 5.0,
    max_iter: int = 5,
    seed: int = 42,
):
    """Fit explicit-feedback ALS on the bias-centered residuals;
    returns (model, mu, bi, bu) — bi/bu come back CACHED (they are
    O(items)/O(users) model state that every serving path joins
    several times).  They and MLlib's persisted factor RDDs are owned
    by ``"als"``: ``lifecycle.release("als")`` frees them once every
    action on the model's outputs has run.  The exact serving path
    releases bi itself once the item biases are collected; bu it
    cannot release (its serving join runs lazily at action time).

    ``max_iter=5`` default: on the bias-centered residuals the rank-8
    factorization is converged by 5 sweeps (held-out RMSE identical to
    4 dp vs 10 sweeps at sf0.001 AND sf0.01 — the biases carry most of
    the signal), and each extra sweep is a full shuffle round.

    The ALS block grid is sized from the data: MLlib's default 10×10
    grid means every one of the 5 sweeps shuffles 100 block pairs
    regardless of size — pure scheduling overhead on small/medium inputs (measured 4.6 s → 2.2 s at sf0.1)
    while at 100 TB the ~2M-ratings-per-block target yields the many
    blocks a large cluster needs (capped by parallelism: more blocks
    than cores only adds exchange rounds).  Residuals are cached for
    the fit (ALS evaluates its input lineage per block-build), and the
    factor/intermediate RDDs stay MEMORY_ONLY — the blocks are rank×
    entity floats, orders of magnitude smaller than the ratings.  Under
    deliberate CPU co-load neither a finer or coarser grid nor
    MEMORY_AND_DISK intermediates recovered the fit time; MEMORY_AND_DISK
    was strictly worse (PERF.md, "als_topk fit-contention A/B")."""
    from pyspark.ml.recommendation import ALS

    mu, bi, bu = _biases(ratings)
    bi = materialize(bi, owner="als")
    bu = materialize(bu, owner="als")
    resid = materialize(
        _residuals(ratings, mu, bi, bu).select("user_id", "item_id", "rating"),
        owner="als",
    )
    nnz = resid.count()  # O(1) driver result; also primes the cache
    parallelism = ratings.sparkSession.sparkContext.defaultParallelism
    # ≥4 blocks for parallelism, but never more blocks than cores
    # (a local[2] session must not pay a 4×4 grid's exchanges)
    num_blocks = min(parallelism, max(4, nnz // 2_000_000 + 1)) or 1
    als = ALS(
        rank=rank,
        regParam=reg,
        maxIter=max_iter,
        seed=seed,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=False,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
        intermediateStorageLevel="MEMORY_ONLY",
        finalStorageLevel="MEMORY_ONLY",
    )
    model = als.fit(resid)
    resid.unpersist(blocking=False)
    spark = ratings.sparkSession
    on_release(lambda: _unpersist_factor_rdds(spark), owner="als")
    return model, mu, bi, bu


def _unpersist_factor_rdds(spark) -> None:
    """``ALS.fit`` persists ``userFactors`` / ``itemFactors`` with no
    public unpersist; they are found by the RDD names MLlib sets in
    ALS.train (ml/recommendation/ALS.scala)."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        if jrdd.name() in ("userFactors", "itemFactors"):
            jrdd.unpersist(False)


def _flat_scored(rec: DataFrame, mu, bi, bu) -> DataFrame:
    """Explode a recommendForAll*/Subset result and re-add the bias
    terms → ``(user_id, item_id, score)`` with the 6-dp score round."""
    return (
        rec.select("user_id", F.explode("recommendations").alias("r"))
        .select(
            "user_id",
            F.col("r.item_id").alias("item_id"),
            F.col("r.rating").cast("double").alias("resid"),
        )
        .crossJoin(F.broadcast(mu))
        .join(bi, "item_id")
        .join(bu, "user_id")
        .select(
            "user_id",
            "item_id",
            qround(
                F.col("resid") + F.col("mu") + F.col("bi") + F.col("bu"), 6
            ).alias("score"),
        )
    )


def als_topk(
    ratings: DataFrame,
    k_items: int = 5,
    rank: int = 8,
    reg: float = 5.0,
    max_iter: int = 5,
    seed: int = 42,
    max_broadcast_items: int = 1_000_000,
    candidate_pad: int = 64,
) -> DataFrame:
    """Top-K UNRATED items per user via ALS — EXACT over the full
    unrated catalog.

    Per-user the prediction is ``μ + b_u + b_i + ⟨u, v_i⟩``; the
    ranking therefore depends on the ITEM bias, so any candidate pool
    cut by residual ``⟨u, v_i⟩`` alone (recommendForAllUsers + anti-
    join, the round-3 shape) is an approximation — and an expensive
    one, because surviving the anti-join needs a worst-case headroom
    of ``max(ratings per user)`` extra candidates for every user
    (blocked GEMM top-110 vs top-13 at sf0.1: 8.9 s vs 1.7 s).

    Serving path (item catalog ≤ ``max_broadcast_items``): broadcast
    the augmented item model — factor matrix V (items×rank float32,
    the same O(model) state recommendForAllUsers ships to every
    executor block) plus the item biases — and score each user block
    with ONE seen-masked NumPy GEMM inside ``mapInPandas``:
    ``S = U·Vᵀ + b_i + (μ + b_u)``, rated entries → −∞, then an
    exact vectorized top-k by (6-dp-quantized score desc, item_id
    asc).  No headroom, no anti-join, no second ranking pass — and
    exact by construction over ALL unrated items, which the round-3
    path was not.

    Above ``max_broadcast_items`` (≈1M items × (rank+1) floats ≈
    40 MB broadcast at rank 8) fall back to MLlib's blocked
    ``recommendForAllUsers`` with the exact anti-join headroom —
    the documented approximate-pool semantics, but no driver-side
    item state (:func:`als_topk_blocked`).

    Returns ``(user_id, item_id, score, rank)``.
    """
    model, mu, bi, bu = als_fit(ratings, rank, reg, max_iter, seed)
    # O(1)-result driver check (als_fit is already eager)
    n_items = model.itemFactors.count()
    if n_items > max_broadcast_items:
        return als_topk_blocked(ratings, model, mu, bi, bu, k_items)
    return _als_topk_exact(ratings, model, mu, bi, bu, k_items, candidate_pad)


def _als_topk_exact(
    ratings: DataFrame,
    model,
    mu: DataFrame,
    bi: DataFrame,
    bu: DataFrame,
    k_items: int,
    candidate_pad: int = 64,
) -> DataFrame:
    """Seen-masked GEMM serving over broadcast item factors (see
    :func:`als_topk`).  Driver-side state is O(items×rank) — the item
    model, bounded by the caller's ``max_broadcast_items`` gate.

    ``SERVE_CHUNK_F32`` bounds the per-task f32 score chunk (elements;
    32M ≈ 128 MB) and the GEMM runs in 4 × defaultParallelism tasks —
    the two serve-side contention levers A/B'd in PERF.md ("als_topk
    serve-contention A/B under deliberate co-load").  With exactly one
    long GEMM task per core, ONE descheduled task under external
    co-load adds a full task length to the stage tail (measured 49 s
    worst case vs a 10-13 s band under a 64-process hog); 4× shorter
    tasks bound any single straggler at a quarter of the work and
    also load-balance the skew in per-user seen-list sizes (best
    uncontended serve improved 6.2 s → 3.8 s at sf0.1).  A smaller
    f32 chunk was A/B-REJECTED (2.3× slower contended: per-chunk
    fixed costs — argpartition over the full catalog per chunk —
    dominate long before memory bandwidth does)."""
    import numpy as np
    import pandas as pd

    spark = ratings.sparkSession
    mu_val = float(mu.first()["mu"])

    # item model: ids (sorted), V float32, b_i float64 — O(model) collect
    items_pd = (
        model.itemFactors.join(
            bi.select(F.col("item_id").alias("id"), "bi"), "id"
        )
        .orderBy("id")
        .toPandas()
    )
    item_ids = items_pd["id"].to_numpy(dtype=np.int64)
    V = np.stack(items_pd["features"].to_numpy()).astype(np.float32)
    biv = items_pd["bi"].to_numpy(dtype=np.float64)
    # bi is now fully consumed (residual blocks were materialized by
    # the fit, the item biases just collected) — release its cache.
    # bu stays cached: the serving join below reads it at action time
    # (see the ownership note in als_fit's docstring).
    bi.unpersist(blocking=False)
    bc = spark.sparkContext.broadcast((item_ids, V, biv))
    on_release(bc.destroy, owner="als")

    # user side: factors ⋈ bias ⋈ rated-item lists (one shuffle on user)
    seen = ratings.groupBy("user_id").agg(
        F.collect_list("item_id").alias("seen")
    )
    users = (
        model.userFactors.select(F.col("id").alias("user_id"), "features")
        .join(bu, "user_id")
        .join(seen, "user_id", "left")
    )
    # The user frame is tiny in BYTES (rank floats + a seen list per
    # row) but each row fans out to n_items score columns inside the
    # GEMM — AQE coalesces the join output to 1-4 partitions by byte
    # size and would serialize the whole serving pass.  An explicit
    # numPartitions repartition is exempt from AQE coalescing and
    # spreads the GEMM across the cluster.
    users = users.repartition(4 * spark.sparkContext.defaultParallelism)

    # output id columns keep the factor-frame types (ALS ids are int)
    uid_t = users.schema["user_id"].dataType.simpleString()
    iid_t = model.itemFactors.schema["id"].dataType.simpleString()
    out_schema = f"user_id {uid_t}, item_id {iid_t}, score double, rank int"
    iid_np = np.int32 if iid_t == "int" else np.int64
    k = k_items
    # bound the f32 score chunk at ~128 MB regardless of catalog size
    # (users/chunk shrinks as items grow; 1 600 users at 20k items,
    # 32 users at the 1M-item broadcast ceiling)
    chunk_users = max(8, min(1024, SERVE_CHUNK_F32 // max(1, len(item_ids))))

    def _serve(batches):
        item_ids_, V_, biv_ = bc.value
        n = len(item_ids_)
        kk = min(k, n)
        if n == 0 or kk == 0:
            return
        # Selection runs in float32 (half the memory traffic of the
        # f64 matrix — this kernel is bandwidth-bound, the GEMM inner
        # dim is only `rank`), then the top-P candidate set is
        # re-scored EXACTLY in float64 + 6-dp quantization.  P ≫ k
        # plus an explicit margin check below make the f32 shortcut
        # exact, not approximate.
        V64 = V_.astype(np.float64)
        biv32 = biv_.astype(np.float32)
        P = min(n, max(candidate_pad, kk))
        rank_ = V_.shape[1] if V_.ndim == 2 else 0
        v_max = float(np.abs(V_).max()) if n else 0.0
        b_max = float(np.abs(biv_).max()) if n else 0.0
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_users):
                part = pdf.iloc[lo : lo + chunk_users]
                c = len(part)
                U32 = np.stack(part["features"].to_numpy()).astype(np.float32)
                const = mu_val + part["bu"].to_numpy(dtype=np.float64)
                S32 = U32 @ V_.T
                # two in-place broadcast adds — a combined
                # `biv32[None,:] + const32[:,None]` RHS would
                # materialize a second full c×n temporary
                S32 += biv32[None, :]
                S32 += const.astype(np.float32)[:, None]
                # |f32 − f64| score-error bound, scaled to the DATA's
                # magnitude (a fixed absolute margin breaks exactness
                # on large rating scales): dot of `rank` f32 products
                # + 2 bias adds, each step's rounding ≤ eps·|value|,
                # with a 64× safety factor and the 1e-6 quantization
                # grid added on top.
                s_mag = (
                    float(np.abs(U32).max(initial=0.0)) * v_max * rank_
                    + b_max
                    + float(np.abs(const).max(initial=0.0))
                )
                MARGIN = 64 * np.finfo(np.float32).eps * (rank_ + 2) * s_mag + 2e-6
                # mask rated (row, col) pairs
                seen_lists = part["seen"].to_numpy()
                rows = np.repeat(
                    np.arange(c),
                    [0 if s is None else len(s) for s in seen_lists],
                )
                if len(rows):
                    flat = np.concatenate(
                        [s for s in seen_lists if s is not None and len(s)]
                    ).astype(np.int64)
                    cols = np.searchsorted(item_ids_, flat)
                    ok = (cols < n) & (item_ids_[np.clip(cols, 0, n - 1)] == flat)
                    S32[rows[ok], cols[ok]] = -np.inf
                if P < n:
                    # tail-form introselect: the indices of the P
                    # LARGEST scores are the last P positions of an
                    # ascending kth=n-P partition — same candidate SET
                    # as partitioning the negated matrix for the P
                    # smallest, without materializing the full c×n
                    # negated copy (measured 3.7× faster per chunk;
                    # order within the set is irrelevant, the exact
                    # f64 lexsort below ranks the candidates)
                    idx = np.argpartition(S32, n - P, axis=1)[:, n - P :]
                else:
                    idx = np.tile(np.arange(n), (c, 1))
                svals = np.take_along_axis(S32, idx, axis=1)
                # exact f64 re-score of the candidates
                sx = np.einsum(
                    "cr,cpr->cp", U32.astype(np.float64), V64[idx]
                )
                sx += biv_[idx] + const[:, None]
                Sq = np.floor(sx * 1e6 + 0.5) / 1e6  # qround twin
                Sq[svals == -np.inf] = -np.inf  # seen items in the pad
                idx_ids = item_ids_[idx]
                # exact (score desc, id asc) over the candidate set
                order = np.lexsort((idx_ids, -Sq), axis=-1)[:, :kk]
                sel = np.take_along_axis(idx, order, axis=1)
                sc = np.take_along_axis(Sq, order, axis=1)
                if P < n:
                    # margin check: every EXCLUDED item scores ≤ the
                    # candidate-set f32 minimum; if that is not clear
                    # of the selected k-th score by MARGIN, re-rank
                    # the row against the full catalog in f64.
                    # kth = −inf ⇔ the row has < k unrated items ⇔
                    # every unrated item is already a candidate.
                    excl_max = svals.min(axis=1).astype(np.float64)
                    kth = sc[:, kk - 1]
                    unsafe = np.isfinite(kth) & (excl_max >= kth - MARGIN)
                    for i in np.where(unsafe)[0]:
                        s_full = V64 @ U32[i].astype(np.float64)
                        s_full += biv_ + const[i]
                        q_full = np.floor(s_full * 1e6 + 0.5) / 1e6
                        ri = rows == i
                        if ri.any():
                            okc = ok[ri]
                            q_full[cols[ri][okc]] = -np.inf
                        o = np.lexsort((item_ids_, -q_full))[:kk]
                        sel[i] = o
                        sc[i] = q_full[o]
                keep = np.isfinite(sc)  # users with < k unrated items
                uid = np.repeat(part["user_id"].to_numpy(), kk).reshape(c, kk)
                rank = np.tile(np.arange(1, kk + 1), (c, 1))
                yield pd.DataFrame(
                    {
                        "user_id": uid[keep],
                        "item_id": item_ids_[sel[keep]].astype(iid_np),
                        "score": sc[keep],
                        "rank": rank[keep].astype(np.int32),
                    }
                )

    return users.mapInPandas(_serve, schema=out_schema)


def als_topk_blocked(
    ratings: DataFrame,
    model,
    mu: DataFrame,
    bi: DataFrame,
    bu: DataFrame,
    k_items: int = 5,
) -> DataFrame:
    """Large-catalog fallback: MLlib blocked ``recommendForAllUsers``
    with the exact anti-join headroom (``max(ratings per user)`` so k
    unrated items always survive).  APPROXIMATE pool semantics: the
    candidate list is cut by the residual ``⟨u,v⟩`` before the item
    bias is re-added, so an item outside the residual top-(k+headroom)
    with an exceptional bias can be missed — use when the item model
    exceeds the broadcast budget of the exact path."""
    # O(1) driver result, not a data collect
    headroom = (
        ratings.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c"))
        .collect()[0][0]
        or 0
    )
    rec = model.recommendForAllUsers(k_items + headroom)
    fresh = _flat_scored(rec, mu, bi, bu).join(
        ratings.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        fresh.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_items)
        .select("user_id", "item_id", "score", "rank")
    )


def als_predict(
    ratings: DataFrame,
    pairs: DataFrame,
    rank: int = 8,
    reg: float = 5.0,
    max_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Predicted rating for explicit (user_id, item_id) pairs:
    μ + b_i + b_u + factorized residual."""
    model, mu, bi, bu = als_fit(ratings, rank, reg, max_iter, seed)
    return (
        model.transform(pairs.select("user_id", "item_id"))
        .crossJoin(F.broadcast(mu))
        .join(bi, "item_id")
        .join(bu, "user_id")
        .select(
            "user_id",
            "item_id",
            qround(
                F.col("prediction").cast("double")
                + F.col("mu")
                + F.col("bi")
                + F.col("bu"),
                6,
            ).alias("prediction"),
        )
    )
