"""LSH candidate pruning for the CF axes (operators/cf_lsh.py) — the
extreme-scale switch wired in round 5.

What is asserted, and why these metrics:

1. signature correctness — the sparse-projection band signatures match
   a NumPy twin bit for bit;
2. similarity EXACTNESS — every pair the LSH path emits carries the
   identical kernel value the exact path computes (the approximation
   is candidate RECALL only, never similarity values);
3. neighbor recall ≥ 0.95 at the scoring depth (k_neighbors=10) on a
   CLUSTERED fixture — the regime the switch exists for (real rating
   data: neighbor cosines 0.3-0.9).  The shipped TPC-H-derived
   ratings are angularly structureless (top-50 neighbor cosine ≈ 0.08,
   median co-rated count 2, ≈ random pairs — probed in round 5), so no
   sketch family can discriminate neighbors there; the sf tables are
   used for the exactness and pruning assertions instead, and the
   regime boundary is documented in PERF.md;
4. candidate PRUNING — the banded join generates ≈ 0.12× the exact
   co-rated pair count on both the clustered fixture and sf ratings
   at the default band width (the point of the switch);
5. plan shape — the LSH path plans the banded join + map_zip_with
   stats and never the co-rated key self-join.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from recsys_spark_spark.functions.similarity import pairwise_similarity
from recsys_spark_spark.operators.cf_lsh import (
    _band_sigs,
    lsh_candidate_pairs,
    lsh_pairwise_similarity,
)
from recsys_spark_spark.recommenders.neighborhood import user_based_topk


@pytest.fixture(scope="module")
def clustered_ratings(spark):
    """30 clusters × 20 users; each cluster shares 60 preferred items
    (80% rated per user, σ=0.3 rating noise) — within-cluster cosine
    ≈ 0.72-0.86, the angular structure real rating data has."""
    rng = np.random.default_rng(7)
    rows = []
    for c in range(30):
        items = rng.choice(500, 60, replace=False)
        pref = rng.uniform(1, 5, 60)
        for u in range(20):
            uid = c * 20 + u
            mask = rng.random(60) < 0.8
            noise = rng.normal(0, 0.3, 60)
            for it, p, m, nz in zip(items, pref, mask, noise):
                if m:
                    rows.append((uid, int(it), float(np.clip(p + nz, 1, 5))))
    return spark.createDataFrame(
        rows, "user_id int, item_id int, rating double"
    ).cache()


def test_band_sigs_match_numpy_twin(spark):
    rows = [(1, 10, 5.0), (1, 11, 3.0), (2, 10, 5.0), (2, 11, 3.0), (3, 99, 1.0)]
    r = spark.createDataFrame(rows, "ent int, key int, r double")
    got = {}
    for row in _band_sigs(r, 32, 4).collect():
        got.setdefault(row.ent, {})[row.band] = row.sig

    def w(p, key):
        h = int(hashlib.md5(f"{p}_{key}".encode()).hexdigest()[:15], 16)
        return (h % 2000001 - 1000000) / 1000000.0

    proj = [5.0 * w(p, 10) + 3.0 * w(p, 11) for p in range(32)]
    bits = "".join("1" if x >= 0 else "0" for x in proj)
    assert got[1] == {b: bits[b * 4 : (b + 1) * 4] for b in range(8)}
    # identical rating vectors → identical signatures → candidates
    assert got[1] == got[2]
    cand = {(c.ea, c.eb) for c in lsh_candidate_pairs(r, 32, 4, None).collect()}
    assert (1, 2) in cand


def test_lsh_sims_are_exact_on_emitted_pairs(spark, sf_dir):
    """Every (pair, sim) the LSH path emits must equal the exact
    path's value — approximation lives ONLY in candidate recall."""
    from recsys_spark_spark.plans.recsys import ratings_from_sales

    ratings = ratings_from_sales(spark, sf_dir)
    ex = pairwise_similarity(ratings, "cosine", "user", directed=False).select(
        F.col("user_a").alias("ea"), F.col("user_b").alias("eb"),
        F.col("sim").alias("sim_ex"),
    )
    ls = lsh_pairwise_similarity(
        ratings, "cosine", "user", directed=False
    ).select(
        F.col("user_a").alias("ea"), F.col("user_b").alias("eb"),
        F.col("sim").alias("sim_lsh"),
    )
    joint = ex.join(ls, ["ea", "eb"])
    n_joint = joint.count()
    assert n_joint > 0
    # identical formula over identical co-rated stats; the only
    # allowed difference is float summation ORDER (groupBy-sum vs
    # map-iteration aggregate — non-associative addition), ~1e-15
    # per term.  Downstream both paths round sims at 7 dp before any
    # ranking (SIM_ROUND), so a <1e-9 ulp drift is behaviorally
    # invisible.
    bad = joint.where(
        F.abs(F.col("sim_ex") - F.col("sim_lsh")) > 1e-9
    ).count()
    assert bad == 0
    # an LSH pair missing from the exact set would mean a fabricated
    # co-rated pair (the exact path enumerates ALL of them)
    assert ls.join(ex, ["ea", "eb"], "left_anti").count() == 0


def test_lsh_neighbor_recall_clustered(spark, clustered_ratings):
    """≥ 0.95 recall of the exact top-k_neighbors (k=10, the engine's
    scoring depth) neighbor pairs, at the default 128 planes × 8-bit
    bands."""
    exd = pairwise_similarity(
        clustered_ratings, "cosine", "user", directed=True
    ).select(
        F.col("user_a").alias("ea"), F.col("user_b").alias("eb"), "sim"
    )
    w = Window.partitionBy("ea").orderBy(F.desc("sim"), F.asc("eb"))
    top10 = exd.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10)
    lsd = lsh_pairwise_similarity(
        clustered_ratings, "cosine", "user", directed=True
    ).select(F.col("user_a").alias("ea"), F.col("user_b").alias("eb"))
    tot = top10.count()
    hit = top10.join(lsd, ["ea", "eb"], "semi").count()
    assert tot == 600 * 10
    assert hit / tot >= 0.95, f"neighbor recall {hit}/{tot} = {hit/tot:.4f}"


def test_lsh_prunes_candidate_pairs(spark, clustered_ratings):
    """The banded join must generate FAR fewer pairs than the exact
    co-rated enumeration — the whole point of the switch (measured
    ≈ 0.12× here and on sf0.01 user/item axes in round 5)."""
    n_exact = pairwise_similarity(
        clustered_ratings, "cosine", "user", directed=False
    ).count()
    r = clustered_ratings.select(
        F.col("user_id").alias("ent"),
        F.col("item_id").alias("key"),
        F.col("rating").alias("r"),
    )
    n_cand = lsh_candidate_pairs(r).count()
    assert n_cand < 0.3 * n_exact, (n_cand, n_exact)


def test_lsh_topk_runs_end_to_end(spark, clustered_ratings):
    """The wired switch produces a full (user_id, item_id, score, rank)
    top-k relation with the same schema/grain as the exact path."""
    out = user_based_topk(
        clustered_ratings,
        k_neighbors=10,
        k_items=5,
        prefilter_neighbors=50,
        use_lsh_candidates=True,
    )
    assert out.columns == ["user_id", "item_id", "score", "rank"]
    per_user = out.groupBy("user_id").count()
    assert per_user.where(F.col("count") > 5).count() == 0
    assert per_user.count() == 600


def test_lsh_releases_cached_state(spark):
    """lsh_pairwise_similarity caches the rating relation (it feeds the
    signature pass and both profile sides) under the "cf_lsh" owner;
    lifecycle.release("cf_lsh") must return the session's persistent-RDD
    set to baseline — a library entry point may not leak a
    session-lifetime cache per call.

    Uses its OWN uncached input (not the module fixture, whose cache
    would legitimately materialize mid-test and confound the set)."""
    from recsys_spark_spark import lifecycle

    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    ratings = spark.createDataFrame(
        [(u, i, float(1 + (u * i) % 5)) for u in range(30) for i in range(u % 7 + 2)],
        "user_id int, item_id int, rating double",
    )
    lifecycle.release("cf_lsh")  # drain anything earlier tests left behind
    base = persistent_ids()
    sims = lsh_pairwise_similarity(ratings, "cosine", "user")
    sims.count()  # materialize while the cache is alive
    # compare by SET DIFFERENCE, not count: under a shared session the
    # ContextCleaner may concurrently evict OTHER tests' dead caches,
    # so absolute counts move on their own — only ids NEW since `base`
    # are this call's responsibility
    assert persistent_ids() - base  # the new cache exists...
    lifecycle.release("cf_lsh")
    assert persistent_ids() - base == set()  # ...and is fully released


def test_lsh_tolerates_duplicate_ent_key_rows(spark):
    """Duplicate (ent, key) rating rows must not throw
    DUPLICATE_MAP_KEY from map_from_entries — they pre-aggregate by
    sum, defining the effective matrix (for the dot product this
    equals the exact path's Σᵢⱼ rᵃᵢ·rᵇⱼ cross-term expansion)."""
    rows = [
        (1, 10, 2.0), (1, 10, 3.0), (1, 11, 4.0),  # dup (1,10) → 5.0
        (2, 10, 5.0), (2, 11, 4.0),
    ]
    r = spark.createDataFrame(rows, "user_id int, item_id int, rating double")
    sims = lsh_pairwise_similarity(
        r, "cosine", "user", band_width=1, max_bucket=None, directed=False
    ).collect()
    assert len(sims) == 1
    # cosine over summed vectors a=(5,4), b=(5,4)
    assert abs(sims[0].sim - 1.0) < 1e-9


def test_lsh_plan_has_no_corated_self_join(spark, clustered_ratings):
    """Plan guard: the LSH axis must plan the banded candidate join +
    map_zip_with candidate-only stats; the exact path's key self-join
    aggregate must be gone."""
    ls = lsh_pairwise_similarity(clustered_ratings, "cosine", "user")
    ex = pairwise_similarity(clustered_ratings, "cosine", "user")
    p_lsh = ls._jdf.queryExecution().optimizedPlan().toString()
    p_ex = ex._jdf.queryExecution().optimizedPlan().toString()
    assert "map_zip_with" in p_lsh
    assert "posexplode" in p_lsh
    assert "map_zip_with" not in p_ex
