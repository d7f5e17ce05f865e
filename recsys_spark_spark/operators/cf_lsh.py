"""LSH candidate pruning for the neighborhood-CF pair join
(the documented "extreme-scale switch", PERF.md).

The exact CF axis (functions/similarity.py::pairwise_similarity)
enumerates every co-rated pair via a self-join on the shared key —
O(Σ_key n_key²) pair rows.  The hot-key cap bounds any single key, but
at 100 TB the aggregate pair relation is still the engine's largest
irreducible exchange (~1 GB per axis at sf0.1, stage-profiled).  This
module replaces ENUMERATION with sign-LSH candidate GENERATION:

    ratings ──► per-entity band signatures (sparse, never densified)
            ──► band-bucket self-join → candidate pairs  (≪ all pairs)
            ──► EXACT kernel similarity on candidates only

Only candidate generation is approximate — every emitted similarity is
the exact kernel value over the true co-rated stats, so downstream
scoring (neighbor windows, weighted averages) is unchanged; the
approximation shows up solely as missing low-similarity pairs, i.e.
recall < 1 on the neighbor lists (measured ≥ 0.95 vs the exact axis at
sf0.01 in tests/test_cf_lsh.py).

This is one of the three pair generators in the package, next to the
co-rated self-join (``pairwise_similarity``) and the requested-pairs
join (``pairwise_similarity_for_pairs``).  All three share the rest
with functions/similarity.py: the axis mapping and hot-key cutoff
(``_axis_ratings``), the per-entity kernel scalars (``_entity_stats``,
here with the rating map as an extra column) and the kernel tail
(``_score_pairs``: Pearson N, kernel columns, K5 fallback, mirror,
output names).  This module only produces the candidate pairs and
their ``dot`` / ``co``.

Sign-LSH over a SPARSE long-format matrix (no dense vector ever):
- each key (the co-rating dimension: items for user-axis, users for
  item-axis) gets ``n_planes`` deterministic pseudo-random weights
  (operators/knn.py::plane_weight — md5-derived, engine-replayable);
- an entity's plane projection is ``Σ_keys r·w(p, key)`` — a single
  groupBy(ent) with ``n_planes`` partial-aggregable sums, so the
  signature pass is ONE map-side-combinable shuffle of
  O(entities × n_planes) partials, linear in the ratings;
- bits are banded exactly like the embedding ANN operator
  (knn.py::lsh_signatures): candidates agree on ALL bits of ≥1 band.

Exact pair stats WITHOUT the key self-join: each entity's ratings are
carried as a ``map<key, rating>``; for a candidate pair the co-rated
dot/count reduce to ``map_zip_with`` + ``aggregate`` — JVM higher-order
functions, no UDF, O(len_a + len_b) per CANDIDATE (not per co-rated
pair of the full matrix).

Cost model vs the exact axis: exact = O(Σ_key n_key²) pair rows through
two exchanges; LSH = O(ratings) signature pass + O(candidates·avg_len)
map zips.  The knob is ``band_width``: wider bands → fewer, purer
candidates (use 8–16 when the rating vectors are long and angularly
clustered, as all-positive rating data is); narrower → higher recall.

Reference parity: the reference has no counterpart — its similarity
scans are O(n²) driver loops (UserBasedTopKRecommender.scala:47-59);
this switch exists so the Spark engine can keep the same semantics
past the scale where even the capped exact join stops being feasible.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import (
    _axis_ratings,
    _entity_stats,
    _score_pairs,
    _with_entity_stats,
)
from ..lifecycle import materialize
from .knn import plane_weight
from .multimodal import _detached

N_PLANES = 128
BAND_WIDTH = 8

def _key_plane_weights(
    keys: DataFrame, n_planes: int = N_PLANES
) -> DataFrame:
    """``(key, wv array<double>)`` — the ``n_planes`` deterministic
    hyperplane weights of each co-rating key (operators/knn.py::
    plane_weight, indexed by the key VALUE instead of a dense dimension
    index, so the matrix is never densified).  One narrow Arrow-batched
    map over the distinct keys — O(keys)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    w = _detached(plane_weight, hashlib=hashlib)  # ship by value, not package ref

    @pandas_udf(ArrayType(DoubleType()))
    def weights(s: pd.Series) -> pd.Series:
        return pd.Series(
            [np.array([w(p, key) for p in range(n_planes)]) for key in s]
        )

    return keys.select(F.col("key"), weights(F.col("key")).alias("wv"))


def _band_sigs(
    r: DataFrame,
    n_planes: int = N_PLANES,
    band_width: int = BAND_WIDTH,
) -> DataFrame:
    """``(ent, band, sig)`` from long-format ``(ent, key, r)``.

    The plane projections are ``n_planes`` plain sums — partial
    aggregation (map-side combine) reduces the shuffle to
    O(entities × n_planes) regardless of ratings volume; the weight
    join is a key-keyed equi-join AQE can broadcast when the key
    vocabulary is small."""
    if n_planes % band_width != 0:
        raise ValueError("n_planes must be a multiple of band_width")
    n_bands = n_planes // band_width
    wkeys = _key_plane_weights(r.select("key").distinct(), n_planes)
    proj = (
        r.join(wkeys, "key")
        .groupBy("ent")
        .agg(
            *[
                F.sum(F.col("r") * F.col("wv")[p]).alias(f"_s{p}")
                for p in range(n_planes)
            ]
        )
    )
    bands = [
        F.concat(
            *[
                F.when(F.col(f"_s{b * band_width + i}") >= 0, "1").otherwise("0")
                for i in range(band_width)
            ]
        )
        for b in range(n_bands)
    ]
    return proj.select(
        "ent", F.posexplode(F.array(*bands)).alias("band", "sig")
    )


def lsh_candidate_pairs(
    r: DataFrame,
    n_planes: int = N_PLANES,
    band_width: int = BAND_WIDTH,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Undirected candidate pairs ``(ea, eb)`` with ``ea < eb`` —
    entities agreeing on all bits of at least one band.

    ``max_bucket`` drops degenerate buckets before the self-join (the
    same skew guard as knn.py::cosine_knn_lsh): a bucket holding a
    large fraction of all entities carries no discriminative signal
    and would reintroduce the quadratic blowup the switch exists to
    avoid."""
    sigs = _band_sigs(r, n_planes, band_width)
    if max_bucket is not None:
        sizes = sigs.groupBy("band", "sig").agg(F.count("*").alias("_bn"))
        sigs = (
            sigs.join(sizes, ["band", "sig"])
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = sigs.select("band", "sig", F.col("ent").alias("ea"))
    b = sigs.select("band", "sig", F.col("ent").alias("eb"))
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("ea") < F.col("eb"))
        .select("ea", "eb")
        .distinct()
    )


def lsh_pairwise_similarity(
    ratings: DataFrame,
    kernel: str = "cosine",
    axis: str = "user",
    directed: bool = True,
    max_raters_per_item: int | None = None,
    n_planes: int = N_PLANES,
    band_width: int = BAND_WIDTH,
    max_bucket: int | None = 10_000,
    euclidean_fallback: bool = False,
) -> DataFrame:
    """Drop-in replacement for
    functions/similarity.py::pairwise_similarity with LSH candidate
    generation instead of the co-rated self-join (module docstring).

    Same output schema — ``(user_a, user_b, sim)`` /
    ``(item_a, item_b, sim)``, mirrored when ``directed`` — and the
    SAME similarity values for every emitted pair (exact kernel over
    the true co-rated stats; candidate pairs with zero co-rated keys
    are dropped, matching the exact path's co-rated-only contract).
    ``max_raters_per_item`` applies the identical hot-key cutoff to
    the rating relation first, so both paths score the same effective
    matrix.

    ``euclidean_fallback`` (K5: a primary sim of exactly 0.0 falls back
    to inverted Euclidean) is reachable only on pairs that collide: a
    zero-cosine pair rarely does, so callers whose corpora actually
    exercise K5 (all-positive feature spaces never do) should stay
    exact."""
    r, key = _axis_ratings(ratings, axis, max_raters_per_item)
    # duplicate (ent, key) rows would make map_from_entries below throw
    # DUPLICATE_MAP_KEY — sum them first, which DEFINES the effective
    # matrix as the duplicate-summed one (for the dot product this
    # matches the exact path: its per-key join contributes
    # Σᵢ Σⱼ rᵃᵢ·rᵇⱼ = (Σ rᵃ)(Σ rᵇ), the product of the summed entries);
    # a no-op single-pass pre-aggregation when (ent, key) is unique,
    # as rating data is
    r = r.groupBy("ent", "key").agg(
        F.sum("r").alias("r"),
        *([F.first("mean_u").alias("mean_u")] if "mean_u" in r.columns else []),
    )
    # the rating relation feeds the signature pass AND both sides of
    # the entity-profile join; it must outlive the returned lazy sims,
    # so the caller frees it with lifecycle.release("cf_lsh")
    r = materialize(r, owner="cf_lsh")

    cand = lsh_candidate_pairs(r, n_planes, band_width, max_bucket)

    # per-entity profile: rating map + the kernel scalars, one shuffle
    prof = _entity_stats(
        r,
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.col("r")))
        ).alias("m"),
    )
    # co-rated dot/count per CANDIDATE pair — map_zip_with pairs the
    # two rating maps on their key union (null where one side misses),
    # all JVM higher-order functions
    zipped = F.map_zip_with("ma", "mb", lambda k, x, y: x * y)
    pairs = (
        _with_entity_stats(cand, prof, "m")
        .withColumn("_z", F.map_values(zipped))
        .select(
            "*",
            F.aggregate(
                "_z", F.lit(0.0), lambda acc, v: acc + F.coalesce(v, F.lit(0.0))
            ).alias("dot"),
            F.size(F.filter("_z", lambda v: v.isNotNull())).cast("long").alias(
                "co"
            ),
        )
        .drop("ma", "mb", "_z")
        .where(F.col("co") > 0)
    )
    return _score_pairs(
        pairs, ratings, key, kernel, axis, directed, euclidean_fallback
    )
