"""Planted-fixture tests for the r11-born filter-aware IVF route
(embedding_hard_negatives_ivf + the variant-tagged recall audit).
Oracle parity at sf0.01 rides tests/test_oracle_parity.py; here the
filtered-ANN semantics are pinned on hand-computable inputs."""

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark.operators.ivf import cosine_knn_ivf, overfetch_k


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _filtered_ivf(e, n_queries, k, n_cells=2, n_probe=2):
    q = e.where(F.col("vec_id") < n_queries)
    return cosine_knn_ivf(
        e,
        q,
        k,
        n_cells=n_cells,
        n_probe=n_probe,
        query_meta_cols=("label",),
        match_meta_cols=("label",),
        match_predicate=F.col("m_label") != F.col("q_label"),
    )


def test_filtered_ivf_excludes_same_label(spark):
    """The nearest vector overall shares the query's label and must
    never appear — the predicate prunes it INSIDE the candidate join,
    before the exact rerank."""
    rows = [
        (0, [1.0, 0.0], 0),  # the query
        (1, [0.999, 0.01], 0),  # nearest overall — same label, excluded
        (2, [0.9, 0.436], 1),  # top hard negative
        (3, [0.0, 1.0], 2),  # orthogonal
        (4, [-1.0, 0.0], 1),  # opposite
    ]
    out = _filtered_ivf(_emb(spark, rows), n_queries=1, k=3).collect()
    ids = [r["match_id"] for r in out]
    assert 1 not in ids
    assert all(r["m_label"] != r["q_label"] for r in out)
    # with n_probe == n_cells every cell is probed, so the filtered
    # result equals the exact filtered top-k: 2 (sim .9) then 3 (0)
    # then 4 (-1)
    assert [(r["match_id"], r["rank"]) for r in out] == [(2, 1), (3, 2), (4, 3)]


def test_filtered_ivf_beats_filter_after_ann(spark):
    """The failure mode the pushed predicate exists for: when the
    query's whole near neighborhood shares its label, filtering AFTER
    an unfiltered top-k returns ZERO rows while the filter-aware scan
    still returns k — over-fetch (k' = k/selectivity) is the
    in-between fallback for non-pushable predicates."""
    # 4 same-label vectors hug the query; 2 different-label vectors
    # sit far away.  Unfiltered top-2 is all label-0.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.04], 0),
        (2, [0.998, 0.06], 0),
        (3, [0.997, 0.08], 0),
        (4, [0.996, 0.09], 0),
        (5, [0.0, 1.0], 1),
        (6, [-1.0, 0.0], 1),
    ]
    e = _emb(spark, rows)
    k = 2
    q = e.where(F.col("vec_id") < 1)
    unfiltered = cosine_knn_ivf(e, q, k, n_cells=2, n_probe=2)
    labels = e.select(
        F.col("vec_id").alias("match_id"), F.col("label").alias("m_label")
    )
    post = (
        unfiltered.join(labels, "match_id").where(F.col("m_label") != 0).collect()
    )
    assert post == []  # filter-after-ANN starves
    pushed = _filtered_ivf(e, n_queries=1, k=k).collect()
    assert [r["match_id"] for r in pushed] == [5, 6]
    # the documented over-fetch fallback: different-label selectivity
    # here is 2/6, so k' = ceil(2 / (2/6)) = 6 reaches the negatives
    kp = overfetch_k(k, 2 / 6)
    assert kp == 6
    over = cosine_knn_ivf(e, q, kp, n_cells=2, n_probe=2)
    over_post = (
        over.join(labels, "match_id")
        .where(F.col("m_label") != 0)
        .orderBy("rank")
        .limit(k)
        .collect()
    )
    assert [r["match_id"] for r in over_post] == [5, 6]


def test_overfetch_k_validation():
    assert overfetch_k(5, 1.0) == 5
    assert overfetch_k(5, 0.5) == 10
    assert overfetch_k(5, 0.3) == 17
    with pytest.raises(ValueError):
        overfetch_k(5, 0.0)
    with pytest.raises(ValueError):
        overfetch_k(5, 1.5)


def test_default_path_grain_unchanged(spark):
    """No meta cols / no predicate → the historical 4-column grain
    (downstream consumers and the merged embedding_knn_indexed oracle
    depend on it)."""
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 1),
        (2, [0.0, 1.0], 0),
    ]
    e = _emb(spark, rows)
    q = e.where(F.col("vec_id") < 1)
    out = cosine_knn_ivf(e, q, 2, n_cells=2, n_probe=2)
    assert out.columns == ["query_id", "match_id", "sim", "rank"]


def test_filtered_ivf_predicate_inside_join(spark, sf_dir):
    """Plan pin: the label predicate must fold into the candidate
    JOIN's condition (filter-aware ANN), never into a Filter above
    the rank window (filter-after-ANN) — Catalyst renders the pushed
    form as `Join Inner, (... AND NOT (m_label = q_label) ...)`."""
    from recsys_spark_spark.plans.ann import embedding_hard_negatives_ivf

    p = (
        embedding_hard_negatives_ivf(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    join_lines = [
        l for l in p.splitlines() if "Join Inner" in l and "m_label" in l
    ]
    assert any("NOT (m_label" in l for l in join_lines), p
    # and no same-label filter re-applied above the window rank
    window_pos = p.find("windowspecdefinition")
    pred_pos = p.find("NOT (m_label")
    assert 0 <= window_pos < pred_pos, (
        "predicate should sit BELOW the rank window in the plan tree"
    )


def test_recall_audit_variants(spark, sf_dir):
    """The variant-tagged audit carries both routes; the filtered
    route's recall tracks the unfiltered route's (the predicate only
    shrinks the rerank competition — measured 0.63 mean for BOTH at
    sf0.001)."""
    from recsys_spark_spark.plans.ann import embedding_knn_recall_audit

    p = embedding_knn_recall_audit(spark, sf_dir).toPandas()
    variants = set(p["variant"])
    assert variants == {"ivf", "hard_neg_ivf", "hard_neg_lsh"}
    for v in ("hard_neg_ivf", "hard_neg_lsh"):
        hn = p[p["variant"] == v]
        assert (hn["recall"] >= 0.0).all() and (hn["recall"] <= 1.0).all()
        assert hn["recall"].mean() >= 0.5, (v, hn["recall"].mean())


# --- correlated-subquery shapes (q17/q22 class) -----------------------------


def test_q17_integer_threshold_semantics(spark, tmp_path):
    """qty < 0.2*avg(part) via the exact 5*qty*cnt < sum form: part 10
    has quantities [1,10,10,10,10] (avg 8.2, threshold 1.64) — only
    the qty-1 line qualifies; an off-brand part with a tiny quantity
    must not leak in."""
    from datetime import datetime

    from recsys_spark_spark.plans.relational import (
        Q17_BRAND,
        q17_small_quantity_revenue,
    )

    parts = spark.createDataFrame(
        [(10, "na", Q17_BRAND, "t", 1, 1.0), (20, "nb", "Brand#99", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    li_rows = [(1, 10, 1.0, 700.0)] + [
        (k, 10, 10.0, 100.0) for k in range(2, 6)
    ] + [(6, 20, 1.0, 999.0)]
    lineitem = spark.createDataFrame(
        [
            (ok, pk, 1, 1, q, px, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
            for ok, pk, q, px in li_rows
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    parts.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    lineitem.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = q17_small_quantity_revenue(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_lines"] == 1
    assert abs(out[0]["avg_yearly"] - 700.0 / 7.0) < 1e-6


def test_q22_dormant_threshold_and_anti_join(spark, tmp_path):
    """Cent-exact above-average test + dormancy anti-join: A (high
    balance, only an OLD order) is the one survivor; B below average;
    C high balance but recently active; D negative balance (never
    above a positive-average threshold)."""
    from datetime import datetime

    from recsys_spark_spark.plans.relational import q22_dormant_high_value

    customers = spark.createDataFrame(
        [
            (1, "A", 0, 100.00, "SEG_X"),
            (2, "B", 0, 10.00, "SEG_X"),
            (3, "C", 0, 100.00, "SEG_Y"),
            (4, "D", 0, -5.00, "SEG_X"),
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [
            (11, 1, datetime(1999, 6, 1)),   # A: old order only -> dormant
            (12, 3, datetime(2001, 6, 1)),   # C: recent -> active
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    customers.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = q22_dormant_high_value(spark, str(tmp_path)).collect()
    # positive set {100, 10, 100}: avg = 70 -> A and C above; C active
    assert [(r["c_mktsegment"], r["n_customers"], r["total_acctbal"]) for r in out] == [
        ("SEG_X", 1, 100.00)
    ]


# --- streaming attribution twin ---------------------------------------------


def test_stream_attribution_equals_batch(spark, sf_dir):
    """The full streaming path (interval join -> append sink ->
    read-back collapse) must reproduce the batch attribution
    bit-for-bit on the same corpus — the two forms share only
    _attribution_daily_agg."""
    from recsys_spark_spark.plans.windows_extra import (
        events_attribution_last_touch,
        events_stream_attribution,
    )

    batch = {
        r["day"]: (
            r["n_purchases"],
            r["n_attributed"],
            r["attributed_value"],
            r["direct_value"],
            r["avg_gap_s"],
        )
        for r in events_attribution_last_touch(spark, sf_dir).collect()
    }
    streamed = {
        r["day"]: (
            r["n_purchases"],
            r["n_attributed"],
            r["attributed_value"],
            r["direct_value"],
            r["avg_gap_s"],
        )
        for r in events_stream_attribution(spark, sf_dir).collect()
    }
    assert batch == streamed and len(batch) > 0


def test_q17_q22_plan_shapes(spark, sf_dir):
    """Plan pins for the decorrelated forms: broadcast joins + pushed
    filters, never a cartesian product; q22's only nested-loop is the
    broadcast 1-row threshold relation."""
    from recsys_spark_spark.plans.relational import (
        q17_small_quantity_revenue,
        q22_dormant_high_value,
    )

    p17 = (
        q17_small_quantity_revenue(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p17
    assert "BroadcastHashJoin" in p17
    assert "p_brand" in p17 and "PushedFilters" in p17
    p22 = (
        q22_dormant_high_value(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p22
    # the threshold crossJoin must be the broadcast-1-row nested loop,
    # and exactly one such node
    assert p22.count("BroadcastNestedLoopJoin") == 1


# --- carry-class-aware twin switch ------------------------------------------


def test_twin_switch_thresholds_ordered_by_cost_class():
    """The measured ordering must hold in the table: RANGE frames
    cross over before flag/lag carries, which cross before the as-of
    struct carry (PERF.md r10/r11 measurements)."""
    from recsys_spark_spark.operators.twin_switch import (
        CARRY_CLASS_CROSSOVER_ROWS as T,
        recommend_window_form,
    )

    assert T["range_frame"] < T["flag_sum"] <= T["asof_struct"]
    assert T["one_row_lag"] == T["flag_sum"]
    assert recommend_window_form(T["range_frame"] - 1, "range_frame") == "plain"
    assert recommend_window_form(T["range_frame"], "range_frame") == "chunked"
    assert recommend_window_form(10**9, "asof_struct") == "chunked"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recommend_window_form(10, "unmeasured_class")
    with _pytest.raises(ValueError):
        recommend_window_form(-1, "flag_sum")


def test_release_query_state_clears_session_caches(spark):
    """The sweep helper must actually drop SQL-cache entries and the
    lifecycle pool (the accumulated-cache OOM class it exists for)."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.plans.registry import release_query_state

    df = spark.range(100).cache()
    df.count()
    lifecycle.materialize(spark.range(50), owner="test")
    ck = spark.range(30).localCheckpoint()  # the graph-family leak class
    ck.count()
    assert df.storageLevel.useMemory
    assert len(list(spark.sparkContext._jsc.getPersistentRDDs().keys())) > 0
    release_query_state(spark)
    assert not df.storageLevel.useMemory  # clearCache dropped it
    assert lifecycle._pool == []
    # localCheckpoint blocks are persistent RDDs, invisible to
    # clearCache — the drain must drop them too (a 1g JVM died on the
    # accumulation two queries after item_graph_triangles, r11)
    assert list(spark.sparkContext._jsc.getPersistentRDDs().keys()) == []


def test_drive_all_yields_and_releases(spark, sf_dir):
    """registry.drive_all: yields (name, rows, secs) per query and
    leaves nothing cached behind at any yield — no persistent RDD, no
    SQL cache entry, no lifecycle pool entry (the flat-memory sweep
    contract the cert harness depends on).  The queries cover the
    lifecycle's owners: ANN bases (knn), ALS biases + broadcast +
    factor RDDs, the dedup window/cut caches and the semdedup
    relations."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.plans.registry import drive_all

    names = [
        "events_daily",
        "embedding_knn_lsh",
        "als_topk",
        "doc_dedup_cut",
        "embedding_semdedup",
    ]
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    seen = []
    for name, rows, secs in drive_all(spark, sf_dir, names=names):
        assert rows > 0 and secs > 0, name
        assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty(), name
        assert cache_manager.isEmpty(), name
        assert lifecycle._pool == [], name
        seen.append(name)
    assert seen == names


# --- content LSH-candidate switch (the catalog-scale path) -------------------


def _grouped_catalog(spark, n_groups=40, per_group=12):
    """Planted high-cosine catalog — the switch's DESIGN REGIME: items
    within a group share brand/type one-hots and near-identical
    size/price, so true top neighbors are in-group with cosine >= 0.9
    (a real embedding/one-hot-dominated catalog shape); cross-group
    cosine is low."""
    rows = []
    for g in range(n_groups):
        for j in range(per_group):
            item = g * 100 + j
            rows += [
                (item, f"brand:{g}", 1.0),
                (item, f"type:{g % 7}", 1.0),
                (item, "size", 0.4 + 0.001 * j + 0.01 * (g % 3)),
                (item, "price", 0.5 + 0.001 * j),
            ]
    return spark.createDataFrame(rows, "item_id long, idx string, val double")


def test_content_lsh_switch_exact_values_and_recall(spark):
    """The switch's contract (the CF LSH-switch contract, applied to
    the content family), in its design regime (high-cosine catalog):
    every emitted (pair, sim) is EXACTLY the exact path's value;
    recall over each item's true top-5 is near-total; and the
    candidate set genuinely prunes (a small fraction of all pairs).

    REGIME NOTE, measured: the shipped part_features demo corpus has
    median top-5 cosine 0.63 — there 8-bit bands recall only ~0.67,
    and narrower bands stop pruning (the cosine_neardup_pairs math) —
    which is why the registered content queries keep the exact path
    at gate scale and the switch is for catalogs whose near
    neighbors are high-cosine."""
    from pyspark.sql import Window

    from recsys_spark_spark.recommenders.content import content_similarities

    feats = _grouped_catalog(spark)
    exact = content_similarities(feats).toPandas()
    lsh = content_similarities(feats, use_lsh_candidates=True).toPandas()
    ex = {(r.item_id, r.neighbor_item): r.sim for r in exact.itertuples()}
    for r in lsh.itertuples():
        assert ex[(r.item_id, r.neighbor_item)] == r.sim  # exact values
    # candidates must PRUNE: far fewer pairs than the exact relation
    assert len(lsh) < 0.35 * len(exact), (len(lsh), len(exact))
    # recall on each item's exact top-5 (what topk consumers read)
    e = spark.createDataFrame(exact)
    w = Window.partitionBy("item_id").orderBy(
        F.desc("sim"), F.asc("neighbor_item")
    )
    top = (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("item_id", "neighbor_item")
        .toPandas()
    )
    lsh_pairs = {(r.item_id, r.neighbor_item) for r in lsh.itertuples()}
    hits = sum(
        (r.item_id, r.neighbor_item) in lsh_pairs for r in top.itertuples()
    )
    recall = hits / len(top)
    assert recall >= 0.95, recall
    assert (exact["sim"] > 0).all()  # K5 never fires on all-positive feats


def test_content_topk_lsh_candidates_are_unsound(spark):
    """Pin the r11 finding that keeps the LSH switch OFF the M8 top-k:
    the weighted-average score ranking is not sim-monotone, so
    restricting sims to LSH candidates (which drop low-sim pairs)
    changes the ranking drastically even when pair-level recall of
    the true top sims is near-total — measured 0.075 row agreement on
    this planted catalog.  If this assert ever starts failing (high
    agreement), the scoring rule changed and the switch can be
    reconsidered."""
    from recsys_spark_spark.recommenders.content import (
        content_similarities,
        topk_from_item_sims,
    )

    feats = _grouped_catalog(spark)
    ratings = spark.createDataFrame(
        [
            (u, (u % 40) * 100 + j, 3.0 + (j % 3))
            for u in range(120)
            for j in range(4)
        ],
        "user_id long, item_id long, rating double",
    )
    exact = {
        (r.user_id, r.item_id)
        for r in topk_from_item_sims(
            content_similarities(feats), ratings, 25, 5
        )
        .toPandas()
        .itertuples()
    }
    lsh = {
        (r.user_id, r.item_id)
        for r in topk_from_item_sims(
            content_similarities(feats, use_lsh_candidates=True),
            ratings,
            25,
            5,
        )
        .toPandas()
        .itertuples()
    }
    overlap = len(exact & lsh) / len(exact)
    assert overlap < 0.5, (
        f"agreement {overlap} — the scoring rule may have become "
        "sim-monotone; reconsider the switch"
    )
