"""Physical-plan regression guards: the properties PERF.md claims
(pushdown, pruning, broadcast strategy, distributed top-k, no
accidental cartesian products) asserted on the ACTUAL plans, so a
future edit that silently degrades a plan fails a test instead of a
benchmark.

These inspect the pre-execution AQE plan (AdaptiveSparkPlan with
isFinalPlan=false): scan pushdown, join strategy hints, and operator
choice are all decided before runtime re-optimization.
"""

from __future__ import annotations

import pytest

from recsys_spark_spark.plans.registry import DEMOTED, QUERIES, _load_all


def plan_of(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


@pytest.fixture(scope="module")
def queries():
    _load_all()
    # plan guards cover BOTH correctness tiers — the registered/demoted
    # split rotates round-to-round but plan shape must not regress
    return {**QUERIES, **DEMOTED}


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir, queries):
    p = plan_of(queries["q1_pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read l_orderkey/l_partkey etc.
    scan = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in scan and "l_comment" not in scan
    # map-side combine before the single shuffle
    assert "partial_sum" in p
    assert p.count("Exchange") >= 1


def test_q3_q5_broadcast_dimensions(spark, sf_dir, queries):
    for q in ("q3_top_revenue_orders", "q5_region_revenue"):
        p = plan_of(queries[q].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in p, f"{q}: dimension join not broadcast"
        assert "CartesianProduct" not in p


def test_top_tokens_distributed_topk(spark, sf_dir, queries):
    """Round-1 wrong #2: the global rank window funneled all tokens
    through one partition; the fix must plan TakeOrderedAndProject."""
    p = plan_of(queries["top_tokens"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_corpus_clean_pushes_lang_gate(spark, sf_dir, queries):
    """The composed pipeline's row-local language gate must reach the
    parquet scan (quality is computed so it can't push; lang can)."""
    p = plan_of(queries["corpus_clean"].fn(spark, sf_dir))
    assert "Not(In(lang" in p or "Not(EqualTo(lang" in p, "lang filter not pushed"


def test_corpus_train_ready_pushes_lang_gate(spark, sf_dir, queries):
    """The r7 bench flagship composes the same row-local gate as
    corpus_clean — its lang filter must reach the parquet scan too
    (the survivors feed three further stages, so a missed pushdown
    multiplies)."""
    p = plan_of(queries["corpus_train_ready"].fn(spark, sf_dir))
    assert "Not(In(lang" in p or "Not(EqualTo(lang" in p, "lang filter not pushed"


def test_skew_audit_head_is_group_limited(spark, sf_dir, queries):
    """The skew audit's hottest-key / top-N head must plan
    TakeOrderedAndProject over the count relation (never a full sort
    of all keys — at 100 TB the key relation is |users|-wide)."""
    p = plan_of(queries["events_key_skew_audit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_explosion_audit_hot_key_is_group_limited(spark, sf_dir, queries):
    """Same discipline for the join-explosion audit: the hottest-key
    head is TakeOrderedAndProject over the |keys|-wide product
    relation (never a full sort), and nothing plans a CartesianProduct
    (the 1-row stat frames combine via broadcast)."""
    p = plan_of(queries["events_join_explosion_audit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_sketch_winsorize_broadcasts_band_onto_facts(spark, sf_dir, queries):
    """The sketch-twin scaler's |types|-row band table must broadcast
    onto the fact scan — a shuffled join here would move the facts for
    a 5-row dimension."""
    p = plan_of(queries["events_value_features"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_no_cartesian_products_anywhere(spark, sf_dir, queries):
    """Every registered non-ML query plans without CartesianProduct;
    the only crossJoins in the engine are broadcast 1-row bounds or
    broadcast rule sets (which plan as BroadcastNestedLoopJoin)."""
    skip = {"sequential_topk", "als_topk"}  # eager ML fitting in plan build
    offenders = []
    for name, spec in queries.items():
        if name in skip:
            continue
        p = plan_of(spec.fn(spark, sf_dir))
        if "CartesianProduct" in p:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_knn_window_rank_is_group_limited(spark, sf_dir, queries):
    """Top-k windows must plan WindowGroupLimit (rank pruned before
    the exchange), not a full sort of every candidate."""
    for q in ("embedding_knn_lsh", "embedding_knn_ivf"):
        p = plan_of(queries[q].fn(spark, sf_dir))
        assert "WindowGroupLimit" in p, f"{q}: rank not group-limited"


def test_directed_sims_single_pair_join_subtree(spark):
    """PERF regression guard: directed pairwise_similarity must build
    ONE pair-join subtree (explode of both directions), never
    Union(X, mirror(X)) — Spark does not collapse the union branches
    (no ReusedExchange), so a union form executes the quadratic join
    twice."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.functions.similarity import pairwise_similarity

    r = spark.createDataFrame(
        [(1, 10, 4.0), (2, 10, 3.0), (1, 11, 5.0), (2, 11, 2.0)],
        "user_id int, item_id int, rating double",
    )
    sims = pairwise_similarity(r, "cosine", "user", directed=True)
    p = plan_of(sims)
    assert "Union" not in p, "directed mirror reintroduced a Union"
    assert "Generate" in p  # the explode generator node
    # both directions still come out
    rows = {(x["user_a"], x["user_b"]) for x in sims.collect()}
    assert rows == {(1, 2), (2, 1)}


def tree_of(df) -> str:
    """Executed-plan tree string — each node printed once (the
    formatted explain repeats nodes in its details section)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_multi_kernel_sims_add_no_plan_nodes(spark):
    """The kernel merge (user_sims/item_sims compute 2 kernels from one
    pair-join aggregate) must NOT change the plan shape: adding a
    kernel is a projection, so join/aggregate/exchange counts must be
    IDENTICAL to the single-kernel plan."""
    from recsys_spark_spark.functions.similarity import pairwise_similarity

    r = spark.createDataFrame(
        [(u, i, float(u + i)) for u in range(4) for i in range(3)],
        "user_id int, item_id int, rating double",
    )
    single = tree_of(
        pairwise_similarity(r, "pearson", "user", directed=False, with_co=True)
    )
    both = tree_of(
        pairwise_similarity(
            r, ("cosine", "pearson"), "user", directed=False, with_co=True
        )
    )
    for op in ("Join", "HashAggregate", "Exchange"):
        assert single.count(op) == both.count(op), (
            f"{op} count changed: {single.count(op)} -> {both.count(op)}"
        )
    assert "sim_cosine" in both and "sim_pearson" in both


def test_cf_predictions_reuses_cached_ratings(spark, sf_dir, queries):
    """The 3-model union must read the ratings subtree from cache
    (InMemoryTableScan), not re-run orders x lineitem per branch."""
    p = plan_of(queries["cf_predictions"].fn(spark, sf_dir))
    assert "InMemoryTableScan" in p, "ratings cache not used"
    assert "CartesianProduct" not in p


def test_merged_dedup_docs_single_scan(spark, sf_dir, queries):
    """dedup_docs (exact + normalized + url_canonical keeper mappings,
    r14 merge) must stay ONE documents scan melting into ONE
    hash-partitioned window over (variant, dup_key) — the merge's
    fewer-shuffles claim, pinned."""
    t = tree_of(queries["dedup_docs"].fn(spark, sf_dir))
    assert t.count("Scan parquet") == 1, "documents scanned more than once"
    assert t.count("Window") == 1
    assert "Generate explode" in t, "variant melt (explode) missing"


def test_child_topk_plans_read_scored_cache(spark, sf_dir, queries):
    """Round-4 perf contract, checkpoint form: the standalone CF
    children read the checkpointed ranked model (a scan of its blocks)
    and nothing else — no window and no join in the plan,
    so the candidate subtree is never re-run per query (8-9 s apiece at
    sf0.1) and later plans stay small."""
    for name in ("user_topk_cosine", "item_topk_cosine"):
        p = plan_of(queries[name].fn(spark, sf_dir))
        assert "Scan ExistingRDD" in p, f"{name}: ranked checkpoint not in plan"
        assert "Window" not in p, f"{name}: rank window re-run"
        assert "Join" not in p, f"{name}: candidate subtree re-run"


def test_bench_set_is_stable():
    """The bench set must not drift when the registered/demoted split
    rotates — round-over-round timing comparability depends on it.
    Additions are deliberate acts: update this list WITH the PERF.md
    note explaining the total change (als_topk joined in round 4,
    events_stream_quantile_sketch in round 5, corpus_train_ready — the
    flagship LLM-pipeline composition — in round 7, neardup_components
    — the composition's hottest stage as its own attributable line —
    in round 8)."""
    from recsys_spark_spark.plans.registry import bench_queries

    assert sorted(bench_queries()) == [
        "als_topk",
        "corpus_clean",
        "corpus_train_ready",
        "corpus_vocab",
        "doc_chunks",
        "embedding_knn_bruteforce",
        "embedding_knn_ivf",
        "embedding_knn_lsh",
        "events_stream_quantile_sketch",
        "hybrid_topk",
        "item_topk_cosine",
        "neardup_components",
        "neardup_minhash_lsh",
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_region_revenue",
        "sequential_topk",
        "user_topk_cosine",
    ]


def test_removed_code_stays_removed():
    """Source scan: no module of the package or the tests, nor bench.py
    or .claude/, names a stress script other than full_registry_cert.py;
    the registry's second decorator name is gone everywhere;
    ``als_topk`` takes none of its removed tuning options; and the
    similarity / CF functions take none of theirs."""
    import inspect
    import re
    from pathlib import Path

    from recsys_spark_spark.recommenders.als import als_topk

    root = Path(__file__).parent.parent
    files = [
        *(root / "recsys_spark_spark").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        root / "bench.py",
        *(p for p in (root / ".claude").rglob("*") if p.is_file()),
    ]
    script = re.compile(r"stress/(?!full_registry_cert\.py)\w")
    alias = "register" + "_demoted"
    texts = {str(p.relative_to(root)): p.read_text(errors="ignore") for p in files}
    assert [f for f, t in texts.items() if script.search(t) or alias in t] == []
    removed = {"num_blocks", "intermediate_storage", "chunk_budget_f32",
               "serve_partitions", "headroom"}
    assert not removed & set(inspect.signature(als_topk).parameters)

    # the similarity / CF options no caller set, and the unused
    # top_k_neighbors, are gone; the axis → (ent, key) mapping and the
    # hot-key count live only in functions/similarity.py
    from recsys_spark_spark.functions import similarity
    from recsys_spark_spark.operators import cf_lsh
    from recsys_spark_spark.recommenders import content, neighborhood as nb

    public = [
        similarity.pairwise_similarity, similarity.pairwise_similarity_for_pairs,
        cf_lsh.lsh_pairwise_similarity, content.content_similarities,
        nb.user_based_scored, nb.user_based_topk, nb.item_based_scored,
        nb.item_based_topk, nb.predict_user_based, nb.predict_item_based,
        nb.topk_from_item_sims,
    ]
    gone = {"n_cols", "materialize", "max_items_per_feature"}
    assert [
        f.__name__ for f in public if gone & set(inspect.signature(f).parameters)
    ] == []
    assert not hasattr(similarity, "top_k_neighbors")
    axis_map = re.compile(r'axis == "user":\s*ent, key, key_rows = "user_id", "item_id"')
    hot_count = re.compile(r'F\.count\("\*"\)\.over\(by_item\)')
    package = {f: t for f, t in texts.items() if f.startswith("recsys_spark_spark")}
    assert [f for f, t in package.items() if axis_map.search(t)] == [
        "recsys_spark_spark/functions/similarity.py"
    ]
    assert [f for f, t in package.items() if hot_count.search(t)] == [
        "recsys_spark_spark/functions/similarity.py"
    ]


def test_bench_normalized_grand_validity_domain():
    """The GEMM-normalized grand is a FIRST-ORDER model, trustworthy
    only near the calibration band: the r11 driver host probed
    18 GFLOPS (13× off-band) and the unconditional formula published
    an 8×-flattering 14.87 "normalized seconds" (VERDICT r11 #1).
    Off-band probes must null the field and self-identify as invalid
    so no cross-round reader can mistake a degraded-host artifact for
    a plan win or loss."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from bench import NORMALIZED_VALID_GFLOPS, normalized_grand

    lo, hi = NORMALIZED_VALID_GFLOPS
    # the r11 driver incident verbatim: 18 GFLOPS → nulled + invalid
    assert normalized_grand(198.3, 18.0) == (None, False)
    assert normalized_grand(100.0, hi * 2) == (None, False)
    # no probe (smoke scale): nothing to validate; a MEASURED 0.0 is an
    # off-band reading, not a skip (r12 ADVICE — the falsy check
    # misclassified a degenerate probe)
    assert normalized_grand(100.0, None) == (None, None)
    assert normalized_grand(100.0, 0.0) == (None, False)
    # in-band (incl. both edges): linear model applies
    assert normalized_grand(100.0, 240.0) == (100.0, True)
    assert normalized_grand(100.0, lo) == (round(100 * lo / 240.0, 3), True)
    assert normalized_grand(100.0, hi) == (round(100 * hi / 240.0, 3), True)


def test_bench_jvm_normalized_grand_contract():
    """r13 convention (VERDICT r12 #2): the JVM whole-stage-codegen
    calibration DRIVES cross-round normalization — the GEMM probe
    proved 4.7x unstable on an idle host while the JVM band moved 8%,
    so GEMM can never drive it.  Same contract shape: None = no
    calibration, off-band (incl. a measured 0.0) = nulled + invalid,
    in-band = linear correction against the 5.4 Ghashes/s r12 pin."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from bench import (
        JVM_NORMALIZED_VALID_GHASHES,
        REFERENCE_JVM_GHASHES,
        normalized_grand_jvm,
    )

    lo, hi = JVM_NORMALIZED_VALID_GHASHES
    assert REFERENCE_JVM_GHASHES == 5.4  # the recorded r12 baseline
    assert lo == REFERENCE_JVM_GHASHES / 2 and hi == REFERENCE_JVM_GHASHES * 2
    assert normalized_grand_jvm(100.0, None) == (None, None)
    assert normalized_grand_jvm(100.0, 0.0) == (None, False)
    assert normalized_grand_jvm(100.0, hi * 2) == (None, False)
    # the r12 run-3 record verbatim: 152.402 s at 5.4 Ghashes/s is
    # 152.402 normalized seconds (the pin host normalizes to itself)
    assert normalized_grand_jvm(152.402, 5.4) == (152.402, True)
    assert normalized_grand_jvm(100.0, lo) == (round(100 * lo / 5.4, 3), True)
    assert normalized_grand_jvm(100.0, hi) == (round(100 * hi / 5.4, 3), True)


def test_bench_warmup_touches_no_test_data_tables():
    """Guard the measurement seam (VERDICT r14 #7): bench.py's
    pre-loop warm-ups may prime the JVM, parquet FOOTERS, and the
    Python-worker fleet, but must never read a test-data TABLE into
    cache or state — a future 'warm-up' that scans a fact table would
    be result precomputation, not warm-up.  Pins the warm-up inputs
    by source: the only parquet path read is region (footer probe,
    the smallest dimension), and the Python-worker warm-up feeds on
    spark.range, never a file."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).parent.parent / "bench.py"
    ).read_text()
    # region of interest: everything before the timed loop
    pre_loop = src.split("for name, fn in order:")[0]
    reads = re.findall(r"read\.parquet\(f?[\"'](.*?)[\"']\)", pre_loop)
    assert reads == ["{sf_dir}/region.parquet"], reads
    # the worker warm-up's only relation is spark.range
    warm = re.search(r"def _warm.*?mapInPandas", pre_loop, re.S)
    assert warm is not None
    assert "spark.range(par).repartition(par).mapInPandas" in pre_loop
    # no other table() / parquet readers in the pre-loop region
    assert "ratings_from_sales" not in pre_loop
    assert pre_loop.count("read.parquet") == 1


def test_cooccurrence_lift_distributed_topn(spark, sf_dir, queries):
    """The top-100-by-lift must plan TakeOrderedAndProject (per
    partition top-N + tiny driver merge), not a global sort."""
    p = plan_of(queries["item_cooccurrence_lift"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far (whole-stage and
    expression codegen alike)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _grid_ratings(spark):
    """60 users x 10 distinct items each over 41 items, ratings 1-5,
    from spark.range (no Python RDD)."""
    from pyspark.sql import functions as F

    j = F.col("id") % 10
    user = (F.col("id") / 10).cast("long")
    return spark.range(600).select(
        user.alias("user_id"),
        ((user * 7 + j * 3) % 41).alias("item_id"),
        (1 + (user + j) % 5).cast("double").alias("rating"),
    )


def test_cf_axis_rebuild_compiles_nothing(spark):
    """The session's generated-class cache holds a CF axis' working
    set: building the same shared-path axis again compiles 0 classes
    (at the default 100-entry cache a warm CV fold recompiled ~155)."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.recommenders.neighborhood import user_based_topk

    knn = dict(k_neighbors=6, k_items=4, prefilter_neighbors=12,
               max_raters_per_item=90)
    ratings = _grid_ratings(spark)
    first = user_based_topk(ratings, **knn).collect()
    before = _compiled(spark)
    second = user_based_topk(ratings, **knn).collect()
    assert _compiled(spark) - before == 0
    assert sorted(first) == sorted(second)
    lifecycle.release("neighborhood")


def test_cf_axis_classes_shared_across_folds(spark):
    """The CV split's fold literal stays in the ratings-leaf checkpoint
    job, so every later stage of the fold-0 axis reuses the classes the
    fold-4 axis compiled: under a quarter of the cold build's count."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.metrics.evaluation import split_ratings
    from recsys_spark_spark.recommenders.neighborhood import item_based_topk

    knn = dict(k_neighbors=7, k_items=3, prefilter_neighbors=11,
               max_raters_per_item=97)
    ratings = _grid_ratings(spark)
    counts = []
    for fold in (4, 0):
        train, _ = split_ratings(ratings, fold=fold)
        before = _compiled(spark)
        item_based_topk(train, **knn).collect()
        counts.append(_compiled(spark) - before)
    cold, warm = counts
    assert cold > 0 and warm * 4 < cold, counts
    lifecycle.release("neighborhood")


def test_cf_axis_reads_a_ratings_leaf(spark):
    """Each axis builds on the lineage-free ratings index, not on the
    caller's cached relation: the executed axis plan scans the index
    (Scan ExistingRDD), has no InMemoryTableScan, and AQE reuses at
    least one exchange between the axis' ratings-derived stages (it
    never does over a cached leaf).  The index outlives the call: a
    second call on the same frame gets it back, a call on another frame
    replaces it, and ``lifecycle.release("neighborhood")`` frees it."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.recommenders.neighborhood import (
        _rank_items,
        ratings_index,
        user_based_scored,
    )

    owner = object()
    cached = lifecycle.materialize(_grid_ratings(spark), owner=owner, eager=True)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    base = len(rdds())
    index = ratings_index(cached)
    assert len(rdds()) == base + 1
    assert ratings_index(cached) is index
    assert ratings_index(index) is index
    ranked = _rank_items(
        user_based_scored(index, 5, prefilter_neighbors=10, max_raters_per_item=80),
        4,
    )
    ranked.collect()
    tree = tree_of(ranked)
    assert len(rdds()) == base + 1

    other = ratings_index(cached.where("user_id < 30"))
    assert other is not index
    assert len(rdds()) == base + 1  # the first index was released
    assert other.count() == 300
    lifecycle.release("neighborhood")
    assert len(rdds()) == base
    lifecycle.release(owner)
    assert "Scan ExistingRDD" in tree
    assert "InMemoryTableScan" not in tree
    assert tree.count("ReusedExchange") >= 1, tree


def test_cf_axis_on_the_index_has_no_hot_key_or_means_aggregate(spark):
    """Over the index, the hot-key guard is a filter on a count column
    and the user means are columns: neither axis plan aggregates by its
    join key alone (the old hot-key count), computes an average (the
    old user means) or windows over the ratings."""
    import re

    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.recommenders.neighborhood import (
        item_based_scored,
        ratings_index,
        user_based_scored,
    )

    index = ratings_index(_grid_ratings(spark))
    knn = dict(prefilter_neighbors=10, max_raters_per_item=80)
    for scored, key, key_rows in (
        (user_based_scored(index, 5, **knn), "item_id", "n_item"),
        (item_based_scored(index, 5, **knn), "user_id", "n_user"),
    ):
        plan = scored._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan
        assert re.search(rf"{key_rows}#\d+L? <= 80", plan), plan
        aggs = [ln for ln in plan.splitlines() if "Aggregate [" in ln]
        assert aggs, plan
        assert not [ln for ln in aggs if re.search(rf"Aggregate \[{key}#\d+L?\],", ln)]
        assert "avg(" not in plan, plan
        assert "count(1) windowspecdefinition" not in plan, plan
    lifecycle.release("neighborhood")


def test_cf_axes_share_one_ratings_index(spark, monkeypatch):
    """``user_based_topk(train)`` then ``item_based_topk(train)``, the way
    the CV loop calls them, take exactly one index checkpoint between
    them (and one ranked checkpoint each); so does a second split of
    the same fold."""
    from recsys_spark_spark import lifecycle
    from recsys_spark_spark.functions.similarity import INDEX_COLUMNS
    from recsys_spark_spark.metrics.evaluation import split_ratings
    from recsys_spark_spark.recommenders.neighborhood import (
        item_based_topk,
        user_based_topk,
    )

    taken = []
    checkpoint = lifecycle.checkpoint

    def counting(df, *, owner):
        taken.append("index" if set(INDEX_COLUMNS) <= set(df.columns) else "model")
        return checkpoint(df, owner=owner)

    monkeypatch.setattr(lifecycle, "checkpoint", counting)
    knn = dict(k_neighbors=7, k_items=3, prefilter_neighbors=11,
               max_raters_per_item=97)
    ratings = _grid_ratings(spark)
    train, _ = split_ratings(ratings, fold=0)
    user_based_topk(train, **knn).collect()
    item_based_topk(train, **knn).collect()
    again, _ = split_ratings(ratings, fold=0)
    user_based_topk(again, **knn).collect()
    assert taken == ["index", "model", "model", "model"]
    lifecycle.release("neighborhood")


def test_lazy_cf_axis_runs_no_job(spark):
    """Without a neighbor prefilter the axis plan is built without
    running a Spark job: no ratings leaf and no ranked checkpoint are
    taken."""
    from recsys_spark_spark.recommenders.neighborhood import user_based_topk

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    user_based_topk(_grid_ratings(spark), 5, 4, prefilter_neighbors=None)
    assert len(tracker.getJobIdsForGroup(None)) == before
