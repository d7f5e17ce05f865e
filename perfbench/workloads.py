"""The benchmark's workloads: sizes, warm-up, ops and their checks.

Every op is one closed-loop request from a single client: it calls the
engine's public functions layer by layer (each call inside a span) and
brings the result back to the client as digests (``checks.digest``),
which the runner checks once the timed passes are over.  ``ctx.traced``
adds one thing: a lazy layer output is persisted and counted at the
layer's boundary, so its Spark work lands in that layer's span.

Span names are layer names; ``<layer>:<phase>`` names a phase of one
layer (ALS fit and serve, SequentialTopK fit and recommend).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from gen import Size
from checks import Oracles, digest, topk_shape

#: the paper's k-fold cross-validation
N_FOLDS = 5

SIZE = Size(customers=100, parts=150, orders=1000, events=500, documents=200)


@dataclass
class Ctx:
    spark: object
    data_dir: str
    tracer: object
    traced: bool
    persisted_rdds: object  # () -> number of persisted RDDs in the session
    op: int = 0
    #: frames the benchmark itself persisted during the current op
    owned: list = field(default_factory=list)

    def persist(self, df):
        """Persist and count ``df`` on the benchmark's behalf."""
        df = df.persist()
        df.count()
        self.owned.append(df)
        return df

    def unpersist_owned(self) -> None:
        for df in self.owned:
            df.unpersist(blocking=True)
        self.owned.clear()


def _materialize(ctx: Ctx, df):
    """In the traced run, persist and count a lazy layer output at its
    boundary; otherwise return it untouched."""
    return ctx.persist(df) if ctx.traced else df


def end_op(ctx: Ctx) -> int:
    """Close an op: drop the frames the benchmark persisted, count the
    persisted RDDs the engine left behind, then release the session
    state (caches, checkpoints, models) with the engine's own call.
    Returns that count."""
    from recsys_spark_spark.plans.registry import release_query_state

    ctx.unpersist_owned()
    left = ctx.persisted_rdds()
    release_query_state(ctx.spark)
    return left


def _cf():
    """The registry's CF settings (plans/recsys.py): with them the DuckDB
    ``hybrid_topk`` oracle applies to the benchmark's own composition."""
    from recsys_spark_spark.plans import recsys

    return recsys


# --------------------------------------------------------------------- cf_cv


def cf_fold(ctx: Ctx, fold: int) -> dict:
    """One fold of the paper's CV loop: split, user and item k-NN on the
    train side, the 0.6/0.4 hybrid, ranking metrics on the test side."""
    from recsys_spark_spark.metrics.evaluation import (
        ranking_metrics,
        ranking_metrics_summary,
        split_ratings,
    )
    from recsys_spark_spark.recommenders.hybrid import hybrid_topk
    from recsys_spark_spark.recommenders.neighborhood import (
        item_based_topk,
        user_based_topk,
    )
    from recsys_spark_spark.sources.readers import ratings_from_sales

    cf = _cf()
    spark, span = ctx.spark, ctx.tracer.span
    out = {}
    with span("sources", ctx.op):
        ratings = ctx.persist(ratings_from_sales(spark, ctx.data_dir))
    with span("metrics.evaluation", ctx.op):
        train, test = split_ratings(ratings, fold=fold, n_folds=N_FOLDS)
        relevant = test.where(test.rating >= cf.RELEVANT_THRESHOLD).select(
            "user_id", "item_id"
        )
        train = _materialize(ctx, train)
        relevant = _materialize(ctx, relevant)
    knn = dict(
        k_neighbors=cf.K_NEIGHBORS,
        k_items=cf.CHILD_K,
        kernel="cosine",
        prefilter_neighbors=cf.PREFILTER,
        max_raters_per_item=cf.MAX_RATERS_PER_ITEM,
    )
    with span("recommenders.neighborhood", ctx.op):
        u = user_based_topk(train, **knn)
    with span("recommenders.neighborhood", ctx.op):
        i = item_based_topk(train, **knn)
    with span("recommenders.hybrid", ctx.op):
        top = ctx.persist(hybrid_topk(u, i, weight_a=0.6, weight_b=0.4, k_items=cf.K_ITEMS))
        out["hybrid"] = digest(top.toPandas())
    with span("metrics.evaluation", ctx.op):
        summary = ranking_metrics_summary(
            ranking_metrics(spark, top, relevant, k=cf.K_ITEMS)
        ).collect()[0]
    out["summary"] = [
        summary[c] for c in ("mean_p", "mean_r", "mean_ap", "mean_ndcg", "mean_mrr", "n_users")
    ]
    return out


def cf_references(oracles: Oracles, folds: list[int]) -> dict:
    cf = _cf()
    out = {}
    for f in sorted(set(folds)):
        hybrid, summary = oracles.fold_reference(
            f, N_FOLDS, cf.RELEVANT_THRESHOLD, cf.K_ITEMS
        )
        out[f] = {"hybrid": hybrid, "summary": summary}
    return out


def check_cf(digests: dict, ref: dict) -> list[str]:
    errs = []
    if tuple(digests["hybrid"]) != tuple(ref["hybrid"]):
        errs.append(f"hybrid top-k {digests['hybrid']} != oracle {ref['hybrid']}")
    got, want = digests["summary"], ref["summary"]
    if got[-1] != want[-1] or any(abs(a - b) > 2e-6 for a, b in zip(got[:-1], want[:-1])):
        errs.append(f"ranking summary {got} != reference {want}")
    return errs


# ---------------------------------------------------------------- mixed_cold


def _registry_fn(name: str):
    """A registry plan function, whichever correctness tier holds it."""
    from recsys_spark_spark.plans import registry

    demoted = registry.demoted_queries()
    return demoted[name].fn if name in demoted else registry.all_queries()[name]


def op_registry(ctx: Ctx, name: str, layer: str) -> dict:
    """A registry plan, run and collected inside one span."""
    with ctx.tracer.span(layer, ctx.op):
        pdf = _registry_fn(name)(ctx.spark, ctx.data_dir).toPandas()
    return {name: digest(pdf)}


def op_stream(ctx: Ctx) -> dict:
    """``events_stream_quantile_sketch``: the plan function drains the
    event stream through the exactly-once sink before it returns (the
    ``streaming`` span); collecting its lazy result runs the batch merge
    and quantiles over the read-back store (the ``plans`` span)."""
    name = "events_stream_quantile_sketch"
    with ctx.tracer.span("streaming", ctx.op):
        df = _registry_fn(name)(ctx.spark, ctx.data_dir)
    with ctx.tracer.span("plans", ctx.op):
        pdf = df.toPandas()
    return {name: digest(pdf)}


def op_als(ctx: Ctx) -> dict:
    """``als_topk`` over the ratings: eager fit and item index, then the
    lazy GEMM serve, collected."""
    from recsys_spark_spark.recommenders.als import als_topk
    from recsys_spark_spark.sources.readers import ratings_from_sales

    span = ctx.tracer.span
    with span("sources", ctx.op):
        ratings = ctx.persist(ratings_from_sales(ctx.spark, ctx.data_dir))
    with span("recommenders.als:fit", ctx.op):
        top = als_topk(ratings, k_items=_cf().K_ITEMS)
    with span("recommenders.als:serve", ctx.op):
        pdf = top.toPandas()
    return {"als": digest(pdf), "als_shape": topk_shape(pdf)}


def op_sequential(ctx: Ctx) -> dict:
    """``SequentialTopK`` (SOM clustering + FPGrowth rules) fitted on the
    (customer, part, ship date) interactions, then its recommendations,
    as the registry's ``sequential_topk`` composes them."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.recommenders.sequential import SequentialTopK
    from recsys_spark_spark.sources.readers import table

    span = ctx.tracer.span
    with span("sources", ctx.op):
        orders = table(ctx.spark, ctx.data_dir, "orders")
        lineitem = table(ctx.spark, ctx.data_dir, "lineitem")
        interactions = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
            F.col("l_shipdate").alias("ts"),
        )
        interactions = _materialize(ctx, interactions)
    with span("recommenders.sequential:fit", ctx.op):
        model = SequentialTopK(k_items=_cf().K_ITEMS).fit(interactions)
    with span("recommenders.sequential:recommend", ctx.op):
        pdf = model.recommend().toPandas()
    return {"sequential": digest(pdf), "sequential_shape": topk_shape(pdf)}


def op_dedup_chain(ctx: Ctx) -> dict:
    """MinHash near-dup pairs -> connected components -> keep one doc per
    component -> exact-substring cut of the survivors."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.operators.components import connected_components
    from recsys_spark_spark.operators.dedup import dedup_cut_docs, minhash_neardup_pairs
    from recsys_spark_spark.plans.dedup import NEARDUP_THRESHOLD
    from recsys_spark_spark.sources.readers import table

    span = ctx.tracer.span
    with span("sources", ctx.op):
        docs = ctx.persist(table(ctx.spark, ctx.data_dir, "documents"))
    with span("operators.dedup", ctx.op):
        pairs = _materialize(ctx, minhash_neardup_pairs(docs, threshold=NEARDUP_THRESHOLD))
    with span("operators.components", ctx.op):
        comp = connected_components(pairs).persist()
        ctx.owned.append(comp)
        comp_pdf = comp.select(
            F.col("id").alias("doc_id"),
            F.col("comp").cast("bigint").alias("component"),
            F.when(F.col("id") == F.col("comp"), 1).otherwise(0).cast("bigint").alias("keeper"),
        ).toPandas()
    with span("operators.dedup", ctx.op):
        dropped = comp.where(F.col("id") != F.col("comp")).select(F.col("id").alias("doc_id"))
        survivors = docs.join(dropped, "doc_id", "left_anti")
        cut = dedup_cut_docs(survivors).toPandas()
    return {"neardup_components": digest(comp_pdf), "dedup_cut": digest(cut)}


#: mixed_cold's plan: each op once, in this order, in a fresh session.
#: Values: (function, input table whose rows the op processes)
MIXED_OPS = {
    "rating_stats_per_user": (lambda c: op_registry(c, "rating_stats_per_user", "plans"), "ratings"),
    "corpus_clean": (lambda c: op_registry(c, "corpus_clean", "plans.pipeline"), "documents"),
    "stream_quantile_sketch": (op_stream, "events"),
    "als_topk": (op_als, "ratings"),
    "sequential_topk": (op_sequential, "lineitem"),
    "dedup_chain": (op_dedup_chain, "documents"),
}

#: digests with a DuckDB oracle in the engine's registry
MIXED_ORACLED = (
    "rating_stats_per_user",
    "corpus_clean",
    "events_stream_quantile_sketch",
    "neardup_components",
)


def check_shapes(digests: dict, users: int, k: int) -> list[str]:
    """Shape rules of the two model top-k lists, checked at every seed:
    ALS ranks every unrated item, so each of the ``users`` rated users
    gets exactly ``k``; the rule recommender gives each user it covers
    ranks 1.. at most ``k``."""
    errs = []
    if "als_shape" in digests and digests["als_shape"] != [users * k, users, 1, k]:
        errs.append(f"als_topk shape {digests['als_shape']} != {[users * k, users, 1, k]}")
    if "sequential_shape" in digests:
        rows, covered, lo, hi = digests["sequential_shape"]
        if not (0 < covered <= users and lo == 1 and hi <= k and covered <= rows <= covered * k):
            errs.append(f"sequential_topk shape {digests['sequential_shape']} breaks its rule")
    return errs
