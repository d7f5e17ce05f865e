"""Named query registry: Spark plan + (optional) DuckDB oracle SQL.

Every operator the engine claims (SURVEY.md §2) registers here as a
named query; ``__spark_entry__.py`` re-exports the registry to the
driver, which runs the Spark side and the oracle SQL side-by-side at
sf=0.01 and hash-compares the results.

Conventions that make cross-engine hashing stable:
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded (6 dp) in BOTH engines before output,
  and similarity/rank decisions round BEFORE ranking (7 dp — the
  SIM_ROUND constant, mirrored by the 10000000.0 factors in oracle
  SQL) so that a
  last-ulp difference cannot flip a top-k boundary;
- integer-ish outputs are cast to the same width (Spark count() is
  BIGINT; DuckDB SUM(int) would be HUGEINT → cast);
- ties at any rank boundary break by an explicit id column.

Long sweeps over many registry entries in ONE session must release
per-query state between queries (``release_query_state`` /
``drive_all`` below; ``stress/full_registry_cert.py`` is the
canonical consumer): accumulated model caches OOMed a default-1g
vanilla JVM after ~80 queries in the r10 certification (PERF.md r10
wrap), and leaked ALS state measurably drifted later queries 2-4x in
the r4 bench.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..lifecycle import release


@dataclass(frozen=True)
class QuerySpec:
    """One named query: a Spark callable and an optional DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    #: include in bench.py headline timing
    bench: bool = False


QUERIES: dict[str, QuerySpec] = {}

#: Demoted tier: queries with full oracle parity evidence that are NOT
#: shipped to the driver's correctness harness, which checks at most 50
#: registry entries per round.  Demoted entries keep their Spark plan
#: and DuckDB oracle and are parity-checked by
#: tests/test_oracle_parity.py exactly like registered ones.  A demoted
#: entry may still carry ``bench=True``: the bench set is independent
#: of the correctness window, so timings stay comparable across
#: rotations.
DEMOTED: dict[str, QuerySpec] = {}

#: ROTATION RULE.  The window is exactly 50 oracled names, picked each
#: round: names that have never had a driver row lead, then the names
#: longest since a green driver row.  At most 120 oracled queries may
#: exist at once (a 2.4-round cycle on the 50-row window), which
#: tests/test_oracle_parity.py::test_rotation_cycle_at_or_under_ceiling
#: enforces; a new oracled query past the ceiling lands together with a
#: merge of two same-grain queries, which keeps the first name and
#: variant-tags the rest.  No-oracle rows are never windowed, which
#: ``_load_all`` enforces.  Per-round state (which names went green
#: when) lives in ``CORRECTNESS_r*.json`` and git history.
#:
#: THE driver-facing correctness window: exactly the names whose
#: QuerySpec lands in QUERIES; every other registration lands in
#: DEMOTED.  Rotations edit this set only.
REGISTERED_WINDOW: frozenset[str] = frozenset({
    "baseline_topk",
    "brand_region_market_share",
    "cf_negative_samples",
    "cf_predictions",
    "content_topk_cosine",
    "corpus_bpe_pair_counts",
    "corpus_clean",
    "corpus_line_dedup",
    "corpus_pps_sample",
    "corpus_train_ready",
    "corpus_vocab",
    "customer_name_fuzzy_pairs",
    "customer_rfm_segments",
    "customer_running_revenue",
    "decontaminate_docs",
    "dedup_docs",
    "dedup_incremental",
    "doc_dedup_cut",
    "doc_duplicate_spans",
    "doc_pii_scrub",
    "doc_quality_scores",
    "embedding_hard_negatives",
    "events_daily_dense",
    "events_join_explosion_audit",
    "events_prev_gap",
    "events_sessions",
    "events_user_temporal_split",
    "events_value_features",
    "events_value_quantile_sketch",
    "hybrid_topk",
    "image_dhash_near_pairs",
    "item_pagerank",
    "item_topk_cosine",
    "lineitem_bloom_semijoin",
    "neardup_components",
    "neardup_dedup_docs",
    "neardup_group_keepers",
    "neardup_minhash_lsh",
    "neardup_ngram_jaccard",
    "neardup_simhash",
    "q17_small_quantity_revenue",
    "q22_dormant_high_value",
    "top_tokens_cms",
    "user_cf_coverage_novelty",
    "user_cf_cv5_rmse",
    "user_cf_ranking_eval",
    "user_cf_rmse_mae",
    "user_sims",
    "user_topk_cosine",
    "user_value_scd2",
})


def register(name: str, oracle: str | None = None, bench: bool = False):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``name``.

    The correctness tier is routed by ``REGISTERED_WINDOW`` membership:
    a name in the window lands in QUERIES, any other in DEMOTED, so a
    new query needs no registry edit and a rotation touches no def
    site."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES or name in DEMOTED:
            raise ValueError(f"duplicate query name {name!r}")
        tier = QUERIES if name in REGISTERED_WINDOW else DEMOTED
        tier[name] = QuerySpec(fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


def oracle_of(name: str) -> str:
    """Oracle SQL for ``name`` looked up across BOTH tiers.

    Production call sites that compose another query's oracle (e.g. the
    streamed sketch twin reuses the batch oracle verbatim) MUST resolve
    it tier-independently: the registered/demoted split rotates every
    round, so a single-tier ``DEMOTED[name]`` lookup at import time
    breaks every query import the moment a rotation re-promotes the row
    (r6 ADVICE — the exact bug class fixed in test_pipeline.py that
    round)."""
    spec = QUERIES.get(name) or DEMOTED.get(name)
    if spec is None or spec.oracle is None:
        raise KeyError(f"no oracled query named {name!r} in either tier")
    return spec.oracle


def release_query_state(spark: SparkSession) -> None:
    """Drop every piece of session state a query run can leave behind:
    the lifecycle pool (``lifecycle.release``), the whole SQL cache and
    every persistent RDD in the context (localCheckpoint blocks
    included).  Collect or write every result you still need first: a
    lazy plan over a swept localCheckpoint fails instead of
    recomputing.  Call it between queries in any loop over many of them
    in one session; registry results are unaffected."""
    release()
    spark.catalog.clearCache()
    try:
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort on exotic backends
        pass


def drive_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Execute registry queries (BOTH tiers) one at a time, yielding
    ``(name, row_count, seconds)``; each query is followed by
    :func:`release_query_state`, so the session stays flat-memory no
    matter how many queries run.  Materialization forces every column
    (the bench.py hash action), not just a count."""
    import time as _time

    _load_all()
    allq = {**QUERIES, **DEMOTED}
    for name in names if names is not None else sorted(allq):
        t0 = _time.perf_counter()
        df = allq[name].fn(spark, sf_dir)
        n = df.count()
        df.selectExpr("bit_xor(xxhash64(*)) AS h").collect()
        release_query_state(spark)
        yield name, n, round(_time.perf_counter() - t0, 3)


def demoted_queries() -> dict[str, QuerySpec]:
    _load_all()
    return dict(DEMOTED)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Headline bench set — spans BOTH correctness tiers: the bench set
    must stay stable across rounds even as the registered/demoted split
    rotates, or round-over-round timings stop being comparable."""
    _load_all()
    return {
        name: spec.fn
        for tier in (QUERIES, DEMOTED)
        for name, spec in tier.items()
        if spec.bench
    }


_LOADED = False


def _load_all() -> None:
    """Import every plans module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        ann,
        caps,
        dedup,
        features,
        graph,
        linkage,
        llm,
        market,
        mm,
        pipeline,
        recsys,
        relational,
        retrieval,
        seq,
        sketch,
        text,
        windows_extra,
    )

    missing = REGISTERED_WINDOW - QUERIES.keys()
    if missing:  # a window name with no def site is a rotation typo
        raise RuntimeError(
            f"REGISTERED_WINDOW names without a registration: {sorted(missing)}"
        )
    # The driver checks at most 50 rows/round; a short window (e.g. a
    # name dropped in a rotation edit — a frozenset literal can't hold
    # duplicates, but a deletion typo can shrink it) silently wastes
    # correctness slots, so pin the exact size (r7 ADVICE).
    if len(REGISTERED_WINDOW) != 50:
        raise RuntimeError(
            f"REGISTERED_WINDOW must hold exactly 50 names, "
            f"got {len(REGISTERED_WINDOW)}"
        )
    # A windowed row without an oracle only gets the driver's weak
    # rows-only check — a wasted correctness slot.  The no-oracle
    # rows (the two ML recommenders by design, the r9 bench carriers)
    # must stay demoted; fail the import so a rotation typo cannot
    # ship one (standing rule since r5).
    weak = sorted(n for n in REGISTERED_WINDOW if QUERIES[n].oracle is None)
    if weak:
        raise RuntimeError(
            f"REGISTERED_WINDOW contains no-oracle rows: {weak}"
        )
    _LOADED = True
