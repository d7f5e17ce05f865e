"""Multi-pass blocked fuzzy join — entity resolution at corpus scale.

Generalizes the delete-1 symmetric-deletion linkage
(``plans/linkage.py``, exact for edit distance 1) to CONFIGURABLE
blocking keys: the caller supplies one key expression per pass
(a segment, a prefix, a phonetic code, a sorted-token head — anything
both engines can compute), candidates are the union of within-block
pairs across passes, and an exact verify predicate runs on the
bounded candidate set only.  This is the Fellegi–Sunter blocking
architecture every production ER system runs (the naive alternative
is all-pairs x verify — O(n²) and dead at scale).

Recall contract — approximate BY CONSTRUCTION, so it is measured,
not asserted: a true pair sharing NO pass key is never considered.
The segment pigeonhole gives the principled pass design for
edit-distance d over aligned IDs (phones, zips, account numbers —
the classic dirty-key case): split the noisy span into d+1 positional
segments; ≤ d substitutions leave ≥ 1 segment intact, so equal-length
substitution-noise pairs are found with recall 1.0 BEFORE capping.
Insert/delete shifts and capped hot blocks cost recall; both are
measured per query (tests/test_blocking.py audits recall vs exact
ED≤2 on real names, with the hot-block drop visible in the audit).

Scale shape: per pass, one count-per-key aggregate (map-side
combinable) sizes the blocks; blocks past ``max_block`` are DROPPED
(never silently truncated — the cap audit relation reports every
drop, the ``plans/caps.py`` discipline).  Candidate volume is then
bounded by ``sum_blocks c² ≤ max_block × n_rows × n_passes`` —
LINEAR in rows at fixed cap, the property that keeps the join alive
at 100 TB (measured in PERF.md, "Blocked fuzzy join").  The verify
(``levenshtein`` — built into BOTH Spark and DuckDB, so the whole
pipeline carries a value-hash oracle) touches candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default hot-block guard — same idiom as the LSH/MinHash
#: ``max_bucket`` guards (operators/knn.py, operators/dedup.py)
MAX_BLOCK = 1000


def _pass_rows(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    array_passes: list[tuple[str, Column]] = (),
) -> DataFrame:
    """(pass, bk, name) across all blocking passes — one narrow union.
    ``passes`` entries contribute exactly one row per input (scalar
    key, no explode); ``array_passes`` entries (r13) hold an
    ``array<string>`` key expression and contribute one row per
    element — the neighborhood-key shape (symmetric-deletion variants,
    token sets), bounded by the caller's array construction."""
    parts = [
        rows.select(
            F.lit(pname).alias("pass"),
            expr.cast("string").alias("bk"),
            F.col(key_col).alias("name"),
        )
        for pname, expr in passes
    ] + [
        rows.select(
            F.lit(pname).alias("pass"),
            # cast BEFORE the explode: a generator cannot nest inside
            # another expression (Spark UNSUPPORTED_GENERATOR)
            F.explode(expr.cast("array<string>")).alias("bk"),
            F.col(key_col).alias("name"),
        )
        for pname, expr in array_passes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.where(F.col("bk").isNotNull())


def block_sizes(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    array_passes: list[tuple[str, Column]] = (),
) -> DataFrame:
    """(pass, bk, c) — the one count-per-key aggregate both the
    keep-filter and the drop audit consume.  Callers running the audit
    ALONGSIDE the candidate build (the documented ER pattern) should
    compute this once and pass it to both (r12 ADVICE: the previous
    shape rebuilt the pass union and the count shuffle twice)."""
    return _pass_rows(rows, key_col, passes, array_passes).groupBy(
        "pass", "bk"
    ).agg(F.count(F.lit(1)).alias("c"))


def blocked_cap_audit(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    max_block: int = MAX_BLOCK,
    array_passes: list[tuple[str, Column]] = (),
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Per-pass drop report: (pass, n_blocks, n_blocks_dropped,
    rows_in_dropped).  A dropped block means every pair RELYING ON
    THAT PASS ALONE is lost — the no-silent-caps discipline makes the
    loss a first-class relation instead of a surprise.  ``sizes``: a
    precomputed :func:`block_sizes` relation to share with the
    candidate build (one aggregate serves both)."""
    if sizes is None:
        sizes = block_sizes(rows, key_col, passes, array_passes)
    hot = F.col("c") > max_block
    return sizes.groupBy("pass").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(hot.cast("long")).alias("n_blocks_dropped"),
        F.coalesce(
            F.sum(F.when(hot, F.col("c"))), F.lit(0)
        ).alias("rows_in_dropped"),
    )


def _raw_candidates(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    max_block: int,
    array_passes: list[tuple[str, Column]] = (),
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Within-block pairs (name_a < name_b) across surviving blocks,
    WITH cross-pass duplicates — callers place the dedup shuffle where
    it is cheapest (after a selective verify, the duplicates are a
    row-local recompute; before it, they are a full-width shuffle of
    the much larger candidate relation)."""
    b = _pass_rows(rows, key_col, passes, array_passes)
    if sizes is None:
        sizes = block_sizes(rows, key_col, passes, array_passes)
    keep = sizes.where(F.col("c") <= max_block).select("pass", "bk")
    b = b.join(keep, ["pass", "bk"])
    a, c = b.alias("a"), b.alias("c")
    return a.join(
        c,
        (F.col("a.pass") == F.col("c.pass"))
        & (F.col("a.bk") == F.col("c.bk"))
        & (F.col("a.name") < F.col("c.name")),
    ).select(
        F.col("a.name").alias("name_a"),
        F.col("c.name").alias("name_b"),
    )


def blocked_candidates(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    max_block: int = MAX_BLOCK,
    array_passes: list[tuple[str, Column]] = (),
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Distinct unordered candidate pairs (name_a < name_b) sharing at
    least one surviving block across the passes."""
    return _raw_candidates(
        rows, key_col, passes, max_block, array_passes, sizes
    ).distinct()


def blocked_fuzzy_pairs(
    rows: DataFrame,
    key_col: str,
    passes: list[tuple[str, Column]],
    max_dist: int = 2,
    max_block: int = MAX_BLOCK,
    array_passes: list[tuple[str, Column]] = (),
    sizes: DataFrame | None = None,
) -> DataFrame:
    """(name_a, name_b, dist) with exact ``levenshtein`` ≤ max_dist,
    verified on the blocked candidate set only.

    Plan notes (measured at sf0.1, 7.6M candidates — an adversarial
    density: sequential synthetic IDs pile blocks at the cap): (1)
    the verify runs BEFORE the cross-pass dedup — ``levenshtein`` on
    a duplicate candidate is a row-local recompute, while dedup-first
    puts the full 7.6M-row candidate relation through the distinct's
    shuffle (60 s) instead of the 2.2M survivors (45 s); (2) the
    verify uses the THRESHOLDED ``levenshtein(l, r, k)`` (banded
    O(k·n) DP, returns -1 past the threshold): 30 s vs 50 s for the
    full DP on the same candidates.  The remaining cost IS the
    verify — the raw block join + scan is 6 s, the JVM levenshtein
    ~30 s; blocking's job is to make the verified set small, and the
    cap audit is where to look when it is not."""
    p = _raw_candidates(
        rows, key_col, passes, max_block, array_passes, sizes
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), max_dist)
    return (
        p.select("name_a", "name_b", dist.cast("int").alias("dist"))
        .where(F.col("dist") >= 0)
        .distinct()
    )


def er_match_summary(
    rows: DataFrame,
    pairs: DataFrame,
    key_col: str,
) -> DataFrame:
    """Per-entity resolution summary over a symmetric pair relation:
    (name, n_matches, best_match, best_dist), every input entity
    present (0 / NULL / NULL when unmatched), best = min (dist, name)
    — the record-per-entity shape a downstream merge step consumes,
    and a BOUNDED output (|entities| rows) however dense the pair
    relation is."""
    from pyspark.sql import Window

    sym = pairs.select(
        F.col("name_a").alias("name"),
        F.col("name_b").alias("other"),
        "dist",
    ).unionByName(
        pairs.select(
            F.col("name_b").alias("name"),
            F.col("name_a").alias("other"),
            "dist",
        )
    )
    w = Window.partitionBy("name").orderBy(F.asc("dist"), F.asc("other"))
    best = (
        sym.withColumn("rn", F.row_number().over(w))
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max(F.when(F.col("rn") == 1, F.col("other"))).alias(
                "best_match"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("_bd"),
        )
        .select(
            "name",
            "n_matches",
            "best_match",
            F.col("_bd").cast("int").alias("best_dist"),
        )
    )
    return (
        rows.select(F.col(key_col).alias("name"))
        .distinct()
        .join(best, "name", "left")
        .select(
            "name",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_match",
            "best_dist",
        )
    )
