"""Mergeable distinct-count sketches (HyperLogLog) — the 100 TB
pattern for COUNT(DISTINCT) rollups.

An exact distinct count over 100 TB shuffles every key once per
grouping grain; a sketch column is aggregated ONCE at the finest grain
(one fixed-size register array per group, map-side combinable) and
every coarser rollup — weekly, monthly, whole-corpus — is a
register-max MERGE of the stored sketches, no rescan of the facts.  Spark ships the
Apache DataSketches HLL implementation as built-in aggregates
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``),
so the whole pattern stays JVM-side and deterministic:

- HLL register updates are max() operations → order- and
  partitioning-insensitive: the same input multiset yields the SAME
  sketch bytes and estimate on any cluster layout (asserted in
  tests/test_sketches.py);
- merge is associative: estimating a union of daily sketches equals
  estimating one sketch built over the union of the days' rows,
  EXACTLY — the mergeability contract the rollup pattern rests on;
- the registers are engine-specific, so there is no cross-engine
  DuckDB value-hash oracle by nature; accuracy is property-tested
  instead (relative error vs exact distinct ≤ ~3/√2^lgk).

No reference counterpart (the reference has no approximate
aggregates); slots into the driver-mandated extension family
(SURVEY §2.12) next to approx_count_distinct's one-shot form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 2^12 = 4096 registers ≈ 1.6% standard error — the DataSketches
#: default; each +1 doubles sketch bytes and tightens error by √2.
LG_K = 12


def daily_user_sketches(
    events: DataFrame,
    lg_k: int = LG_K,
) -> DataFrame:
    """One row per day: an HLL sketch of the day's distinct users plus
    the day's estimate.  The ``sketch`` column is the mergeable
    artifact a warehouse would persist next to the daily partition —
    coarser grains never rescan events."""
    return (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch"),
        )
        .select(
            "day",
            "sketch",
            F.hll_sketch_estimate("sketch").alias("est_users"),
        )
    )


def rollup_sketches(daily: DataFrame) -> DataFrame:
    """Merge persisted daily sketches to the total grain: one
    register-max union, O(days × sketch bytes) — never the fact table.
    Returns a single row ``(est_users_total)``."""
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "est_users_total"
        )
    )


# --- mergeable fixed-bin histogram (quantile sketch) -----------------------
#
# The quantile counterpart of the HLL pattern above: aggregate the facts
# ONCE at the finest grain into fixed-bin counts (the sketch), merge by
# elementwise ADDITION to any coarser grain, and answer quantile queries
# from the merged bins with linear interpolation — never rescanning the
# facts.  Unlike KLL/t-digest (whose compactions are engine-specific),
# fixed bins are pure integer arithmetic, so the WHOLE pipeline —
# binning, merge, interpolation — replays bit-for-bit in DuckDB and
# carries a value-hash oracle like any exact query.  Cost: accuracy is
# bounded by the bin width (|est − exact| ≤ w, property-tested), and the
# [lo, lo + w·nbins) range is a fixed spec, not data-adaptive.

#: default spec for events.value (observed 0..~560 at sf0.1; the
#: clamped edge bins absorb out-of-range values)
HIST_LO = 0.0
HIST_W = 10.0
HIST_NBINS = 128


def bin_col(
    value_col: str = "value",
    lo: float = HIST_LO,
    w: float = HIST_W,
    nbins: int = HIST_NBINS,
):
    """The sketch's clamped-bin expression —
    clamp(floor((v − lo)/w), 0, nbins−1) — shared by the batch build
    and the streaming maintenance path (streaming/windows.py) so the
    two can never drift apart on the spec."""
    return F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)), F.lit(0)
        ),
        F.lit(nbins - 1),
    ).cast("int")


def histogram_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    lo: float = HIST_LO,
    w: float = HIST_W,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """(*key_cols, bin, n) — fixed-bin counts at the given grain.

    bin = clamp(floor((v − lo)/w), 0, nbins−1): out-of-range values
    land in the edge bins (counted, never dropped), NULLs are excluded
    by the pre-filter.  Map-side combinable: the shuffle carries at
    most |groups|·nbins rows regardless of fact size."""
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*key_cols, bin_col(value_col, lo, w, nbins).alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def merge_histograms(hist: DataFrame, key_cols: list[str]) -> DataFrame:
    """Roll a sketch up to a coarser grain: elementwise bin addition —
    O(groups × nbins), no fact rescan.  Exact merge by construction:
    sketch-of-union == union-of-sketches (asserted in tests)."""
    return hist.groupBy(*key_cols, "bin").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    key_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    lo: float = HIST_LO,
    w: float = HIST_W,
) -> DataFrame:
    """Quantile estimates from a (merged) sketch, long format:
    (*key_cols, q, n_total, est).

    est = the classic histogram interpolation: with rq = q·n_total and
    B the first bin whose cumulative count reaches rq,
    est = lo + w·B + w·(rq − cum_before_B)/n_B.  Every step is integer
    sums plus one double multiply/divide — identical IEEE sequence in
    Spark and DuckDB, so the estimate is oracle-replayable.  All joins
    here run on the sketch relation (|groups|·nbins rows), never the
    facts."""
    from pyspark.sql import Window

    wc = Window.partitionBy(*key_cols).orderBy("bin")
    h = hist.select(
        *key_cols,
        "bin",
        "n",
        F.sum("n").over(wc).alias("cum"),
        (F.sum("n").over(wc) - F.col("n")).alias("cum_prev"),
    )
    tot = hist.groupBy(*key_cols).agg(F.sum("n").alias("n_total"))
    # the grid as a one-row literal explode: no Python RDD to ship
    qdf = hist.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    spec = tot.crossJoin(F.broadcast(qdf)).withColumn(
        "rq", F.col("q") * F.col("n_total")
    )
    cand = (
        h.join(spec, key_cols)
        .where(F.col("cum") >= F.col("rq"))
        .groupBy(*key_cols, "q", "rq", "n_total")
        .agg(F.min("bin").alias("bin"))
    )
    est = (
        F.lit(lo)
        + F.lit(w) * F.col("bin")
        + F.lit(w) * (F.col("rq") - F.col("cum_prev")) / F.col("n")
    )
    from ..functions.rounding import qround

    return (
        cand.join(h.select(*key_cols, "bin", "cum_prev", "n"), [*key_cols, "bin"])
        .select(*key_cols, "q", "n_total", qround(est, 6).alias("est"))
    )


# --- Count-Min sketch (heavy hitters) ---------------------------------------
#
# The frequency counterpart of the HLL/histogram patterns above
# (Cormode & Muthukrishnan 2005): a depth×width grid of counters,
# counter[j][h_j(x)] += weight.  Point estimate = min_j counter — an
# OVERESTIMATE always (collisions only add), within εN with probability
# 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.  Merge = elementwise counter
# ADDITION, so per-partition / per-day sketches roll up without
# rescanning facts — the same mergeability contract as the histogram.
# The hash rows use the repo's deterministic md5-derived `hash60`
# (operators/dedup.py), so the whole sketch — grid, estimates, top-k —
# replays bit-for-bit in DuckDB and carries a value-hash oracle.

#: depth 4 ⇒ δ ≈ e⁻⁴ ≈ 1.8%; width 1024 ⇒ ε ≈ e/1024 ≈ 0.27% of N
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_hash_cols(token_col, depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    """The d bucket expressions h_j(token) = hash60(token, "cms{j}") %
    width — md5-derived, non-negative, engine-replayable."""
    from .dedup import hash60

    return [hash60(token_col, f"cms{j}") % width for j in range(depth)]


def cms_cells(
    vocab: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """(token, weight, r, b): each vocab row exploded to its d grid
    coordinates.  Input is the WEIGHTED vocabulary (token, weight) —
    building from the pre-aggregated vocab instead of the raw token
    stream is mathematically identical (counters are sums) and keeps
    the exploded relation at d×|vocab| rows, never d×|corpus|."""
    cells = F.posexplode(F.array(*cms_hash_cols(F.col("token"), depth, width)))
    return vocab.select("token", "weight", cells.alias("r", "b"))


def cms_sketch(
    vocab: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """The counter grid (r, b, c) — at most depth×width rows, map-side
    combinable, mergeable across partitions/days/streams by (r, b)
    counter addition."""
    return (
        cms_cells(vocab, depth, width)
        .groupBy("r", "b")
        .agg(F.sum("weight").alias("c"))
    )


def cms_topk_tokens(
    docs: DataFrame,
    k: int = 25,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-k corpus tokens by Count-Min ESTIMATE, with the exact count
    alongside: (rank, token, est_count, exact_count).  est_count ≥
    exact_count always (the CMS overestimate guarantee — property-
    tested under forced collisions in tests/test_sketches.py); ties
    rank by token ascending so the listing is deterministic.

    Scale shape: one map-side-combined vocab aggregate over the token
    stream, a d×|vocab| cell relation joined to the ≤ d×width grid,
    and a TakeOrderedAndProject for the top-k — the ranking never
    sees an unpartitioned window over the vocabulary."""
    from pyspark.sql import Window

    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("weight"))
    cells = cms_cells(vocab, depth, width)
    sketch = cms_sketch(vocab, depth, width)
    est = (
        cells.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("token")
        .agg(
            F.min("c").cast("bigint").alias("est_count"),
            F.max("weight").cast("bigint").alias("exact_count"),
        )
    )
    top = est.orderBy(F.desc("est_count"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("est_count"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "token", "est_count", "exact_count"
    )


def cms_topk_sql(k: int = 25, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> str:
    """DuckDB twin of cms_topk_tokens — replays the md5 grid exactly."""
    from .dedup import hash60_sql

    cell_selects = "\nUNION ALL ".join(
        f"SELECT token, weight, {j} AS r, "
        f"({hash60_sql('token', f'cms{j}')} % {width}) AS b FROM vocab"
        for j in range(depth)
    )
    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS weight FROM tok GROUP BY 1
),
cells AS (
  {cell_selects}
),
sketch AS (
  SELECT r, b, CAST(sum(weight) AS BIGINT) AS c FROM cells GROUP BY 1, 2
),
est AS (
  SELECT token,
         CAST(min(c) AS BIGINT) AS est_count,
         CAST(max(weight) AS BIGINT) AS exact_count
  FROM cells JOIN sketch USING (r, b) GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY est_count DESC, token ASC) AS INTEGER)
         AS rank,
       token, est_count, exact_count
FROM est
ORDER BY est_count DESC, token ASC
LIMIT {k}
""".strip()


def daily_cms_user_sketch(
    e: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """(day, r, b, n): per-day Count-Min grid of user_id occurrences —
    the batch twin of streaming/windows.py::cms_user_sketch_stream.
    Coarser grains (weekly / total heavy-user queries) merge by
    (r, b) counter addition, never rescanning events."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.col("user_id").cast("string").alias("token"),
    ).agg(F.count("*").alias("weight"))
    cells = F.posexplode(F.array(*cms_hash_cols(F.col("token"), depth, width)))
    return (
        daily.select("day", "weight", cells.alias("r", "b"))
        .groupBy("day", "r", "b")
        .agg(F.sum("weight").alias("n"))
    )


# --------------------------------------------------------------------------
# KMV / bottom-k (Theta-family) distinct sketch — the ORACLED variant
# --------------------------------------------------------------------------
# HLL above is the production default but its registers are
# engine-specific (no cross-engine oracle BY NATURE).  The KMV
# bottom-k sketch (Bar-Yossef et al. 2002; the Theta-sketch lineage,
# Dasgupta et al.) closes that gap: its state is the k SMALLEST
# distinct values of a deterministic hash — replayable bit-for-bit in
# ANSI SQL from the same md5-based `hash60` both engines share, so
# the estimates themselves are value-hash-oracled.  Same mergeability
# contract as HLL: the k smallest of a UNION of per-group bottom-k
# sets is the k smallest of the union of the groups' full hash sets
# (any globally-bottom-k hash is bottom-k within its own group), so
# coarser rollups merge stored sketches without rescanning facts.

#: sketch size: σ ≈ 1/√(k−2) ≈ 18% at 32 — small on purpose so the
#: ESTIMATOR branch (not just the exact n<k branch) is exercised at
#: the sf0.01 correctness scale; production would use 1024+.
KMV_K = 32

#: hash domain of `hash60` as an exactly-representable double
KMV_DOMAIN = float(1 << 60)


def kmv_partial_bottom_k(
    hashed: DataFrame, group_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Per-PARTITION bottom-k distinct hashes per group — the
    map-side-combine half of the sketch, in bounded state: the
    mapInPandas closure holds ≤ groups-per-partition × k hashes and
    emits ≤ that many rows, so no task ever materializes a group's
    full distinct set.  Measured honestly (PERF.md r11): this buys a
    MEMORY bound, not wall time — a naive distinct+rank window stays
    wall-even through a 150M-row hot group (sorting cheap longs
    scales as well as the partial's Arrow pass), but its one hot task
    OOMs once the group's distinct set outgrows task memory, which
    the partial never materializes.  Input: ``group_cols + ['_h']`` (raw, duplicates fine).
    A global per-group rank over the ≤ partitions × k survivors
    finishes the sketch (`kmv_bottom_k`).

    The closure is SELF-CONTAINED (numpy/pandas + captured plain
    values only) — the vanilla-session cloudpickle rule."""
    import numpy as np  # noqa: F401 — closure import pattern
    import pandas as pd  # noqa: F401

    gcols = list(group_cols)
    kk = int(k)
    schema = hashed.schema

    def partial(batches):
        import numpy as np
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            for key, grp in pdf.groupby(gcols, sort=False):
                hs = np.unique(grp["_h"].to_numpy())
                cur = state.get(key)
                if cur is not None:
                    hs = np.unique(np.concatenate([cur, hs]))
                state[key] = hs[:kk]  # np.unique returns sorted
        if state:
            keys = pd.DataFrame(
                [k if isinstance(k, tuple) else (k,) for k in state],
                columns=gcols,
            )
            counts = [len(v) for v in state.values()]
            out = keys.loc[keys.index.repeat(counts)].reset_index(drop=True)
            out["_h"] = np.concatenate(list(state.values()))
            yield out

    return hashed.mapInPandas(partial, schema)


def kmv_bottom_k(
    hashed: DataFrame, group_cols: list[str], k: int = KMV_K
) -> DataFrame:
    """Global bottom-k distinct hashes per group (the finished KMV
    sketch relation): partial per-partition sketches, then a rank
    over the bounded survivor set.  Deterministic for any input
    partitioning — the k smallest distinct values are a pure function
    of the input multiset."""
    from pyspark.sql import Window

    part = kmv_partial_bottom_k(hashed, group_cols, k)
    # survivors of the same group from different partitions may repeat
    # a hash — dedupe is a map-side-combinable agg over ≤ parts × k
    # rows per group
    dedup = part.groupBy(*group_cols, "_h").agg(F.lit(1).alias("_one")).drop(
        "_one"
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        dedup.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_estimate(sk: DataFrame, group_cols: list[str], k: int = KMV_K) -> DataFrame:
    """Distinct-count estimate per group from a bottom-k sketch
    relation: exact n when the sketch is unsaturated (n < k rows kept
    ⟹ the group HAS n distinct hashes), else the KMV estimator
    (k−1) / u_k with u_k = kth-smallest-hash / 2^60.  The numerator
    (k−1)·2^60 is precomputed in Python and embedded as one exact
    double literal so both engines evaluate the identical two-op
    float expression (divide, then 6 dp quantize).  Range note: the
    6 dp quantize rides a BIGINT floor, so estimates cap at
    ~9.2·10^12 distinct — beyond any real cardinality, reachable only
    with adversarially tiny planted hashes."""
    from ..functions.rounding import qround

    num = float(k - 1) * KMV_DOMAIN  # 31·2^60 — exactly representable
    per = sk.groupBy(*group_cols).agg(
        F.count("*").alias("n_sketch"),
        F.max("_h").alias("_kth"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(qround(F.lit(num) / F.col("_kth").cast("double"), 6))
    return per.select(*group_cols, "n_sketch", est.alias("est_users"))


def kmv_estimate_sql(num: float, k: int) -> str:
    """The DuckDB twin of `kmv_estimate`'s expression over columns
    ``n_sketch`` / ``_kth`` (splice into a per-level SELECT)."""
    return (
        f"CASE WHEN n_sketch < {k} THEN CAST(n_sketch AS DOUBLE) "
        f"ELSE floor(({num!r} / CAST(_kth AS DOUBLE)) * 1000000.0 + 0.5) "
        f"/ 1000000.0 END"
    )
