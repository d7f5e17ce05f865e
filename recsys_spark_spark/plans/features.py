"""Feature-engineering plans: the column-preparation operators an ML
training pipeline runs between raw facts and model input.

First member: per-group winsorization + min-max normalization with
EXACT interpolated quantiles — outlier clamping is the standard
pre-normalization step (Tukey/Hastie lineage), and the per-type grain
mirrors how heterogeneous event families are normalized independently.

Cross-engine determinism: Spark ``percentile(col, p)`` and DuckDB
``quantile_cont`` implement the same linear-interpolation definition
(index = p·(n−1); verified numerically in round 6), but the
interpolation arithmetic can differ by an ulp — both engines therefore
quantize the quantile BOUNDS at 6 dp before any clamp decision (the
repo's quantize-before-every-decision convention), after which the
clamp and the normalization are identical IEEE ops on identical
inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql
from ..sources.readers import table
from .registry import register

#: winsorization tail fractions (classic 1%/99%)
WINSOR_LO = 0.01
WINSOR_HI = 0.99


# NOTE (r9 rotation): formerly the registered query
# "events_value_normalized" — merged with events_user_target_encoding
# and events_value_normalized_sketch into the single per-fact feature
# row events_value_features below (the staged r7/r8 trio merge,
# executed once all three members had earned their own driver rows).
# Kept as a library function (tests + composition callers).
def events_value_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorize-then-normalize of the value column:
    clamp each value into its type's exact [p01, p99] interpolated
    quantile band, then min-max scale the clamped value into [0, 1] —
    one row per non-NULL fact carrying (value, p01, p99, winsorized,
    minmax).  A degenerate band (p01 = p99, e.g. a constant type) pins
    minmax = 0.0 in both engines instead of dividing by zero.

    Scale shape: ONE exact-quantile aggregate per event_type (shuffle
    width = |types|; at 100 TB swap `percentile` for the mergeable
    histogram sketch in operators/sketches.py — same band semantics,
    bounded state, documented accuracy ≤ bin width), broadcast back
    onto the fact scan; the clamp and scaling are row-local."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    q = e.groupBy("event_type").agg(
        qround(F.expr(f"percentile(value, {WINSOR_LO})"), 6).alias("p01"),
        qround(F.expr(f"percentile(value, {WINSOR_HI})"), 6).alias("p99"),
    )
    j = e.join(F.broadcast(q), "event_type")
    w = F.least(F.greatest(F.col("value").cast("double"), F.col("p01")), F.col("p99"))
    return j.select(
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        "p01",
        "p99",
        qround(w, 6).alias("winsorized"),
        F.when(F.col("p99") == F.col("p01"), F.lit(0.0))
        .otherwise(qround((w - F.col("p01")) / (F.col("p99") - F.col("p01")), 6))
        .alias("minmax"),
    )


# --- leave-one-out target encoding -------------------------------------------
#: smoothing pseudo-count toward the global mean (Micci-Barreca 2001)
TE_SMOOTHING = 10.0


# NOTE (r9 rotation): formerly the registered query
# "events_user_target_encoding" — merged into events_value_features
# (see the section below).  Kept as a library function.
def events_user_target_encoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out smoothed target encoding of user_id against the
    value column (Micci-Barreca 2001; the CatBoost-style categorical
    feature): each fact's encoding is the mean value of the SAME
    user's OTHER facts, shrunk toward the global mean by a
    pseudo-count of TE_SMOOTHING — excluding the row's own target
    is what prevents the leakage that makes naive mean-encoding
    overfit.  A 1-fact user degenerates gracefully to the prior (the
    numerator keeps only the smoothing term).

    Scale shape: one per-user (sum, count) aggregate + a 1-row global
    mean, both joined back onto the fact scan (the user aggregate
    shuffles at |users| width, the facts shuffle once on user_id);
    the LOO arithmetic is row-local.  Division is exact-same-IEEE in
    both engines; the encoding is quantized at 6 dp."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = e.agg(F.avg(F.col("value").cast("double")).alias("mu"))
    u = e.groupBy("user_id").agg(
        F.sum("value").cast("double").alias("s"),
        F.count("*").alias("n"),
    )
    m = F.lit(TE_SMOOTHING)
    return (
        e.join(u, "user_id")
        .crossJoin(F.broadcast(g))
        .select(
            "event_id",
            "user_id",
            F.col("value").cast("double").alias("value"),
            F.col("n").alias("n_user"),
            qround(
                (F.col("s") - F.col("value").cast("double") + m * F.col("mu"))
                / (F.col("n") - 1 + m),
                6,
            ).alias("te_loo"),
        )
    )


# --- robust (median/MAD) scaling ----------------------------------------------
#: the normal-consistency constant: MAD·1.4826 estimates σ under
#: Gaussian data (Hampel/Huber robust-statistics lineage)
MAD_K = 1.4826


@register(
    "events_value_robust_scaled",
    oracle=f"""
WITH med AS (
  SELECT event_type,
         {qround_sql("quantile_cont(CAST(value AS DOUBLE), 0.5)", 6)} AS med
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
mad AS (
  SELECT e.event_type,
         {qround_sql(
             "quantile_cont(abs(CAST(e.value AS DOUBLE) - m.med), 0.5)", 6)}
           AS mad
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
  GROUP BY 1
)
SELECT e.user_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
       m.med, d.mad,
       CASE WHEN d.mad = 0.0 THEN 0.0
            ELSE {qround_sql(
                "(CAST(e.value AS DOUBLE) - m.med) / (" + repr(MAD_K) + " * d.mad)",
                6)}
       END AS robust_z
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE e.value IS NOT NULL
""",
)
def events_value_robust_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score per event type: (value − median) / (1.4826·MAD)
    — the outlier-immune scaler (mean/std move arbitrarily far under a
    single extreme value; median and the median absolute deviation are
    50%-breakdown estimators, Hampel/Huber lineage).  The companion of
    events_value_normalized for heavy-tailed features; a zero MAD
    (≥ 50% of a type at one value) pins robust_z = 0.0 in both
    engines.

    Scale shape: TWO |types|-width exact-quantile aggregates (the MAD
    needs the median first — an irreducible second pass over the
    facts), each broadcast back onto the scan; the scaling is
    row-local.  Both medians are 6dp-quantized before any downstream
    arithmetic (quantize-before-decision convention); at 100 TB both
    passes swap to the mergeable histogram sketch."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = e.groupBy("event_type").agg(
        qround(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    j1 = e.join(F.broadcast(med), "event_type")
    mad = j1.groupBy("event_type").agg(
        qround(
            F.expr("percentile(abs(value - med), 0.5)"),
            6,
        ).alias("mad")
    )
    return (
        j1.join(F.broadcast(mad), "event_type")
        .select(
            "user_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            "med",
            "mad",
            F.when(F.col("mad") == 0.0, F.lit(0.0))
            .otherwise(
                qround(
                    (F.col("value").cast("double") - F.col("med"))
                    / (F.lit(MAD_K) * F.col("mad")),
                    6,
                )
            )
            .alias("robust_z"),
        )
    )


# --- sketch-bounded winsorize (the 100 TB twin of events_value_normalized) ---
# The exact query's docstring promises "at 100 TB swap `percentile` for
# the mergeable histogram sketch" — this is that swap, shipped and
# oracled rather than documented.  Bounds come from the fixed-bin
# histogram in operators/sketches.py (HIST_LO/HIST_W/HIST_NBINS spec);
# the band semantics (clamp → min-max, degenerate band pins 0.0) are
# IDENTICAL to the exact query.  Accuracy contract (property-tested in
# tests/test_features.py::test_sketch_winsorize_bounds_within_bin_width):
# each sketch bound lies within ONE bin width of the order statistic at
# the rank the sketch targets (⌈q·n⌉ — est interpolates inside that
# value's bin); relative to the exact query's p·(n−1)-interpolated
# percentile there is an additional term bounded by the LOCAL gap
# between adjacent order statistics (the two rank conventions differ by
# < 1 rank), which only matters in heavy-tailed sparse regions — where
# winsorization clamps anyway.

from ..operators.sketches import (  # noqa: E402
    HIST_LO,
    HIST_NBINS,
    HIST_W,
    histogram_quantiles,
    histogram_sketch,
)

# explicit DOUBLE casts keep DuckDB off its exact-DECIMAL arithmetic so
# both engines run the same per-op IEEE sequence (plans/sketch.py note)
_SK_LO_D = f"CAST({HIST_LO} AS DOUBLE)"
_SK_W_D = f"CAST({HIST_W} AS DOUBLE)"
_SK_EST = f"{_SK_LO_D} + {_SK_W_D} * c.bin + {_SK_W_D} * (c.rq - h.cum_prev) / h.n"


# sketch-band CTE chain, shared verbatim by the (former) standalone
# sketch oracle and the merged events_value_features oracle below —
# one source of truth for the histogram-quantile replay
_SK_BAND_CTES = f"""
b AS (
  SELECT event_type,
         CAST(least(greatest(floor((value - {_SK_LO_D}) / {_SK_W_D}), 0),
                    {HIST_NBINS - 1}) AS INTEGER) AS bin
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
h AS (
  SELECT event_type, bin, n,
         CAST(sum(n) OVER pw AS BIGINT) AS cum,
         CAST(sum(n) OVER pw - n AS BIGINT) AS cum_prev
  FROM hist
  WINDOW pw AS (PARTITION BY event_type ORDER BY bin)
),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
  FROM hist GROUP BY 1
),
qs AS (SELECT CAST(unnest([{WINSOR_LO}, {WINSOR_HI}]) AS DOUBLE) AS q),
spec AS (
  SELECT event_type, q, n_total, q * n_total AS rq
  FROM tot CROSS JOIN qs
),
cand AS (
  SELECT h.event_type, q, rq, n_total, min(bin) AS bin
  FROM h JOIN spec USING (event_type)
  WHERE cum >= rq GROUP BY 1, 2, 3, 4
),
est AS (
  SELECT c.event_type, c.q, {qround_sql(_SK_EST, 6)} AS est
  FROM cand c JOIN h ON h.event_type = c.event_type AND h.bin = c.bin
),
band AS (
  SELECT event_type,
         max(CASE WHEN q = {WINSOR_LO} THEN est END) AS lo,
         max(CASE WHEN q = {WINSOR_HI} THEN est END) AS hi
  FROM est GROUP BY 1
)
""".strip()


# NOTE (r9 rotation): formerly the registered query
# "events_value_normalized_sketch" — merged into events_value_features
# (see below); its oracle's sketch-band CTE chain lives on verbatim as
# _SK_BAND_CTES.  Kept as a library function.
def events_value_normalized_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events_value_normalized with the quantile BOUNDS answered from
    the mergeable fixed-bin histogram sketch instead of an exact
    percentile — the plan that survives 100 TB: the exact form's
    per-type `percentile` must hold each group's full value multiset
    through the aggregate, while the sketch carries AT MOST
    |types| × {HIST_NBINS} bounded-size rows through one map-side-
    combinable count aggregate, stays mergeable across days/partitions
    (operators/sketches.py merge-exactness), and costs only a bounded
    band error: each bound sits within one bin width ({HIST_W}) of the
    ⌈q·n⌉-th order statistic (see the section comment above for the
    exact-vs-sketch rank-convention slack), property-tested.
    Winsorize/min-max semantics and the degenerate-band (hi = lo →
    minmax 0.0) guard are byte-identical to events_value_normalized.

    Scale shape: one histogram aggregate (|types|·{HIST_NBINS} rows
    shuffle), quantile interpolation ON the sketch relation, a
    broadcast of the |types|-row band table back onto the fact scan;
    the clamp and scaling are row-local."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    hist = histogram_sketch(e, key_cols=["event_type"])
    qdf = histogram_quantiles(
        hist, key_cols=["event_type"], qs=(WINSOR_LO, WINSOR_HI)
    )
    band = qdf.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == WINSOR_LO, F.col("est"))).alias("lo"),
        F.max(F.when(F.col("q") == WINSOR_HI, F.col("est"))).alias("hi"),
    )
    j = e.join(F.broadcast(band), "event_type")
    w = F.least(
        F.greatest(F.col("value").cast("double"), F.col("lo")), F.col("hi")
    )
    return j.select(
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.col("lo").alias("p01_sk"),
        F.col("hi").alias("p99_sk"),
        qround(w, 6).alias("winsorized"),
        F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
        .otherwise(qround((w - F.col("lo")) / (F.col("hi") - F.col("lo")), 6))
        .alias("minmax"),
    )


# --- merged per-fact feature row (r9 rotation: the staged trio merge) -------
# events_value_normalized + events_user_target_encoding +
# events_value_normalized_sketch share the per-fact grain (one row per
# non-NULL-value event), so one merged row certifies all three feature
# families in a single driver slot — the r7 doc_unigram_logprob / r8
# doc_quality_scores rotation-latency pattern.  Each member earned its
# own driver-green row first (normalized + TE in r7, the sketch twin in
# r8); column semantics are byte-identical to the standalone forms
# (suffix _sk distinguishes the sketch band's clamp/scale pair).

_X_CLAMP = "least(greatest(CAST(e.value AS DOUBLE), xq.lo), xq.hi)"
_SK_CLAMP = "least(greatest(CAST(e.value AS DOUBLE), band.lo), band.hi)"

EVENTS_VALUE_FEATURES_SQL = f"""
WITH xq AS (
  SELECT event_type,
         {qround_sql(f"quantile_cont(CAST(value AS DOUBLE), {WINSOR_LO})", 6)} AS lo,
         {qround_sql(f"quantile_cont(CAST(value AS DOUBLE), {WINSOR_HI})", 6)} AS hi
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
{_SK_BAND_CTES},
g AS (SELECT avg(CAST(value AS DOUBLE)) AS mu FROM events
      WHERE value IS NOT NULL),
u AS (
  SELECT user_id, CAST(sum(value) AS DOUBLE) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type,
       CAST(e.value AS DOUBLE) AS value,
       xq.lo AS p01, xq.hi AS p99,
       {qround_sql(_X_CLAMP, 6)} AS winsorized,
       CASE WHEN xq.hi = xq.lo THEN 0.0
            ELSE {qround_sql(f"({_X_CLAMP} - xq.lo) / (xq.hi - xq.lo)", 6)}
       END AS minmax,
       band.lo AS p01_sk, band.hi AS p99_sk,
       {qround_sql(_SK_CLAMP, 6)} AS winsorized_sk,
       CASE WHEN band.hi = band.lo THEN 0.0
            ELSE {qround_sql(
                f"({_SK_CLAMP} - band.lo) / (band.hi - band.lo)", 6)}
       END AS minmax_sk,
       u.n AS n_user,
       {qround_sql(
           "(u.s - CAST(e.value AS DOUBLE) + " + repr(TE_SMOOTHING) + " * g.mu)"
           " / (u.n - 1 + " + repr(TE_SMOOTHING) + ")", 6)} AS te_loo
FROM events e
JOIN xq USING (event_type)
JOIN band USING (event_type)
JOIN u USING (user_id)
CROSS JOIN g
WHERE e.value IS NOT NULL
""".strip()


@register("events_value_features", oracle=EVENTS_VALUE_FEATURES_SQL)
def events_value_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE per-fact feature row carrying the whole value-feature family:
    exact winsorize band (p01/p99 → winsorized/minmax), its 100 TB
    sketch-bounds twin (p01_sk/p99_sk → winsorized_sk/minmax_sk), and
    the leave-one-out smoothed user target encoding (n_user/te_loo) —
    the merged form of the three formerly-standalone registered
    queries (see the section comment).  Semantics of every column are
    unchanged from the standalone functions above, which remain the
    library API.

    Scale shape (verified against the executedPlan): every stat
    subtree reads its own COLUMN-PRUNED scan (event_type/value or
    user_id/value only, not-null filters pushed to parquet) — 7 pruned
    scans total vs ~9 for the three standalone queries — and all stat
    relations (|types|-wide exact band, |types|×NBINS histogram band,
    1-row global mean) broadcast back onto the single full-width probe
    scan; only the |users|-wide TE aggregate joins by shuffle at
    scale (AQE broadcasts it below the threshold) — the same one
    user_id shuffle the standalone TE query paid, so the merge adds
    zero shuffles over its cheapest member."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = F.col("value").cast("double")

    # exact per-type band
    xq = e.groupBy("event_type").agg(
        qround(F.expr(f"percentile(value, {WINSOR_LO})"), 6).alias("lo_x"),
        qround(F.expr(f"percentile(value, {WINSOR_HI})"), 6).alias("hi_x"),
    )
    # sketch per-type band
    hist = histogram_sketch(e, key_cols=["event_type"])
    qdf = histogram_quantiles(
        hist, key_cols=["event_type"], qs=(WINSOR_LO, WINSOR_HI)
    )
    band = qdf.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == WINSOR_LO, F.col("est"))).alias("lo_s"),
        F.max(F.when(F.col("q") == WINSOR_HI, F.col("est"))).alias("hi_s"),
    )
    # target-encoding stats
    g = e.agg(F.avg(v).alias("mu"))
    u = e.groupBy("user_id").agg(
        F.sum("value").cast("double").alias("s"),
        F.count("*").alias("n"),
    )
    m = F.lit(TE_SMOOTHING)

    j = (
        e.join(F.broadcast(xq), "event_type")
        .join(F.broadcast(band), "event_type")
        .join(u, "user_id")
        .crossJoin(F.broadcast(g))
    )
    wx = F.least(F.greatest(v, F.col("lo_x")), F.col("hi_x"))
    ws = F.least(F.greatest(v, F.col("lo_s")), F.col("hi_s"))
    return j.select(
        "event_id",
        "user_id",
        "event_type",
        v.alias("value"),
        F.col("lo_x").alias("p01"),
        F.col("hi_x").alias("p99"),
        qround(wx, 6).alias("winsorized"),
        F.when(F.col("hi_x") == F.col("lo_x"), F.lit(0.0))
        .otherwise(qround((wx - F.col("lo_x")) / (F.col("hi_x") - F.col("lo_x")), 6))
        .alias("minmax"),
        F.col("lo_s").alias("p01_sk"),
        F.col("hi_s").alias("p99_sk"),
        qround(ws, 6).alias("winsorized_sk"),
        F.when(F.col("hi_s") == F.col("lo_s"), F.lit(0.0))
        .otherwise(qround((ws - F.col("lo_s")) / (F.col("hi_s") - F.col("lo_s")), 6))
        .alias("minmax_sk"),
        F.col("n").alias("n_user"),
        qround((F.col("s") - v + m * F.col("mu")) / (F.col("n") - 1 + m), 6)
        .alias("te_loo"),
    )
