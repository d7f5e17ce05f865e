"""Additional window-family queries: as-of enrichment, sliding
windows, and CUBE grouping sets — operators the reference lacks but a
Spark-first analytics surface provides at zero cost (SURVEY §2.3,
§2.4 'not present in reference' notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql
from ..lifecycle import materialize
from ..operators.asof import asof_join
from ..sources.readers import table
from .registry import register


@register(
    "events_asof_last_purchase",
    oracle="""
WITH u AS (
  SELECT event_id, user_id, ts, CAST(NULL AS DOUBLE) AS pval, 1 AS is_l
  FROM events
  UNION ALL
  SELECT event_id, user_id, ts, value AS pval, 0 AS is_l
  FROM events WHERE event_type = 'purchase'
),
w AS (
  SELECT event_id, user_id, ts, is_l,
         (last_value(CASE WHEN is_l = 0 THEN {'v': pval} END
                     IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_l, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )).v AS last_purchase_value
  FROM u
)
SELECT event_id, user_id, ts, last_purchase_value
FROM w WHERE is_l = 1
""",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union trick): each event enriched with the user's
    most recent purchase value at-or-before its timestamp — one
    shuffle + linear window pass, no range-join explosion."""
    e = table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase")
    return asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases.select("event_id", "user_id", "ts", "value"),
        by="user_id",
        value_col="value",
        tiebreak="event_id",
        out_col="last_purchase_value",
    )


@register(
    "events_sliding_1h",
    oracle="""
WITH starts AS (
  SELECT event_type,
         unnest([date_trunc('minute', ts) - INTERVAL (EXTRACT(minute FROM ts)::INT % 30) MINUTE
                   - INTERVAL 30 MINUTE,
                 date_trunc('minute', ts) - INTERVAL (EXTRACT(minute FROM ts)::INT % 30) MINUTE
                ]) AS window_start
  FROM (SELECT event_type, date_trunc('second', ts) AS ts FROM events)
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
       count(*) AS n_events
FROM starts
GROUP BY 1, 2
""",
)
def events_sliding_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide): every event lands in
    exactly two windows — `F.window`'s sliding form, which the oracle
    replays by enumerating the two epoch-aligned starts per event.
    (Events are second-truncated first: sub-second timestamps don't
    change window membership and keep the two engines' interval
    arithmetic identical.)"""
    e = table(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts")
    )
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


@register(
    "sales_cube",
    oracle="""
SELECT o.o_orderpriority AS priority, l.l_returnflag AS returnflag,
       count(*) AS n_lines,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0
         AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY CUBE (o.o_orderpriority, l.l_returnflag)
""",
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over priority × returnflag (SURVEY §2.4:
    grouping sets absent in the reference, free in Spark).  Revenue
    rounds at 2 dp — cents — because the grand-total row sums ~600k
    doubles and engines' summation orders differ at ~1e-7 relative."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.cube(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


#: shared by customer_running_revenue AND its bounded-task scale twin
#: (the events_sessions / events_sessions_chunked oracle-sharing
#: pattern).  DECIMAL money arithmetic since r9: a running DOUBLE sum
#: of cent-quantized revenue sits on half-cent rounding boundaries
#: constantly (measured: 6 of 14,743 rows flip one cent under a
#: different addition association at sf0.01), so a parallel prefix sum
#: could never be bit-equal to the sequential window in floats —
#: decimal addition is EXACT and associative, which makes the plain
#: form, the chunked twin, and both engines agree bit-for-bit, no
#: rounding caveat needed.  The final value is cast back to DOUBLE
#: (exact below 2^53 cents) to keep the output schema stable.
RUNNING_REVENUE_SQL = """
WITH t AS (
  SELECT o.o_custkey AS custkey, o.o_orderdate AS order_date, o.o_orderkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS order_rev
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2, 3
)
SELECT custkey, order_date, o_orderkey AS orderkey,
       CAST(round(sum(order_rev) OVER (
         PARTITION BY custkey ORDER BY order_date, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS running_revenue
FROM t
"""


# r11 rotation: registration merged into the variant-tagged
# "customer_running_revenue" row below — library API, plain slice.
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (rowsBetween running total) — the analytic
    frame family SURVEY §2.5 notes is absent in the reference.
    DECIMAL money arithmetic (see RUNNING_REVENUE_SQL): exact and
    associative, so this sequential window, the chunked twin below,
    and the DuckDB oracle agree bit-for-bit."""
    from pyspark.sql import Window

    t = _order_revenue_rel(spark, sf_dir)
    w = (
        Window.partitionBy("custkey")
        .orderBy("order_date", "orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "custkey",
        "order_date",
        "orderkey",
        F.round(F.sum("order_rev").over(w), 2)
        .cast("double")
        .alias("running_revenue"),
    )


def _order_revenue_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-order revenue relation both running-revenue forms scan
    over — one (custkey, order_date, orderkey, order_rev) row per
    order."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderkey").alias("orderkey"),
        )
        .agg(F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias("order_rev"))
    )


def chunked_running_sum(
    t: DataFrame,
    part_col: str,
    order_cols: list[str],
    val_col: str,
    chunk_col,
    out_col: str,
    round_to: int,
) -> DataFrame:
    """Two-phase parallel prefix sum — the bounded-task form of
    ``sum(val) OVER (PARTITION BY part ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``: (1) running sum WITHIN (part, chunk) — the window
    task is bounded by rows-per-part-per-chunk, not the partition's
    whole history; (2) an exclusive prefix over the tiny per-chunk
    totals per part supplies each chunk's offset.  ``chunk_col`` must
    be monotone non-decreasing in the window order (e.g. a month
    derived from the leading order column).

    ``val_col`` must be an EXACT type (decimal or integral): decimal
    addition is associative, so the two-phase composition is
    bit-equal to the sequential window.  A double value column would
    re-associate the additions — measured on the running-revenue
    domain: 6 of 14,743 running sums flip one cent because
    cent-quantized money lives ON half-cent rounding boundaries —
    which is why the money queries moved to decimal rather than
    documenting an approximation."""
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType, IntegralType

    vt = t.schema[val_col].dataType
    if not isinstance(vt, (DecimalType, IntegralType)):
        raise ValueError(
            f"chunked_running_sum needs an exact val_col type, got {vt}"
        )
    tc = t.withColumn("_chunk", chunk_col)
    win = (
        Window.partitionBy(part_col, "_chunk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_in = tc.withColumn("_rs_in", F.sum(val_col).over(win))
    totals = tc.groupBy(part_col, "_chunk").agg(F.sum(val_col).alias("_tot"))
    offw = (
        Window.partitionBy(part_col)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        part_col,
        "_chunk",
        F.coalesce(F.sum("_tot").over(offw), F.lit(0).cast(vt)).alias("_off"),
    )
    return (
        with_in.join(offsets, [part_col, "_chunk"])
        .select(
            *t.columns,
            F.round(F.col("_off") + F.col("_rs_in"), round_to)
            .cast("double")
            .alias(out_col),
        )
        .drop(val_col)
    )


# r11 rotation: registration merged into "customer_running_revenue"
# (variant "chunked") — library API, feeds the merged chunked slice.
def customer_running_revenue_chunked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-task running revenue — the 100 TB scale twin of
    customer_running_revenue (identical output and oracle), second
    member of the chunked-window-twin family opened by
    events_sessions_chunked: the plain form's running-total window
    sorts a customer's WHOLE order history in one task (the measured
    hot-key straggler — PERF.md's sessionization probe pinned the
    mechanism at 4× on a 10M-row key), while this twin prefix-sums
    within (customer, order month) and offsets each month by the
    exclusive prefix of the tiny per-month totals.  The month chunk is
    monotone in the (order_date, orderkey) window order, so the
    composition is exact; the 2 dp round absorbs the association-order
    float difference exactly as it already absorbs the cross-engine
    one (docstring of chunked_running_sum)."""
    t = _order_revenue_rel(spark, sf_dir)
    return chunked_running_sum(
        t,
        "custkey",
        ["order_date", "orderkey"],
        "order_rev",
        F.date_trunc("month", F.col("order_date")),
        "running_revenue",
        2,
    )


@register(
    "customer_running_revenue",
    oracle=f"""
SELECT 'plain' AS variant, * FROM ({RUNNING_REVENUE_SQL}) _v_plain
UNION ALL
SELECT 'chunked' AS variant, * FROM ({RUNNING_REVENUE_SQL}) _v_chunked
""",
)
def customer_running_revenue_merged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merged window-twin row (r11 rotation): the plain running-total
    window and its two-phase parallel-prefix twin as tagged variants
    on one (variant, custkey, order_date, orderkey, running_revenue)
    relation — both members driver-green r10, so one variant-tagged
    slot certifies both plans (the baseline_topk precedent; the
    shared RUNNING_REVENUE_SQL oracle replays once per tag).  The
    DECIMAL money arithmetic makes the two compositions bit-equal
    (decimal addition is associative — see RUNNING_REVENUE_SQL), so
    any divergence flips the value hash with no rounding caveat.

    Scale shape: per member unchanged — chunked prefix-sums within
    (customer, order-month) and offsets by the exclusive prefix of
    the tiny per-month totals (the hot-key straggler answer, 4×
    measured at a 10M-row key)."""
    cols = ["custkey", "order_date", "orderkey", "running_revenue"]
    plain = customer_running_revenue(spark, sf_dir).select(
        F.lit("plain").alias("variant"), *cols
    )
    chunked = customer_running_revenue_chunked(spark, sf_dir).select(
        F.lit("chunked").alias("variant"), *cols
    )
    return plain.unionByName(chunked)


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "user_retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events GROUP BY 1
),
a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
j AS (
  SELECT a.user_id, f.cw,
         CAST(floor(date_diff('day', f.cw, a.w) / 7.0) AS INTEGER)
           AS week_offset
  FROM a JOIN f USING (user_id)
),
cs AS (
  SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
  FROM f GROUP BY 1
),
m AS (
  SELECT cw, week_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM j GROUP BY 1, 2
)
SELECT CAST(m.cw AS VARCHAR) AS cohort_week, m.week_offset, m.n_active,
       cs.n_cohort,
       {retention_q} AS retention
FROM m JOIN cs USING (cw)
""".format(
        retention_q=qround_sql("CAST(m.n_active AS DOUBLE) / cs.n_cohort", 6)
    ),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the standard product-analytics
    rollup: users are cohorted by the week of their FIRST event;
    each (cohort, week-offset) cell counts how many came back that
    week, with retention = cell / cohort size.

    Weeks are Monday-start in both engines (Spark date_trunc and
    DuckDB date_trunc share ISO week semantics), so the day-difference
    between two week-starts is always a multiple of 7 and the integer
    offset is exact.  Scale shape: two linear aggregates over one
    events scan (first-event per user; distinct user-weeks) + a join
    keyed on user, then a tiny (cohorts x offsets) matrix aggregate —
    no window over raw events, no self-join."""
    return retention_cohorts(table(spark, sf_dir, "events"))


def retention_cohorts(e: DataFrame) -> DataFrame:
    """Library form of user_retention_cohorts (so tests can plant
    multi-cohort histories — the synthetic events table has a single
    cohort with full retention)."""
    # O(users) model-sized frame consumed TWICE (the activity join and
    # the cohort sizes); without the cache each action scans events and
    # re-aggregates it per consumer (no plan-level CSE in Catalyst)
    first = materialize(
        e.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
        ),
        owner="windows_extra",
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    j = activity.join(first, "user_id").select(
        "user_id",
        "cohort_week",
        F.floor(F.datediff("w", "cohort_week") / 7.0)
        .cast("int")
        .alias("week_offset"),
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort")
    )
    m = j.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    return m.join(sizes, "cohort_week").select(
        # ISO string, not DATE: pandas renders Spark dates and DuckDB
        # dates through different dtypes, which breaks value-hash
        # normalization even when the dates are equal
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        "n_cohort",
        qround(
            F.col("n_active").cast("double") / F.col("n_cohort"), 6
        ).alias("retention"),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "events_transition_matrix",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       {prob_q} AS prob
FROM t
""".format(
        prob_q=qround_sql(
            "CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)", 6
        )
    ),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each ordered pair of consecutive events of the SAME user, count
    (from_type → to_type) and normalize per source type — the
    navigation-flow model product analytics builds next to the funnel
    (events_funnel) and the cohort matrix (user_retention_cohorts).

    Per-user ordering ties break by event_id (same convention as the
    as-of join).  Scale shape: ONE window pass partitioned by user
    (per-user history is bounded), then an aggregate onto the tiny
    |types|² matrix; the prob window runs on that matrix, not on raw
    events.  No self-join."""
    return transition_matrix(table(spark, sf_dir, "events"))


def transition_matrix(e: DataFrame) -> DataFrame:
    """Library form of events_transition_matrix (so tests can plant
    known event chains)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        qround(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias(
            "prob"
        ),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "events_anomaly_daily",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
w0 AS (
  SELECT day, event_type, n,
         CAST(sum(n) OVER tw AS BIGINT) AS s1,
         CAST(sum(n * n) OVER tw AS BIGINT) AS s2,
         CAST(count(*) OVER tw AS BIGINT) AS n_hist
  FROM d
  WINDOW tw AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
w AS (
  SELECT day, event_type, n, n_hist,
         CASE WHEN n_hist >= 1
              THEN CAST(s1 AS DOUBLE) / n_hist END AS mu,
         CASE WHEN n_hist >= 2
              THEN sqrt(greatest(
                (s2 - CAST(s1 AS DOUBLE) * s1 / n_hist) / (n_hist - 1),
                0.0)) END AS sd
  FROM w0
),
z AS (
  SELECT day, event_type, n, n_hist,
         CASE WHEN n_hist >= 3 THEN {mu_q} END AS mean_7d,
         CASE WHEN n_hist >= 3 AND sd > 0 THEN {z_q} END AS zscore
  FROM w
)
SELECT CAST(day AS VARCHAR) AS day, event_type, n, n_hist,
       mean_7d, zscore,
       COALESCE(abs(zscore) > 3.0, FALSE) AS is_anomaly
FROM z
""".format(
        mu_q=qround_sql("mu", 6), z_q=qround_sql("(n - mu) / sd", 6)
    ),
)
def events_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly detection on the daily event-count
    series: each (day, type) cell is z-scored against the mean/stddev
    of its own trailing window (up to 7 prior observations, current
    day EXCLUDED so a spike cannot mask itself), flagged when |z| > 3.

    Warm-up cells (< 3 prior observations) and zero-variance baselines
    emit NULL stats and are never flagged.  The trailing frame is
    7 prior OBSERVATIONS, not calendar days — on a gappy series the
    baseline stretches back; for a calendar-true baseline compose
    with :func:`daily_dense` (zero-filled spine) upstream.  Scale
    shape: the window runs over the tiny (days × types) aggregate,
    never over raw events."""
    return daily_anomalies(table(spark, sf_dir, "events"))


def daily_anomalies(e: DataFrame) -> DataFrame:
    """Library form of events_anomaly_daily (so tests can plant a
    spike over a flat-ish baseline).

    Cross-engine discipline: the trailing mean/stddev are computed
    from INTEGER window sums (s1 = Σn, s2 = Σn², exact in any
    accumulation order) through the IDENTICAL double expression in
    both engines — engine-native ``stddev_samp`` window aggregates use
    engine-specific summation orders whose last-ulp noise could flip
    the 6-dp rounding, exactly the hazard functions/rounding.py exists
    for.  The catastrophic-cancellation clamp (greatest(·, 0)) runs on
    the same IEEE sequence both sides.  The anomaly decision
    thresholds the ROUNDED zscore (registry convention: decisions
    round before thresholding).  s2 as int64 bounds the per-cell daily
    count at ~3·10⁹ (Σn² < 2⁶³) — far above any real (day, type)
    grain."""
    from pyspark.sql import Window

    d = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    w0 = d.select(
        "day",
        "event_type",
        "n",
        F.sum("n").over(tw).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(tw).alias("s2"),
        F.count("*").over(tw).alias("n_hist"),
    )
    s1d = F.col("s1").cast("double")
    mu = F.when(
        F.col("n_hist") >= 1, s1d / F.col("n_hist")
    )
    sd = F.when(
        F.col("n_hist") >= 2,
        F.sqrt(
            F.greatest(
                (F.col("s2") - s1d * F.col("s1") / F.col("n_hist"))
                / (F.col("n_hist") - 1),
                F.lit(0.0),
            )
        ),
    )
    w = w0.select(
        "day", "event_type", "n", "n_hist", mu.alias("mu"), sd.alias("sd")
    )
    ok = F.col("n_hist") >= 3
    sd_ok = ok & (F.col("sd") > 0)
    z = (F.col("n").cast("double") - F.col("mu")) / F.col("sd")
    zr = F.when(sd_ok, qround(z, 6))
    return w.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n",
        "n_hist",
        F.when(ok, qround(F.col("mu"), 6)).alias("mean_7d"),
        zr.alias("zscore"),
        F.coalesce(F.abs(zr) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


#: ordered funnel steps over the events stream (each step must occur
#: strictly AFTER the user's previous step's first qualifying event)
FUNNEL_STEPS = ("signup", "view", "click", "purchase")


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "events_funnel",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         list_sort(list(ts) FILTER (WHERE event_type = 'signup')) AS a1,
         list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS a2,
         list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS a3,
         list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS a4
  FROM events GROUP BY 1
),
ts4 AS (
  SELECT user_id, t1, t2, t3,
         list_filter(a4, x -> x > t3)[1] AS t4
  FROM (
    SELECT user_id, a4, t1, t2,
           list_filter(a3, x -> x > t2)[1] AS t3
    FROM (
      SELECT user_id, a3, a4, t1,
             list_filter(a2, x -> x > t1)[1] AS t2
      FROM (SELECT user_id, a2, a3, a4, a1[1] AS t1 FROM per_user)
    )
  )
),
counts AS (
  SELECT 1 AS step_idx, 'signup' AS step, CAST(count(t1) AS BIGINT) AS n_users FROM ts4
  UNION ALL
  SELECT 2, 'view', CAST(count(t2) AS BIGINT) FROM ts4
  UNION ALL
  SELECT 3, 'click', CAST(count(t3) AS BIGINT) FROM ts4
  UNION ALL
  SELECT 4, 'purchase', CAST(count(t4) AS BIGINT) FROM ts4
),
first AS (SELECT n_users AS n1 FROM counts WHERE step_idx = 1)
SELECT step_idx, step, n_users,
       CASE WHEN first.n1 > 0 THEN {frac_q}
       ELSE 0.0 END AS frac_of_first
FROM counts CROSS JOIN first
""".format(
        frac_q=qround_sql("CAST(n_users AS DOUBLE) / first.n1", 6)
    ),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users complete signup → view → click
    → purchase IN ORDER (each step strictly after the first
    qualifying timestamp of the previous one — re-orderings don't
    count, unlike a naive per-type count).

    One groupBy collects each user's per-step sorted timestamp lists;
    the step resolution (first element of list k strictly after step
    k−1's time) is row-local array logic — no window over raw events,
    no self-join, output is 4 rows.  Ties at identical timestamps
    break the chain (strict >, documented; mirrored in the oracle)."""
    return funnel(table(spark, sf_dir, "events"))


def funnel(e: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Library form of events_funnel (so tests can plant ordered and
    out-of-order histories)."""
    aggs = [
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == s, F.col("ts")))
        ).alias(f"a{i}")
        for i, s in enumerate(steps, start=1)
    ]
    per_user = e.groupBy("user_id").agg(*aggs)
    # try_element_at: NULL on an empty list (ANSI element_at ERRORS;
    # DuckDB's list[1] is NULL) — a user missing a step must resolve
    # to NULL, not fail the job
    t = F.try_element_at("a1", F.lit(1))
    per_user = per_user.withColumn("t1", t)
    for i in range(2, len(steps) + 1):
        prev = F.col(f"t{i - 1}")
        per_user = per_user.withColumn(
            f"t{i}",
            F.try_element_at(
                F.filter(F.col(f"a{i}"), lambda x: x > prev), F.lit(1)
            ),
        )
    # ONE aggregation computes every step count (a per-step .agg would
    # re-run the whole per_user subtree once per step — Catalyst does
    # not dedupe common subplans across separate aggregates), then a
    # row-local explode reshapes the single row into the 4-row funnel
    stats = per_user.agg(
        *[
            F.count(F.col(f"t{i}")).alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, s in enumerate(steps, start=1)
        ]
    )
    return (
        stats.select(F.col("n1"), F.explode(rows).alias("r"))
        .select("r.*", "n1")
        .select(
            "step_idx",
            "step",
            "n_users",
            F.when(
                F.col("n1") > 0,
                qround(F.col("n_users").cast("double") / F.col("n1"), 6),
            )
            .otherwise(0.0)
            .alias("frac_of_first"),
        )
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "customer_rfm_segments",
    oracle="""
WITH c AS (
  SELECT o_custkey AS custkey,
         CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS last_order,
         CAST(count(*) AS BIGINT) AS n_orders,
         {monetary_q} AS monetary
  FROM orders GROUP BY 1
),
q AS (
  SELECT custkey, last_order, n_orders, monetary,
         CAST(ntile(4) OVER (ORDER BY last_order DESC, custkey) AS INTEGER) AS r_q,
         CAST(ntile(4) OVER (ORDER BY n_orders DESC, custkey) AS INTEGER) AS f_q,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INTEGER) AS m_q
  FROM c
)
SELECT custkey, last_order, n_orders, monetary, r_q, f_q, m_q,
       concat(CAST(r_q AS VARCHAR), CAST(f_q AS VARCHAR),
              CAST(m_q AS VARCHAR)) AS segment
FROM q
""".format(monetary_q=qround_sql("sum(o_totalprice)", 2)),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (last order
    date), frequency (order count), monetary (total spend, 2 dp) each
    quartiled with ntile(4) — quartile 1 is the best tier — and
    concatenated into the classic 3-digit segment code ('111' =
    champions ... '444' = churned).

    Determinism: ntile assigns by ROW position, so each ordering
    carries an explicit custkey tie-break, and monetary is ROUNDED
    before ranking (registry convention).  Scale shape: the windows
    run over the O(customers) aggregate, not the fact table; they are
    deliberately UNPARTITIONED — a global quantile assignment needs a
    total order, and at a customer count where one partition hurts,
    the histogram-sketch quantile boundaries (operators/sketches.py)
    are the scale substitute (bucket by comparing to broadcast
    boundaries instead of sorting)."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    c = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").cast("date").cast("string").alias("last_order"),
        F.count("*").alias("n_orders"),
        qround(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    r_w = Window.orderBy(F.desc("last_order"), F.asc("custkey"))
    f_w = Window.orderBy(F.desc("n_orders"), F.asc("custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("custkey"))
    q = c.select(
        "custkey",
        "last_order",
        "n_orders",
        "monetary",
        F.ntile(4).over(r_w).alias("r_q"),
        F.ntile(4).over(f_w).alias("f_q"),
        F.ntile(4).over(m_w).alias("m_q"),
    )
    return q.withColumn(
        "segment",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "user_value_scd2",
    oracle="""
WITH o AS (
  SELECT user_id, value, ts, event_id,
         lag(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS rn
  FROM events
),
chg AS (
  SELECT user_id, value, ts, event_id FROM o
  WHERE rn = 1 OR value IS DISTINCT FROM prev_value
)
SELECT user_id, value,
       CAST(ts AS VARCHAR) AS valid_from,
       CAST(lead(ts) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS VARCHAR) AS valid_to,
       CAST(lead(ts) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) IS NULL AS INTEGER) AS is_current
FROM chg
""",
)
def user_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from the event
    stream: per user, each CHANGE of ``value`` opens a new history row
    with a [valid_from, valid_to) interval; the open-ended row is the
    current version — the standard warehouse dimension-history
    materialization, built with two linear window passes (change
    suppression via lag, interval close via lead), no self-join.

    Consecutive duplicate values collapse into one interval (that is
    what makes it SCD2 rather than an event log); the change test is
    NULL-SAFE (IS DISTINCT FROM, with the key's first row always kept)
    so a NULL-valued period opens its own interval instead of being
    silently dropped.  Ordering ties break by event_id; interval
    semantics are half-open so lookups join with
    ``valid_from <= t < valid_to``.  Timestamps are emitted as strings
    for cross-engine hash stability (same convention as
    user_retention_cohorts)."""
    return scd2_history(table(spark, sf_dir, "events"))


def scd2_history(
    e: DataFrame,
    key: str = "user_id",
    attr: str = "value",
) -> DataFrame:
    """Library form of user_value_scd2 over any (key, attr, ts,
    event_id) relation."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("ts", "event_id")
    # rn==1 keeps every key's first version even when attr is NULL
    # (lag is NULL there too, and NULL IS-DISTINCT-FROM NULL is false)
    chg = (
        e.select(key, attr, "ts", "event_id")
        .withColumn("prev_value", F.lag(attr).over(w))
        .withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("rn") == 1)
            | ~F.col(attr).eqNullSafe(F.col("prev_value"))
        )
        .drop("prev_value", "rn")
    )
    valid_to = F.lead("ts").over(w)
    return chg.select(
        key,
        attr,
        F.col("ts").cast("string").alias("valid_from"),
        valid_to.cast("string").alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "events_daily_dense",
    oracle="""
WITH b AS (
  SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(max(date_trunc('day', ts)) AS DATE) AS d1
  FROM events
),
types AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS day, event_type
  FROM b CROSS JOIN types
),
d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n,
         {mean_q} AS mean_value
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT s.day, s.event_type,
         COALESCE(d.n, 0) AS n_events,
         CAST(d.day IS NOT NULL AS INTEGER) AS had_data,
         d.mean_value
  FROM spine s LEFT JOIN d ON s.day = d.day AND s.event_type = d.event_type
)
SELECT CAST(day AS VARCHAR) AS day, event_type, n_events, had_data,
       last_value(mean_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS mean_value_ffill
FROM j
""".format(mean_q=qround_sql("avg(value)", 6)),
)
def events_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling (resample-to-daily): a dense day × type
    spine over the observed span, daily counts zero-filled and the
    daily mean value carried FORWARD over gaps (last-observation-
    carried-forward) — the densification step every downstream
    time-series consumer (the anomaly z-scores, forecasting, chart
    backends) wants instead of silently skipping empty days.

    The carried value is ROUNDED at the daily grain BEFORE the fill,
    so the fill copies identical doubles in both engines.  Scale
    shape: the spine is days × types rows built from a 1-row bounds
    aggregate (broadcast cross join) — never from the facts; the fill
    is one linear window over the spine.  (This synthetic dataset has
    no empty days — had_data is all 1; gap behavior is pinned by the
    planted pytest.)"""
    return daily_dense(table(spark, sf_dir, "events"))


def daily_dense(e: DataFrame) -> DataFrame:
    """Library form of events_daily_dense (so tests can plant gaps)."""
    from pyspark.sql import Window

    bounds = e.agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("d0"),
        F.max(F.date_trunc("day", "ts")).cast("date").alias("d1"),
    )
    types = e.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
        .crossJoin(types)
    )
    d = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        qround(F.avg("value"), 6).alias("mean_value"),
    )
    j = spine.join(d, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("n").isNotNull().cast("int").alias("had_data"),
        "mean_value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n_events",
        "had_data",
        F.last("mean_value", ignorenulls=True).over(w).alias(
            "mean_value_ffill"
        ),
    )


# --- interval (range) join: events in anomaly incident windows -------------
#
# The multi-match range join the as-of operator deliberately is NOT
# (operators/asof.py carries exactly one right row per left row; an
# incident window must collect EVERY overlapping event).  Catalyst has
# no range-join optimization: `e.ts BETWEEN i.lo AND i.hi` with only a
# low-selectivity equi-key (event_type, ~5 values) degenerates to a
# per-key cross product — O(|events| × |windows per type|).  The scale
# pattern is BUCKETIZATION: explode each interval to the fixed-grain
# buckets (days) it covers, equi-join points to intervals on
# (key, bucket), then apply the exact containment filter to trim the
# bucket edges — O(|events| + Σ interval-days) with a real equi-key.

from .registry import oracle_of as _oracle_of  # noqa: E402

#: incidents extend ±6 h around the anomalous day span: boundaries are
#: deliberately sub-day so the bucket join is a strict superset and
#: the residual containment filter provably does work
INCIDENT_PAD_H = 6

# the oracle composes the anomaly oracle VERBATIM (one source of truth
# for the flag rule), island-merges with the same date − rn trick, and
# range-joins brute-force — correct at oracle scale, and exactly what
# the bucketized plan must reproduce
_ANOM_WINDOWS_ORACLE = f"""
WITH anom AS (
  SELECT event_type, CAST(day AS DATE) AS day
  FROM ({_oracle_of("events_anomaly_daily")}) a
  WHERE a.is_anomaly
),
runs AS (
  SELECT event_type, day,
         day - CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY day) AS INTEGER) AS grp
  FROM anom
),
isl AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1
  FROM runs GROUP BY event_type, grp
),
win AS (
  SELECT event_type,
         CAST(d0 AS TIMESTAMP) - INTERVAL {INCIDENT_PAD_H} HOUR AS w_start,
         CAST(d1 + 1 AS TIMESTAMP) + INTERVAL {INCIDENT_PAD_H} HOUR AS w_end
  FROM isl
)
SELECT e.event_id, e.event_type, e.user_id,
       strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(w.w_end, '%Y-%m-%d %H:%M:%S') AS window_end
FROM events e
JOIN win w ON w.event_type = e.event_type
          AND e.ts >= w.w_start AND e.ts < w.w_end
"""


@register("events_in_anomaly_windows", oracle=_ANOM_WINDOWS_ORACLE)
def events_in_anomaly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every raw event inside an anomaly INCIDENT window — the
    bucketized interval join (see section comment).  Incidents are
    maximal runs of consecutive anomalous days per event_type
    (events_anomaly_daily's |z| > 3 flags, island-merged with the
    date − row_number() grouping trick) padded ±6 h; an event matches
    when its type's incident contains its timestamp.  Output one row
    per (event, containing window): (event_id, event_type, user_id,
    window_start, window_end).  The join is multi-match by contract
    (one row per containing window — pinned by an overlapping-windows
    pytest on events_in_windows); at the shipped 6 h pad same-type
    incidents cannot overlap (islands are ≥ 1 day apart, so overlap
    needs pad ≥ 12 h), which keeps THIS query's output one-row-per-
    event while the operator stays general.

    Oracle: the events_anomaly_daily oracle verbatim → the same
    island merge → a brute-force range join (fine at oracle scale);
    the Spark side's bucket explode + equi-join + containment filter
    must produce the identical row set."""
    e = table(spark, sf_dir, "events")
    return events_in_windows(e, anomaly_windows(e))


def anomaly_windows(e: DataFrame) -> DataFrame:
    """(event_type, w_start, w_end): maximal consecutive anomalous-day
    runs padded ±INCIDENT_PAD_H hours.  Tiny relation — the window
    functions run over the anomalous (day, type) cells only."""
    from pyspark.sql import Window

    an = daily_anomalies(e).where("is_anomaly").select(
        "event_type", F.col("day").cast("date").alias("day")
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("day")
    )
    runs = an.withColumn("grp", F.date_sub(F.col("day"), rn))
    isl = runs.groupBy("event_type", "grp").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    pad = F.expr(f"INTERVAL {INCIDENT_PAD_H} HOURS")
    return isl.select(
        "event_type",
        (F.col("d0").cast("timestamp") - pad).alias("w_start"),
        (F.date_add("d1", 1).cast("timestamp") + pad).alias("w_end"),
    )


def events_in_windows(e: DataFrame, windows: DataFrame) -> DataFrame:
    """The bucketized interval join itself: explode each window to the
    days it touches, equi-join events on (event_type, day), keep exact
    containment [w_start, w_end).  The exploded bucket relation is
    Σ interval-days rows; here it is broadcast (incidents are rare by
    construction) — at a scale where incidents outgrow the broadcast
    threshold the same plan shuffles on the (type, day) key instead,
    still never a per-type cross product."""
    buckets = windows.select(
        "event_type",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_sub(F.to_date("w_start"), 0),
                F.to_date(F.col("w_end") - F.expr("INTERVAL 1 MICROSECOND")),
            )
        ).alias("bday"),
    )
    ev = e.select(
        "event_id",
        "event_type",
        "user_id",
        "ts",
        F.date_trunc("day", "ts").cast("date").alias("bday"),
    )
    return (
        ev.join(F.broadcast(buckets), ["event_type", "bday"])
        .where((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .select(
            "event_id",
            "event_type",
            "user_id",
            F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        )
    )


# --- DAU / WAU stickiness ----------------------------------------------------
@register(
    "events_dau_wau_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
),
contrib AS (
  SELECT user_id, day + CAST(off.o AS INTEGER) AS day
  FROM ud CROSS JOIN (SELECT unnest(range(7)) AS o) off
),
wau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM contrib GROUP BY 1
)
SELECT CAST(d.day AS VARCHAR) AS day, d.dau, w.wau,
       floor((CAST(d.dau AS DOUBLE) / w.wau) * 1000000.0 + 0.5)
         / 1000000.0 AS stickiness
FROM dau d JOIN wau w USING (day)
""",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the standard
    product-analytics engagement ratio.  WAU(d) counts distinct users
    active in [d−6, d]; only days with DAU (observed days) are
    emitted, but their WAU still sees the full trailing week.

    A trailing COUNT(DISTINCT) is NOT a window aggregate (distinct
    doesn't decompose over frames).  The scale shape: reduce events to
    the DISTINCT (user, day) relation once — the only pass over raw
    events — then each (user, day) row CONTRIBUTES to the 7 target
    days [day, day+6] via one explode (×7, map-side, no self-join, no
    per-day rescan), and WAU is a distinct count per target day.
    O(7 × active-pairs), shuffles on compact (user, day) keys.
    Stickiness rounds at 6 dp (registry convention)."""
    return dau_wau_stickiness(table(spark, sf_dir, "events"))


def dau_wau_stickiness(e: DataFrame) -> DataFrame:
    """Library form of events_dau_wau_stickiness (so tests can plant
    a hand-computable activity pattern)."""
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            qround(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# --- time-RANGE rolling aggregates (r10) -------------------------------------
#: trailing rolling-window span in seconds (7 days, inclusive ends)
ROLLING_SPAN_S = 7 * 86400

#: DuckDB twin of :func:`orders_rolling_7d_revenue`.  Both engines
#: order the frame by EPOCH SECONDS (o_orderdate is midnight-aligned,
#: TESTDATA) so the RANGE endpoints agree exactly; DECIMAL(18,2) money
#: arithmetic per the r9 migration — a rolling DOUBLE sum is
#: order-sensitive on half-cent boundaries, decimal addition is exact
#: and associative, so any frame evaluation order agrees bit-for-bit.
ROLLING_7D_REVENUE_SQL = f"""
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       o_orderdate AS order_date,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN {ROLLING_SPAN_S} PRECEDING AND CURRENT ROW), 2)
         AS DOUBLE) AS revenue_7d,
       count(*) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN {ROLLING_SPAN_S} PRECEDING AND CURRENT ROW)
         AS n_orders_7d
FROM orders
""".strip()


# r12 rotation: registration merged into the variant-tagged
# "orders_rolling_7d_revenue" row below (variant "plain") — library
# API, feeds the merged plain slice and the twin-equality pytests.
def orders_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling revenue + order count per customer — the
    time-RANGE window frame (``rangeBetween`` over epoch seconds), the
    one frame family the running-revenue ROWS queries don't cover:
    the frame width varies per row with the data's timestamps, not
    with a fixed row count.

    RANGE frames are peer-inclusive in both engines (all rows with
    the same order timestamp share one frame), so the result is
    deterministic without a tiebreak column.  Scale shape: ONE shuffle
    on custkey + a linear two-pointer frame scan per key — the same
    cost class as sessionization; a hot customer is the
    chunked-running-sum twin's territory (the trailing frame carries
    across a chunk boundary as (ts, order_rev) pairs within the span,
    bounded by span/min-order-gap rows).  No reference analogue
    (SURVEY §2.5 extension)."""
    return rolling_span_revenue(table(spark, sf_dir, "orders"), ROLLING_SPAN_S)


def _epoch_seconds_ntz(ts_col):
    """Epoch seconds via NTZ-normalized local-datetime arithmetic:
    ``timestamp_diff`` against an NTZ 1970 literal (Spark 4 disallows
    NTZ→BIGINT casts; ``unix_timestamp`` is rejected for NTZ inputs) —
    matches DuckDB's ``epoch()``.  The explicit ``to_timestamp_ntz``
    on the column makes the LTZ→NTZ coercion symmetric instead of
    implicit (r10 ADVICE).  UTC-SESSION ASSUMPTION (documented, not
    removed): a TIMESTAMP (LTZ) column converts to NTZ through the
    SESSION timezone, so a non-UTC session yields wall-clock-shifted
    epochs — registry queries are safe (ensure_session_confs pins
    UTC); external callers of the library forms must pin UTC or pass
    TIMESTAMP_NTZ columns.  (A uniform shift cancels in RANGE-frame
    membership and gap differences, but a DST session's shift is not
    uniform — pin UTC.)"""
    return F.timestamp_diff(
        "SECOND",
        F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
        F.to_timestamp_ntz(ts_col),
    )


def rolling_span_revenue(o: DataFrame, span_s: int) -> DataFrame:
    """Library form of orders_rolling_7d_revenue (planted-fixture
    tests feed synthetic order tables)."""
    from pyspark.sql import Window

    epoch_s = _epoch_seconds_ntz(F.col("o_orderdate"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-span_s, 0)
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("order_date"),
        F.round(F.sum(price).over(w), 2).cast("double").alias("revenue_7d"),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


# --- last-touch attribution (r10) --------------------------------------------
#: attribution lookback: a purchase is credited to the most recent
#: prior view by the same user only if it happened within this many
#: MICROseconds (7 days); older views (or none) mean "direct"
ATTRIB_WINDOW_US = 7 * 86400 * 1_000_000

#: DuckDB twin of :func:`events_attribution_last_touch`.  The oracle
#: deliberately does NOT mirror the union-window as-of plan: it
#: resolves each purchase's last prior view with a quadratic-per-user
#: argmax join (obviously-correct at sf0.01), so the two engines reach
#: the same relation through INDEPENDENT algorithms — stronger
#: evidence than a mirrored implementation.
ATTRIBUTION_SQL = f"""
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
),
lastv AS (
  SELECT p.event_id, max(v.ts) AS view_ts
  FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
  GROUP BY 1
),
attr AS (
  SELECT p.ts, p.value,
         (lv.view_ts IS NOT NULL AND
          epoch_us(p.ts) - epoch_us(lv.view_ts) <= {ATTRIB_WINDOW_US})
           AS attributed,
         epoch_us(p.ts) - epoch_us(lv.view_ts) AS gap_us
  FROM p LEFT JOIN lastv lv ON lv.event_id = p.event_id
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_purchases,
       count(*) FILTER (WHERE attributed) AS n_attributed,
       floor((coalesce(sum(value) FILTER (WHERE attributed), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS attributed_value,
       floor((coalesce(sum(value) FILTER (WHERE NOT attributed), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS direct_value,
       floor((CAST(sum(gap_us) FILTER (WHERE attributed) AS DOUBLE)
              / nullif(count(*) FILTER (WHERE attributed), 0)
              / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS avg_gap_s
FROM attr
GROUP BY 1
""".strip()


# r13 rotation: registration merged into the variant-tagged
# "events_attribution_last_touch" row below (variant "plain") —
# library API, feeds the merged plain slice and the planted-fixture
# pytests.
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily last-touch attribution: each purchase is credited to the
    most recent prior view by the same user within a 7-day lookback
    (at-or-before semantics), else counted as direct; aggregated to
    per-day conversion totals (the marketing-analytics table the
    funnel/session family feeds).

    Composition of the as-of operator (operators/asof.py — ONE user
    shuffle + a linear carry-forward window, never the O(views ×
    purchases) pair join the oracle uses at toy scale) with a daily
    aggregate.  Gap arithmetic runs in integer MICROseconds
    (``timestamp_diff`` / ``epoch_us``) — the sums stay exact in int64
    across engines, so the 6-dp-rounded average is bit-stable.  Money
    follows the events_daily sum convention (double + 6-dp quantize).
    No reference analogue (SURVEY §2.3 extension)."""
    return last_touch_attribution(table(spark, sf_dir, "events"), ATTRIB_WINDOW_US)


def last_touch_attribution(
    e: DataFrame, window_us: int, chunk_s: int | None = None
) -> DataFrame:
    """Library form of events_attribution_last_touch (planted-fixture
    tests feed synthetic event tables).  ``chunk_s`` switches the
    as-of step to its bounded-task twin (operators/asof.py::
    asof_join_chunked) — identical semantics, per-task row bound of
    one user-chunk."""
    from ..operators.asof import asof_join_chunked

    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    if chunk_s is None:
        enriched = asof_join(
            purchases,
            views,
            by="user_id",
            value_col="ts",
            out_col="view_ts",
        )
    else:
        enriched = asof_join_chunked(
            purchases,
            views,
            by="user_id",
            value_col="ts",
            out_col="view_ts",
            chunk_s=chunk_s,
        )
    # NTZ-safe exact integer microseconds (unix_micros rejects NTZ;
    # timestamp_diff is pure local-datetime arithmetic)
    gap_us = F.timestamp_diff("MICROSECOND", F.col("view_ts"), F.col("ts"))
    attributed = F.col("view_ts").isNotNull() & (gap_us <= window_us)
    attr = enriched.select(
        "ts",
        "value",
        attributed.alias("attributed"),
        gap_us.alias("gap_us"),
    )
    return _attribution_daily_agg(attr)


def _attribution_daily_agg(attr: DataFrame) -> DataFrame:
    """Shared daily rollup of the (ts, value, attributed, gap_us)
    attribution relation — one definition for the batch form, the
    chunked twin, and the streaming twin, so the three queries cannot
    drift in their aggregate semantics."""
    return attr.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_purchases"),
        F.count_if("attributed").alias("n_attributed"),
        qround(
            F.coalesce(F.sum(F.when(F.col("attributed"), F.col("value"))), F.lit(0.0)),
            6,
        ).alias("attributed_value"),
        qround(
            F.coalesce(F.sum(F.when(~F.col("attributed"), F.col("value"))), F.lit(0.0)),
            6,
        ).alias("direct_value"),
        qround(
            F.sum(F.when(F.col("attributed"), F.col("gap_us"))).cast("double")
            / F.nullif(F.count_if("attributed"), F.lit(0))
            / F.lit(1_000_000.0),
            6,
        ).alias("avg_gap_s"),
    )


# r13 rotation: registration merged into the variant-tagged
# "events_attribution_last_touch" row below (variant "chunked").
def events_attribution_last_touch_chunked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-task last-touch attribution — the scale twin of
    events_attribution_last_touch (IDENTICAL output and oracle,
    shared verbatim — the window-twin convention), composing
    operators/asof.py::asof_join_chunked: the plain as-of operator
    was the last per-key unbounded window sort without a twin
    (VERDICT r10 'what's wrong' #3), and the r10 rolling-twin
    measurement shows this straggler class bites from ~2M rows per
    key.  Fifth carry class: the previous chunk's last right-side
    struct — one tiny per-(user, day-chunk) relation plus an
    exclusive ignorenulls prefix, so no task sorts more than one
    user-day of events.  Crossover measured in PERF.md, "The as-of
    join gains its bounded-task twin"; switch signal = the skew audit's
    skew_ratio, as for every twin."""
    return last_touch_attribution(
        table(spark, sf_dir, "events"), ATTRIB_WINDOW_US, chunk_s=86_400
    )


# r13 rotation: registration merged into the variant-tagged
# "events_attribution_last_touch" row below (variant "streaming").
def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-touch attribution — the L6 completion of the
    r10-born attribution family (r10 VERDICT #8 option a), third
    driver-oracled streaming query (after the quantile-sketch and
    user-CMS paths) and the first driving a stream-stream join into
    the driver correctness gate:

        events readStream → purchase×view interval join (both sides
        watermarked, state bounded by the horizon, APPEND mode — the
        only mode stream-stream joins run in) → exactly-once batch_id
        sink of the pair relation → batch read-back: max-collapse
        v_ts per purchase, LEFT join from the batch purchases
        (direct = no in-lookback view), the SAME daily rollup the
        batch form uses (_attribution_daily_agg)

    The oracle is the batch attribution's INDEPENDENT quadratic-argmax
    SQL verbatim, so the driver hash certifies the full streaming path
    — join state, watermark eviction, exactly-once sink — against an
    algorithm that shares nothing with it.  Lookback-restriction
    correctness and the why-not-stream-side-max mode note live at
    streaming/joins.py::attribution_view_pairs_stream.

    100 TB shape: join state lives inside the watermark horizon
    partitioned by the user equi-key; the sink stores the
    duplicate-bounded pair relation (≤ in-lookback views per
    purchase); the read-back aggregates only the sink store and the
    purchases slice, never re-scans views."""
    from ..functions.scratch import scratch_dir

    from ..streaming.joins import attribution_view_pairs_stream
    from ..streaming.sinks import read_batched, write_stream_exactly_once
    from ..streaming.windows import read_events_stream
    from .sketch import STREAM_STATE_PARTITIONS

    workdir = scratch_dir("stream_attrib_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        stream = attribution_view_pairs_stream(
            read_events_stream(spark, sf_dir),
            lookback="7 days",
            watermark="8 days",
        )
        q = write_stream_exactly_once(
            stream, f"{workdir}/store", f"{workdir}/ck", output_mode="append"
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    last_view = (
        read_batched(spark, f"{workdir}/store")
        .groupBy("purchase_id")
        .agg(F.max("v_ts").alias("view_ts"))
    )
    purchases = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "ts", "value")
    )
    enriched = purchases.join(last_view, "purchase_id", "left")
    gap_us = F.timestamp_diff("MICROSECOND", F.col("view_ts"), F.col("ts"))
    attr = enriched.select(
        "ts",
        "value",
        F.col("view_ts").isNotNull().alias("attributed"),
        gap_us.alias("gap_us"),
    )
    return _attribution_daily_agg(attr)


@register(
    "events_attribution_last_touch",
    oracle=f"""
SELECT 'plain' AS variant, * FROM ({ATTRIBUTION_SQL}) _v_plain
UNION ALL
SELECT 'chunked' AS variant, * FROM ({ATTRIBUTION_SQL}) _v_chunked
UNION ALL
SELECT 'streaming' AS variant, * FROM ({ATTRIBUTION_SQL}) _v_streaming
""",
)
def events_attribution_last_touch_merged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merged attribution-family row (r13 rotation): the batch as-of
    plan, its ghost-carry bounded-task twin, and the STREAMING
    stream-stream-join form as tagged variants on one (variant, day,
    n_purchases, n_attributed, attributed_value, direct_value,
    avg_gap_s) relation — all three members driver-green by r12
    (plain r11; chunked + streaming r12), so one variant-tagged slot
    certifies all three plans forever (the orders_rolling_7d_revenue
    precedent; the shared ATTRIBUTION_SQL oracle — an INDEPENDENT
    quadratic-argmax algorithm — replays once per tag).  Gap sums run
    in exact int64 microseconds, so every variant is bit-stable
    against the oracle with no rounding caveat beyond the shared
    6-dp output quantization.

    Scale shape per member unchanged: plain = one user shuffle +
    linear carry (operators/asof.py); chunked = per-(user, day-chunk)
    task bound (asof_join_chunked, crossover in PERF.md's as-of twin
    section); streaming = watermark-bounded
    stream-stream join through the exactly-once batch_id sink
    (streaming/joins.py)."""
    cols = [
        "day",
        "n_purchases",
        "n_attributed",
        "attributed_value",
        "direct_value",
        "avg_gap_s",
    ]
    plain = events_attribution_last_touch(spark, sf_dir).select(
        F.lit("plain").alias("variant"), *cols
    )
    chunked = events_attribution_last_touch_chunked(spark, sf_dir).select(
        F.lit("chunked").alias("variant"), *cols
    )
    streaming = events_stream_attribution(spark, sf_dir).select(
        F.lit("streaming").alias("variant"), *cols
    )
    return plain.unionByName(chunked).unionByName(streaming)


# --- bounded-task twin of the time-RANGE rolling window (r10) ----------------
#: chunk width for the rolling twin — must be >= the frame span (the
#: ghost construction below replicates at most one chunk back); 4x the
#: span keeps the replication overhead at ~span/chunk = 25% worst case
ROLLING_CHUNK_S = 4 * ROLLING_SPAN_S


# r12 rotation: registration merged into the variant-tagged
# "orders_rolling_7d_revenue" row below (variant "chunked") — library
# API, feeds the merged chunked slice and the ghost-boundary pytests.
def orders_rolling_7d_revenue_chunked(
    spark: SparkSession, sf_dir: str, chunk_s: int = ROLLING_CHUNK_S
) -> DataFrame:
    """Bounded-task twin of orders_rolling_7d_revenue — FOURTH member
    of the chunked window-twin family, and a new carry class: sessions
    carry a FLAG, running revenue carries a SUM, lag carries ONE ROW;
    a trailing-RANGE frame's boundary state is the previous chunk's
    TAIL, so this twin carries GHOST REPLICAS: every row within
    ``span`` of its chunk's end is replicated into the next chunk
    (ghost-tagged), the RANGE window then runs entirely WITHIN
    (custkey, chunk) — task size bounded by one customer-month, never
    a customer's whole history — and ghosts are dropped from the
    output.

    Exactness: with ``chunk_s >= span``, a row's trailing frame can
    only reach into the immediately previous chunk, and the ghost
    predicate ``epoch >= next_chunk_start - span`` admits exactly the
    rows any next-chunk frame could need (boundary row at
    ``ts - span == prev_chunk_start`` included — pinned by pytest).
    DECIMAL money addition keeps every frame sum bit-equal to the
    plain form's regardless of evaluation order, so this twin SHARES
    the plain query's oracle verbatim (the events_sessions_chunked
    precedent).  Switch signal: events_key_skew_audit's skew_ratio ≫
    n_partitions, as for the other twins."""
    return rolling_span_revenue_chunked(
        table(spark, sf_dir, "orders"), ROLLING_SPAN_S, chunk_s
    )


def rolling_span_revenue_chunked(
    o: DataFrame, span_s: int, chunk_s: int
) -> DataFrame:
    """Library form of orders_rolling_7d_revenue_chunked (planted
    ghost-boundary tests feed synthetic order tables and narrow
    chunks)."""
    if chunk_s < span_s:
        raise ValueError(
            f"chunk_s ({chunk_s}) must be >= the frame span "
            f"({span_s}) — ghosts only reach one chunk back"
        )
    from pyspark.sql import Window

    epoch_s = _epoch_seconds_ntz(F.col("o_orderdate"))
    base = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        epoch_s.alias("_epoch"),
    ).withColumn("_chunk", F.floor(F.col("_epoch") / F.lit(chunk_s)))
    # ghost replica into the NEXT chunk for rows a next-chunk trailing
    # frame could reach: epoch >= next_chunk_start - span (inclusive)
    is_tail = F.col("_epoch") >= (F.col("_chunk") + 1) * chunk_s - span_s
    replicas = F.when(
        is_tail,
        F.array(
            F.struct(F.col("_chunk").alias("c"), F.lit(0).alias("g")),
            F.struct((F.col("_chunk") + 1).alias("c"), F.lit(1).alias("g")),
        ),
    ).otherwise(
        F.array(F.struct(F.col("_chunk").alias("c"), F.lit(0).alias("g")))
    )
    exploded = base.select(
        "custkey",
        "orderkey",
        "order_date",
        "price",
        "_epoch",
        F.explode(replicas).alias("_r"),
    ).select(
        "custkey",
        "orderkey",
        "order_date",
        "price",
        "_epoch",
        F.col("_r.c").alias("_chunk_eff"),
        F.col("_r.g").alias("_ghost"),
    )
    w = (
        Window.partitionBy("custkey", "_chunk_eff")
        .orderBy("_epoch")
        .rangeBetween(-span_s, 0)
    )
    return (
        exploded.withColumn("_rev", F.sum("price").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .where(F.col("_ghost") == 0)
        .select(
            "custkey",
            "orderkey",
            "order_date",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue_7d"),
            F.col("_n").alias("n_orders_7d"),
        )
    )


@register(
    "orders_rolling_7d_revenue",
    oracle=f"""
SELECT 'plain' AS variant, * FROM ({ROLLING_7D_REVENUE_SQL}) _v_plain
UNION ALL
SELECT 'chunked' AS variant, * FROM ({ROLLING_7D_REVENUE_SQL}) _v_chunked
""",
)
def orders_rolling_7d_revenue_merged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merged window-twin row (r12 rotation): the time-RANGE rolling
    frame and its ghost-replica bounded-task twin as tagged variants on
    one (variant, custkey, orderkey, order_date, revenue_7d,
    n_orders_7d) relation — both members driver-green r11, so one
    variant-tagged slot certifies both plans (the
    customer_running_revenue precedent; the shared
    ROLLING_7D_REVENUE_SQL oracle replays once per tag).  DECIMAL money
    addition makes the two frame compositions bit-equal regardless of
    evaluation order, so any divergence flips the value hash with no
    rounding caveat.

    Scale shape: per member unchanged — the chunked twin replicates
    each chunk's span-tail as ghost rows into the next chunk and runs
    the RANGE frame within (custkey, chunk), task size bounded by one
    customer-chunk, never a customer's whole history (crossover
    measured in PERF.md, "GHOST REPLICAS")."""
    cols = ["custkey", "orderkey", "order_date", "revenue_7d", "n_orders_7d"]
    plain = orders_rolling_7d_revenue(spark, sf_dir).select(
        F.lit("plain").alias("variant"), *cols
    )
    chunked = orders_rolling_7d_revenue_chunked(spark, sf_dir).select(
        F.lit("chunked").alias("variant"), *cols
    )
    return plain.unionByName(chunked)


# --- self-driving twin switch (r12) -------------------------------------------
from ..operators.twin_switch import (  # noqa: E402 — after the twins it dispatches
    CARRY_CLASS_CROSSOVER_ROWS,
    hot_key_rows_of,
    windowed_form,
)

#: the range_frame crossover, spliced into BOTH engines' decision so
#: the oracle re-derives the dispatch instead of trusting Spark's
_RANGE_XOVER = CARRY_CLASS_CROSSOVER_ROWS["range_frame"]


@register(
    "orders_rolling_7d_revenue_auto",
    oracle=f"""
WITH hot AS (
  SELECT CAST(max(c) AS BIGINT) AS hot_key_rows FROM (
    SELECT count(*) AS c FROM orders
    WHERE o_custkey IS NOT NULL GROUP BY o_custkey
  )
)
SELECT CASE WHEN hot.hot_key_rows >= {_RANGE_XOVER}
            THEN 'chunked' ELSE 'plain' END AS form,
       hot.hot_key_rows, r.*
FROM ({ROLLING_7D_REVENUE_SQL}) r CROSS JOIN hot
""",
)
def orders_rolling_7d_revenue_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SELF-DRIVING window-twin dispatch (r11 VERDICT #3): instead of
    a user hand-reading the skew audit and calling the plain or
    chunked form, this row audits the window's partition key at plan
    time (one count-per-key aggregate, :func:`hot_key_rows_of`) and
    dispatches through the measured five-class crossover table
    (``operators/twin_switch.py``) — the 100 TB recipe, executed by
    the plan itself.  Output carries the decision as data: ``form``
    (which plan ran) and ``hot_key_rows`` (the audit value), and the
    ORACLE RE-DERIVES BOTH — the crossover constant is spliced into
    its CASE expression — so the value hash certifies the dispatch
    decision against an independent computation, not just the window
    arithmetic.  Either branch emits the identical relation (the twin
    contract, driver-certified by the merged variant row), so the row
    stays green whichever side of the threshold the data lands on."""
    o = table(spark, sf_dir, "orders")
    hot = hot_key_rows_of(o, "o_custkey")
    df, form = windowed_form(
        lambda: rolling_span_revenue(o, ROLLING_SPAN_S),
        lambda: rolling_span_revenue_chunked(
            o, ROLLING_SPAN_S, ROLLING_CHUNK_S
        ),
        "range_frame",
        hot,
    )
    return df.select(
        F.lit(form).alias("form"),
        F.lit(hot).cast("bigint").alias("hot_key_rows"),
        "custkey",
        "orderkey",
        "order_date",
        "revenue_7d",
        "n_orders_7d",
    )
