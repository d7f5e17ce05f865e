"""Relational operator battery over the star schema (SURVEY §2.2-2.7).

Each query exercises a family from the operator inventory — scans with
pushdown, equality/range filters, inner/semi/anti joins, hash
aggregation, rollup/pivot, SQL window functions, time bucketing,
sessionization, JSON extraction, set ops — expressed declaratively so
Catalyst plans them (broadcast-hash for dims, partial aggregation,
filter pushdown to parquet).  Reference parity notes cite
/root/reference files; most of these generalize reference driver-side
loops into their relational form (SURVEY §2 "Spark mapping" column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import qround

from ..sources.readers import table
from .registry import register

R6 = 6  # float output rounding (both engines) for stable hashing


# --- TPC-H-style aggregation: filters (P3) + group agg (A1/A10) ------------
@register(
    "q1_pricing_summary",
    bench=True,
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 1000000.0 + 0.5) / 1000000.0                                        AS sum_qty,
       floor((sum(l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0                                   AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 1000000.0 + 0.5) / 1000000.0                AS sum_disc_price,
       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 1000000.0 + 0.5) / 1000000.0  AS sum_charge,
       floor((avg(l_quantity)) * 1000000.0 + 0.5) / 1000000.0                                        AS avg_qty,
       floor((avg(l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0                                   AS avg_price,
       floor((avg(l_discount)) * 1000000.0 + 0.5) / 1000000.0                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: range filter pushed to parquet + 8-agg group-by.

    The scan should show PushedFilters on l_shipdate and a ReadSchema of
    only the 7 referenced columns; Catalyst does map-side partial
    aggregation — at 100 TB this is a single shuffle of ~6 groups.
    """
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qround(F.sum("l_quantity"), R6).alias("sum_qty"),
            qround(F.sum("l_extendedprice"), R6).alias("sum_base_price"),
            qround(F.sum(disc_price), R6).alias("sum_disc_price"),
            qround(F.sum(disc_price * (1 + F.col("l_tax"))), R6).alias("sum_charge"),
            qround(F.avg("l_quantity"), R6).alias("avg_qty"),
            qround(F.avg("l_extendedprice"), R6).alias("avg_price"),
            qround(F.avg("l_discount"), R6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- 3-table join + top-k (J1 + T3) ----------------------------------------
@register(
    "q3_top_revenue_orders",
    bench=True,
    oracle="""
WITH rev AS (
  SELECT l.l_orderkey,
         floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 1000000.0 + 0.5) / 1000000.0 AS revenue,
         o.o_orderdate
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '2000-01-01'
    AND l.l_shipdate > TIMESTAMP '2000-01-01'
  GROUP BY l.l_orderkey, o.o_orderdate
)
SELECT l_orderkey, revenue, o_orderdate
FROM rev
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority style: selective dim filter, 3-way join, top-10.

    customer is the small side → broadcast; revenue is rounded BEFORE
    the global sort so the limit boundary is stable cross-engine.
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --- 6-table snowflake join (J1-J3) ----------------------------------------
@register(
    "q5_region_revenue",
    bench=True,
    oracle="""
SELECT n.n_name,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 1000000.0 + 0.5) / 1000000.0 AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue per nation: the join-ordering stress test.

    All four dimension tables broadcast; only orders ⋈ lineitem is a
    fact-fact shuffle join.  The reference *disables* broadcast joins
    globally (Main.scala:340-342) — this query is the counter-argument.
    """
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            qround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R6
            ).alias("revenue")
        )
    )


# --- correlated-subquery shapes: decorrelation patterns (r11) ---------------
# TPC-H q17/q22 are THE textbook correlated-subquery classes — a
# per-group scalar threshold (q17) and a global-scalar + NOT EXISTS
# (q22).  The oracles keep the CORRELATED form verbatim (DuckDB's
# binder decorrelates internally) while the Spark plans are the
# hand-decorrelated joins — independent algorithms, one value hash
# (the events_attribution_last_touch evidence pattern).  Both
# threshold comparisons run in PURE INTEGER arithmetic (the
# corpus_pps_sample discipline): quantities are integer-valued and
# acctbal is cent-quantized, so `5*qty*cnt < sum_qty` and
# `cents*n > sum_cents` are exact and association-free in BOTH
# engines — a float `avg()` threshold would sit one ulp from flipping
# a boundary row under a different partial-agg association.

#: q17's brand scope (the reference TPC-H parameter is one brand;
#: Brand#13 is the most-populated brand in the shipped part table)
Q17_BRAND = "Brand#13"


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       floor((sum(l_extendedprice) / 7.0) * 1000000.0 + 0.5) / 1000000.0
         AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = '{Q17_BRAND}'
  AND l.l_quantity * 5 *
        (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(l_quantity) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 (small-quantity-order revenue): average yearly
    revenue lost if small orders — quantity below 20% of the part's
    average — were no longer filled, over one brand's parts.  The
    classic CORRELATED SCALAR SUBQUERY; the oracle keeps it
    correlated, this plan hand-decorrelates: one per-part (count,
    sum_qty) aggregate over the brand-restricted lineitems, joined
    back, with the 0.2·avg comparison rewritten to the exact integer
    form ``5·qty·cnt < sum_qty`` (quantities are integer-valued
    doubles — no float-division boundary to flip cross-engine).

    Scale shape: the brand's parts are a broadcast (|parts|/|brands|
    rows); lineitem is semi-joined down to the brand FIRST, so the
    per-part aggregate and the threshold join shuffle only the brand's
    lineitems (~1/25 of the fact table), grouped on l_partkey — at
    100 TB this is one bounded-key shuffle, no correlated per-row
    subplan execution (the decorrelation IS the optimization)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_brand") == Q17_BRAND)
    brand_lines = l.join(
        F.broadcast(p.select("p_partkey")),
        l.l_partkey == F.col("p_partkey"),
    ).drop("p_partkey")
    stats = brand_lines.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.count("*").alias("_cnt"), F.sum("l_quantity").alias("_sum_qty")
    )
    return (
        brand_lines.join(stats, brand_lines.l_partkey == stats._pk)
        .where(F.col("l_quantity") * 5 * F.col("_cnt") < F.col("_sum_qty"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            qround(F.sum("l_extendedprice") / 7.0, R6).alias("avg_yearly"),
        )
    )


#: q22's dormancy horizon: a customer is dormant if they placed no
#: order at-or-after this date (every shipped customer has SOME order,
#: so plain NOT EXISTS over all orders is vacuous on this corpus)
Q22_DORMANT_SINCE = "2000-01-01"


@register(
    "q22_dormant_high_value",
    oracle=f"""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       floor((sum(c_acctbal)) * 1000000.0 + 0.5) / 1000000.0 AS total_acctbal
FROM customer c
WHERE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) *
        (SELECT count(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
         FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '{Q22_DORMANT_SINCE}')
GROUP BY 1
""",
)
def q22_dormant_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 (global-average threshold + NOT EXISTS): per market
    segment, the count and total balance of ABOVE-AVERAGE-balance
    customers with no order since {Q22_DORMANT_SINCE} — the sales
    opportunity sitting in dormant high-value accounts.  The oracle
    keeps both correlated forms (scalar subquery + NOT EXISTS); this
    plan decorrelates to a broadcast 1-row threshold crossJoin + a
    LEFT ANTI join on the date-filtered orders.  The
    above-average test runs in exact integer CENTS
    (``cents·n > sum_cents`` — acctbal is cent-quantized, so the sum
    is an exact BIGINT and no float-avg association can flip a
    boundary customer cross-engine).

    Scale shape: the threshold relation is ONE row (broadcast); the
    anti-join shuffles on o_custkey with the date filter pushed to the
    orders scan; output is |segments| rows."""
    c = table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    pos = c.where(F.col("c_acctbal") > 0)
    thr = pos.agg(
        F.count("*").alias("_n_pos"),
        F.sum(cents).alias("_sum_cents"),
    )
    recent = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(Q22_DORMANT_SINCE).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(cents * F.col("_n_pos") > F.col("_sum_cents"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            qround(F.sum("c_acctbal"), R6).alias("total_acctbal"),
        )
    )


# --- SQL window functions: per-group top-k (T2/T3 relational form) ---------
@register(
    "top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the window-rank top-k primitive that
    replaces every driver-side sortWith/take in the reference
    (SURVEY §2.6 T2/T3)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# --- semi + anti joins (E1/J5) ---------------------------------------------
@register(
    "customer_semi_anti_joins",
    oracle="""
SELECT 'no_orders_since_1998' AS set_name, c_custkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1998-01-01')
UNION ALL
SELECT 'building_with_orders' AS set_name, c_custkey
FROM customer c
WHERE c.c_mktsegment = 'BUILDING'
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def customer_semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti + left-semi joins in one tagged union (merged from the
    former customers_without_orders + building_customers_with_orders
    registry entries).

    Anti: the relational form of the reference's 'unrated items'
    driver scans (BaseRecommender.scala:64-71).  Bounded to 'no orders
    since 1998' because every customer in the synthetic corpus has at
    least one order ever — the unbounded anti-join returns 0 rows,
    which is vacuous oracle evidence; the date filter is pushed below
    the anti-join (filter-then-anti beats anti-then-filter: the build
    side shrinks before the shuffle).

    Semi: the 'rated candidates' split (SURVEY J5)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    recent = o.where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    anti = (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .select(F.lit("no_orders_since_1998").alias("set_name"), "c_custkey")
    )
    building = c.where(F.col("c_mktsegment") == "BUILDING")
    semi = (
        building.join(o, building.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("building_with_orders").alias("set_name"), "c_custkey")
    )
    return anti.unionByName(semi)


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone anti-join view (library form; registered as the
    anti branch of customer_semi_anti_joins)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def building_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone semi-join view (library form; registered as the semi
    branch of customer_semi_anti_joins)."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


# --- rollup (§2.4 extension) ----------------------------------------------
@register(
    "sales_rollup",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows,
       floor((sum(l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0 AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — free in Catalyst, absent in the
    reference (SURVEY §2.4 'not present').  Promoted into the round-4
    driver window (rotation) so ROLLUP earns its own driver row
    alongside sales_cube's grouping-set family."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            qround(F.sum("l_extendedprice"), R6).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_price",
        )
    )


# --- pivot -----------------------------------------------------------------
@register(
    "order_priority_pivot",
    oracle="""
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS low
FROM orders
GROUP BY o_orderstatus
""",
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at 100 TB — pass them)."""
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    return pivoted.select(
        "o_orderstatus",
        F.coalesce("1-URGENT", F.lit(0)).alias("urgent"),
        F.coalesce("2-HIGH", F.lit(0)).alias("high"),
        F.coalesce("3-MEDIUM", F.lit(0)).alias("medium"),
        F.coalesce("4-NOT SPECIFIED", F.lit(0)).alias("not_specified"),
        F.coalesce("5-LOW", F.lit(0)).alias("low"),
    )


# --- time bucketing (W1/W2) ------------------------------------------------
@register(
    "events_daily",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       event_type,
       count(*) AS n_events,
       floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window over events — the reference's period
    bucketing (SequentialTopKRecommender.scala:314-319) in its native
    Spark form; identical code works under readStream."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            qround(F.sum("value"), R6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --- JSON extraction (L5) --------------------------------------------------
@register(
    # rotation r5: driver-green r1-r4; slot freed for never-checked queries
    "events_json_props",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props column (SURVEY L5)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


#: chunk width for the bounded-task window twins (1 day): the
#: per-task row bound becomes events-per-user-per-DAY instead of the
#: user's whole history — pick from the skew audit when a corpus has
#: hotter-than-daily users
SESSION_CHUNK_S = 86_400


# --- lag / event gaps (as-of building block) -------------------------------
#: shared by events_prev_gap and its bounded-task scale twin (the
#: window-twin oracle-sharing pattern, third member)
EVENTS_PREV_GAP_SQL = """
SELECT event_id, user_id,
       CAST(date_diff('second',
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
            ts) AS BIGINT) AS gap_s
FROM events
"""


# r11 rotation: registration merged into the variant-tagged
# "events_prev_gap" row below (the baseline_topk precedent) — the
# function stays library API and feeds the merged row's plain slice.
def events_prev_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seconds since the user's previous event — lag() window, the
    building block for as-of joins and sessionization (SURVEY §2.3
    'not present in reference').  Promoted into the round-4 driver
    window (rotation); events_sessions composes this exact lag+diff
    expression."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp_diff is pure local-datetime arithmetic — unlike
    # unix_timestamp / cast("long") it neither depends on the session
    # timezone nor is rejected for TIMESTAMP_NTZ inputs (Spark 4
    # disallows NTZ→BIGINT casts).  date_trunc first: SQL engines count
    # second-BOUNDARY crossings (x.9→y.1 is 1 s), timestamp_diff counts
    # full elapsed seconds — truncation reconciles the two.
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", F.lag("ts").over(w)),
        F.date_trunc("second", F.col("ts")),
    )
    return e.select("event_id", "user_id", gap.alias("gap_s"))


# r11 rotation: registration merged into "events_prev_gap" (variant
# "chunked") — library API, feeds the merged row's chunked slice.
def events_prev_gap_chunked(
    spark: SparkSession, sf_dir: str, chunk_s: int = SESSION_CHUNK_S
) -> DataFrame:
    """Bounded-task lag — third member of the chunked window-twin
    family (sessions count a flag, running revenue carries a SUM,
    lag carries ONE ROW): lag within (user, day-chunk), and the first
    row of each chunk takes its predecessor from the previous PRESENT
    chunk's last (ts, event_id) summary — a tiny per-(user, chunk)
    relation, so no task ever sorts more than one user-day.  The
    chunk is monotone in the (ts, event_id) window order and
    same-second ties share a chunk by construction, so the carried
    row is exactly the global predecessor; a user's first chunk
    carries NULL, matching the plain form's first-event NULL gap.
    Identical output and oracle to events_prev_gap; the switch signal
    is the skew audit, as for the other twins."""
    e = table(spark, sf_dir, "events").withColumn(
        "_chunk",
        F.floor(
            F.unix_timestamp(F.date_trunc("second", F.col("ts")))
            / F.lit(chunk_s)
        ),
    )
    w_in = Window.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    prev_in = F.lag("ts").over(w_in)
    last_per_chunk = e.groupBy("user_id", "_chunk").agg(
        F.max(F.struct("ts", "event_id")).alias("_last")
    )
    cw = Window.partitionBy("user_id").orderBy("_chunk")
    carry = last_per_chunk.select(
        "user_id",
        "_chunk",
        F.lag(F.col("_last.ts")).over(cw).alias("_carry_ts"),
    )
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", F.coalesce(prev_in, F.col("_carry_ts"))),
        F.date_trunc("second", F.col("ts")),
    )
    return (
        e.join(carry, ["user_id", "_chunk"])
        .select("event_id", "user_id", gap.alias("gap_s"))
    )


@register(
    "events_prev_gap",
    oracle=f"""
SELECT 'plain' AS variant, * FROM ({EVENTS_PREV_GAP_SQL}) _v_plain
UNION ALL
SELECT 'chunked' AS variant, * FROM ({EVENTS_PREV_GAP_SQL}) _v_chunked
""",
)
def events_prev_gap_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged window-twin row (r11 rotation): the plain lag query and
    its bounded-task chunked twin as tagged variants on one
    (variant, event_id, user_id, gap_s) relation — both members
    earned first driver rows (plain r9, chunked r10), so one
    variant-tagged slot certifies BOTH plans forever (the
    baseline_topk precedent; the shared oracle replays once per tag).
    A divergence between the plain window and the chunked
    carry-forward composition flips the merged row's value hash.

    Scale shape: per member unchanged — plain is the one-shuffle
    per-user window, chunked bounds every task at one user-day (the
    hot-key straggler answer, measured in PERF.md, "Sessionization
    hot-user straggler")."""
    cols = ["event_id", "user_id", "gap_s"]
    plain = events_prev_gap(spark, sf_dir).select(
        F.lit("plain").alias("variant"), *cols
    )
    chunked = events_prev_gap_chunked(spark, sf_dir).select(
        F.lit("chunked").alias("variant"), *cols
    )
    return plain.unionByName(chunked)


@register(
    # promoted r5: registered for its first driver correctness row
    "events_purchase_view_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(date_diff('second', date_trunc('second', v.ts),
                      date_trunc('second', p.ts)) AS BIGINT) AS gap_s
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
""",
)
def events_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: each purchase with the same user's views
    from the preceding hour (the attribution join; SURVEY §2.3 'not
    present in reference').  The SAME expression runs as a
    stream-stream join — streaming/joins.py::purchase_view_join_stream
    is this plan over readStream (withWatermark is a batch no-op), so
    stream/batch parity is a property of the plan, not two
    implementations.  Catalyst plans the equi-key (user_id) hash join
    with the time range as a join filter — no cartesian product."""
    from ..streaming.joins import purchase_view_join_stream

    return purchase_view_join_stream(table(spark, sf_dir, "events"))


# --- sessionization --------------------------------------------------------
#: shared by events_sessions AND its bounded-task scale twin
#: events_sessions_chunked — identical output grain and semantics, so
#: ONE oracle certifies both plans (the events_value_normalized_sketch
#: compile-time-sharing precedent)
SESSIONS_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
)
SELECT user_id,
       CAST(sum(is_new) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM gaps
GROUP BY user_id
"""


# r11 rotation: registration merged into the variant-tagged
# "events_sessions" row below — library API, feeds the plain slice.
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap): lag + flag + sum — the batch
    twin of streaming session_window (streaming/windows.py)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # timestamp_diff over second-truncated values: tz-independent,
    # NTZ-safe, boundary-crossing semantics (see events_prev_gap)
    gap = F.timestamp_diff(
        "SECOND", F.date_trunc("second", prev), F.date_trunc("second", F.col("ts"))
    )
    is_new = F.when(prev.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# r11 rotation: registration merged into "events_sessions" (variant
# "chunked") — library API, feeds the merged row's chunked slice.
def events_sessions_chunked(
    spark: SparkSession, sf_dir: str, chunk_s: int = SESSION_CHUNK_S
) -> DataFrame:
    """Bounded-task sessionization — the 100 TB scale twin of
    events_sessions (IDENTICAL output and oracle): the plain form's
    ``Window.partitionBy(user_id)`` sorts a user's WHOLE timeline in
    one task, so a single bot user with 10⁸ events becomes an
    hours-long straggler (measured 1.73× on 5M rows with one 2M-event
    user — PERF.md, "Sessionization hot-user straggler";
    events_key_skew_audit's
    skew_ratio ≫ n_partitions is the tell to switch to this twin).

    Two-phase shape: (1) sessionize WITHIN (user, time-chunk) — the
    window task is now bounded by events-per-user-per-chunk; (2) one
    tiny per-user pass over the |chunks|-per-user summary rows merges
    sessions that span a chunk boundary (the next present chunk's
    first event within the gap of this chunk's last event — a session
    spanning k boundaries is counted k+1 times by phase 1 and each
    boundary merge subtracts exactly one, so multi-chunk sessions
    count once).  Same 1800 s gap rule, same (ts, event_id) tie
    order, same timestamp_diff-over-date_trunc('second') arithmetic
    as the plain form."""
    e = table(spark, sf_dir, "events").withColumn(
        "_chunk",
        F.floor(
            F.unix_timestamp(F.date_trunc("second", F.col("ts")))
            / F.lit(chunk_s)
        ),
    )
    w = Window.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev),
        F.date_trunc("second", F.col("ts")),
    )
    is_new = F.when(prev.isNull() | (gap > 1800), 1).otherwise(0)
    per_chunk = (
        e.withColumn("_is_new", is_new)
        .groupBy("user_id", "_chunk")
        .agg(
            F.sum("_is_new").alias("n_sess"),
            F.count("*").alias("n_ev"),
            F.min(F.struct("ts", "event_id")).alias("_first"),
            F.max(F.struct("ts", "event_id")).alias("_last"),
        )
    )
    # phase 2: one row per (user, present chunk) — tiny; merge a
    # boundary iff the gap from the previous present chunk's last
    # event to this chunk's first event is within the session gap
    uw = Window.partitionBy("user_id").orderBy("_chunk")
    prev_last = F.lag(F.col("_last.ts")).over(uw)
    boundary_gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev_last),
        F.date_trunc("second", F.col("_first.ts")),
    )
    merged = F.when(
        prev_last.isNotNull() & (boundary_gap <= 1800), 1
    ).otherwise(0)
    return (
        per_chunk.withColumn("_merged", merged)
        .groupBy("user_id")
        .agg(
            (F.sum("n_sess") - F.sum("_merged")).alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
        )
    )


@register(
    "events_sessions",
    oracle=f"""
SELECT 'plain' AS variant, * FROM ({SESSIONS_SQL}) _v_plain
UNION ALL
SELECT 'chunked' AS variant, * FROM ({SESSIONS_SQL}) _v_chunked
""",
)
def events_sessions_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged window-twin row (r11 rotation): plain sessionization and
    its bounded-task chunked twin as tagged variants on one
    (variant, user_id, n_sessions, n_events) relation — both members
    driver-green (plain r9, chunked r10), so one variant-tagged slot
    certifies both plans (the baseline_topk precedent; the shared
    SESSIONS_SQL oracle replays once per tag).  A divergence between
    the one-task-per-user window and the two-phase boundary-merge
    composition flips the value hash.

    Scale shape: per member unchanged — chunked bounds every window
    task at one user-day and merges boundary-spanning sessions on the
    tiny per-chunk summary relation (1.73× measured on a 2M-event hot
    user, PERF.md "Sessionization hot-user straggler")."""
    cols = ["user_id", "n_sessions", "n_events"]
    plain = events_sessions(spark, sf_dir).select(
        F.lit("plain").alias("variant"), *cols
    )
    chunked = events_sessions_chunked(spark, sf_dir).select(
        F.lit("chunked").alias("variant"), *cols
    )
    return plain.unionByName(chunked)


# --- exact median / quantiles ---------------------------------------------
@register(
    "part_price_median_by_brand",
    oracle="""
SELECT p_brand,
       floor((quantile_cont(p_retailprice, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS median_price,
       floor((quantile_cont(p_retailprice, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90_price,
       count(*) AS n_parts
FROM part
GROUP BY p_brand
""",
)
def part_price_median_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group.  At 100 TB swap
    percentile() for percentile_approx() — same plan shape, bounded
    memory; the oracle pins the exact variant."""
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        qround(F.percentile("p_retailprice", F.lit(0.5)), R6).alias("median_price"),
        qround(F.percentile("p_retailprice", F.lit(0.9)), R6).alias("p90_price"),
        F.count("*").alias("n_parts"),
    )


# --- set operations (E1-E5) ------------------------------------------------
@register(
    "order_customer_set_ops",
    oracle="""
SELECT 'with_orders_no_f' AS set_name, count(*) AS n FROM (
  SELECT DISTINCT o_custkey FROM orders
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT 'f_and_o' AS set_name, count(*) AS n FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
""",
)
def order_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-level EXCEPT/INTERSECT (SURVEY §2.7 — built-ins the
    reference only had as driver-side Scala set ops)."""
    o = table(spark, sf_dir, "orders")
    all_c = o.select("o_custkey").distinct()
    f_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    # global agg (not groupBy) so an empty set still yields one 0-count row
    no_f = all_c.exceptAll(f_c).agg(F.count("*").alias("n")).select(
        F.lit("with_orders_no_f").alias("set_name"), "n"
    )
    both = f_c.intersect(o_c).agg(F.count("*").alias("n")).select(
        F.lit("f_and_o").alias("set_name"), "n"
    )
    return no_f.unionByName(both)


@register(
    "event_ratings_projection",
    oracle="""
SELECT CAST(user_id AS INTEGER) AS user_id, event_type AS item_id,
       value AS rating, ts
FROM events
""",
)
def event_ratings_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events-as-implicit-feedback interactions frame
    (sources.readers.ratings_from_events) — string item ids, per-event
    grain, the timestamped input shape SequentialTopK consumes.
    Promoted into the round-4 driver window (rotation)."""
    from ..sources.readers import ratings_from_events

    return ratings_from_events(spark, sf_dir)


# --- data-quality audit ----------------------------------------------------
#: the event-type vocabulary the audit validates against
KNOWN_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_KNOWN_SQL = "(" + ", ".join(f"'{t}'" for t in KNOWN_EVENT_TYPES) + ")"


@register(
    "events_dq_audit",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_event_ids,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS dup_event_ids,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_user,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_type,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_value,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_props,
       CAST(sum(CASE WHEN event_type NOT IN {_KNOWN_SQL} THEN 1 ELSE 0 END)
            AS BIGINT) AS unknown_type,
       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS negative_value,
       CAST(sum(CASE WHEN props IS NOT NULL AND props NOT LIKE '{{%'
                     THEN 1 ELSE 0 END) AS BIGINT) AS malformed_props,
       date_trunc('second', min(ts)) AS min_ts,
       date_trunc('second', max(ts)) AS max_ts
FROM events
""",
)
def events_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality audit of the events stream — the
    continuous-validation query a production ingest pipeline runs per
    batch/partition: volume, key uniqueness, null counts per column,
    vocabulary conformance, value-range violations, JSON-shape checks,
    and the covered time span.

    Shape at scale: ONE aggregation over one scan — every check is a
    conditional-sum expression fused into the same partial aggregate,
    so auditing N checks costs the same scan as auditing one.  The two
    count(DISTINCT) make it a two-expand aggregate; Catalyst plans
    them with partial aggregation per distinct column (no extra scan).
    Demoted tier (driver window full); oracle parity via pytest."""
    return dq_audit(table(spark, sf_dir, "events"))


def dq_audit(e: DataFrame) -> DataFrame:
    """The audit aggregate over any events-shaped DataFrame (factored
    out so tests can feed an in-memory frame with injected
    violations — the zero counts on the clean corpus are then proven
    non-vacuous by tests/test_dq.py)."""

    def flag(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return e.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_event_ids"),
        (F.count("*") - F.countDistinct("event_id"))
        .cast("bigint")
        .alias("dup_event_ids"),
        F.countDistinct("user_id").alias("n_users"),
        flag(F.col("ts").isNull()).alias("null_ts"),
        flag(F.col("user_id").isNull()).alias("null_user"),
        flag(F.col("event_type").isNull()).alias("null_type"),
        flag(F.col("value").isNull()).alias("null_value"),
        flag(F.col("props").isNull()).alias("null_props"),
        flag(~F.col("event_type").isin(KNOWN_EVENT_TYPES)).alias(
            "unknown_type"
        ),
        flag(F.col("value") < 0).alias("negative_value"),
        flag(
            F.col("props").isNotNull() & ~F.col("props").startswith("{")
        ).alias("malformed_props"),
        F.date_trunc("second", F.min("ts")).alias("min_ts"),
        F.date_trunc("second", F.max("ts")).alias("max_ts"),
    )


# --- order→ship latency ------------------------------------------------------
@register(
    "order_ship_latency",
    oracle="""
WITH l AS (
  SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS order_month,
         o.o_orderpriority AS priority,
         date_diff('day', date_trunc('day', o.o_orderdate),
                   date_trunc('day', li.l_shipdate)) AS lat
  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
)
SELECT order_month, priority,
       count(*) AS n_lines,
       floor((CAST(sum(lat) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
         / 1000000.0 AS avg_latency_days,
       CAST(max(lat) AS BIGINT) AS max_latency_days,
       CAST(sum(CASE WHEN lat > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_60d
FROM l GROUP BY 1, 2
""",
)
def order_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency profile per (order month, priority): line
    count, mean/max latency in days, and an SLA-breach count (> 60
    days) — the fulfillment-ops rollup of the orders⋈lineitem join.

    Latency is an exact integer day diff (both engines date-truncate
    before differencing — the tz-independent discipline the readers
    establish for the NTZ/nanos encodings); the mean is the one float
    and is computed as SUM(int)/COUNT through the identical double
    expression both sides, 6-dp rounded.  Scale shape: one equi-join
    shuffled on the order key (or broadcast at dimension-sized
    orders), then a low-cardinality (month × priority) aggregate with
    map-side partials."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    lat = F.timestamp_diff(
        "DAY",
        F.date_trunc("DAY", "o_orderdate"),
        F.date_trunc("DAY", "l_shipdate"),
    )
    return (
        j.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            ),
            F.col("o_orderpriority").alias("priority"),
            lat.alias("lat"),
        )
        .groupBy("order_month", "priority")
        .agg(
            F.count("*").alias("n_lines"),
            qround(
                F.sum("lat").cast("double") / F.count("*"), R6
            ).alias("avg_latency_days"),
            F.max("lat").cast("bigint").alias("max_latency_days"),
            F.sum(F.when(F.col("lat") > 60, 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_60d"),
        )
    )


# --- 6-way join: brand market share per region -------------------------------
@register(
    "brand_region_market_share",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, p.p_brand AS brand,
         sum(li.l_extendedprice * (1 - li.l_discount)) AS rev
  FROM lineitem li
  JOIN orders o   ON o.o_orderkey = li.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey
  JOIN part p     ON p.p_partkey = li.l_partkey
  GROUP BY 1, 2
),
tot AS (SELECT region, sum(rev) AS t FROM rev GROUP BY 1)
SELECT rev.region, rev.brand,
       floor(rev.rev * 100.0 + 0.5) / 100.0 AS revenue,
       floor((rev.rev / tot.t) * 1000000.0 + 0.5) / 1000000.0 AS share
FROM rev JOIN tot USING (region)
""",
)
def brand_region_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue share within each customer region — the TPC-H
    q8-flavored JOIN-DEPTH stress: six tables
    (lineitem⋈orders⋈customer⋈nation⋈region⋈part) that Catalyst must
    reorder so the three dimension chains broadcast against the one
    fact scan instead of shuffling lineitem repeatedly; the share is a
    window-free two-level aggregate (revenue grain, then a per-region
    total joined back).

    Rounding: revenue at 2 dp (cents — engine summation order differs
    at ~1e-7 relative on ~600k doubles, sales_cube precedent); share
    computed from the UNROUNDED revenues through the identical double
    division both engines, 6 dp."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("r_name").alias("region"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    tot = rev.groupBy("region").agg(F.sum("rev").alias("t"))
    return rev.join(F.broadcast(tot), "region").select(
        "region",
        "brand",
        qround(F.col("rev"), 2).alias("revenue"),
        qround(F.col("rev") / F.col("t"), 6).alias("share"),
    )


# --- k-anonymity audit (customer-table data-governance family; moved
# from plans/text.py in r7 — file-per-family layout: relational.py
# holds the customer-table governance queries) ------------------------------
#: anonymity threshold: a quasi-identifier group smaller than K_ANON
#: re-identifies its members (Sweeney 2002)
K_ANON = 5

#: account balances bucketed to this width form the third
#: quasi-identifier (raw near-unique values would make every group
#: size 1 and the audit vacuous — bucketing is itself the standard
#: generalization step of k-anonymization)
ACCTBAL_BUCKET = 2000.0


@register(
    "customer_k_anonymity",
    oracle=f"""
WITH q AS (
  SELECT c_nationkey AS nation_key, c_mktsegment AS segment,
         CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_bucket
  FROM customer
),
g AS (
  SELECT nation_key, segment, bal_bucket,
         CAST(count(*) AS BIGINT) AS group_size
  FROM q GROUP BY 1, 2, 3
)
SELECT nation_key, segment, bal_bucket, group_size,
       CAST(group_size < {K_ANON} AS INTEGER) AS at_risk
FROM g
""",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers
    (Sweeney 2002 — the data-governance check a pipeline runs BEFORE
    releasing joined training data, complementing doc_pii_scrub's
    content-level redaction): group by (nation, market segment,
    bucketed account balance) and flag every equivalence class smaller
    than k={K_ANON}, whose members a linkage attack can re-identify.
    The downstream remediation (suppress or generalize flagged rows)
    is a filter/coarsen over this same relation.

    Scale shape: ONE map-side-combinable aggregate at quasi-identifier
    width — never wider than the (small) identifier domain product; at
    100 TB this is the cheapest query in the engine."""
    c = table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nation_key"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET)
        .cast("bigint")
        .alias("bal_bucket"),
    )
    return (
        q.groupBy("nation_key", "segment", "bal_bucket")
        .agg(F.count("*").alias("group_size"))
        .select(
            "nation_key",
            "segment",
            "bal_bucket",
            "group_size",
            (F.col("group_size") < K_ANON).cast("int").alias("at_risk"),
        )
    )


# --- shuffle-key skew audit --------------------------------------------------
#: fact-table key columns the audit profiles (the join/aggregation keys
#: a pipeline actually shuffles events on); shared by the Spark plan
#: and the generated oracle so the two can never desynchronize
SKEW_AUDIT_KEYS = ["event_type", "user_id"]

#: hot-key head size for the concentration measure
SKEW_TOP_N = 10


def _skew_audit_col_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS key_col,
       CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(h.max_key_rows AS BIGINT) AS max_key_rows,
       h.hot_key,
       CAST(tp.top_rows AS BIGINT) AS top{SKEW_TOP_N}_rows,
       floor((CAST(h.max_key_rows AS DOUBLE)
              / (CAST(t.n_rows AS DOUBLE) / t.n_keys))
             * 1000000.0 + 0.5) / 1000000.0 AS skew_ratio,
       floor((CAST(tp.top_rows AS DOUBLE) / t.n_rows)
             * 1000000.0 + 0.5) / 1000000.0 AS top{SKEW_TOP_N}_share
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT CAST({col} AS VARCHAR)) AS BIGINT) AS n_keys
  FROM events WHERE {col} IS NOT NULL
) t
CROSS JOIN (
  SELECT CAST({col} AS VARCHAR) AS hot_key, CAST(count(*) AS BIGINT) AS max_key_rows
  FROM events WHERE {col} IS NOT NULL GROUP BY 1
  ORDER BY max_key_rows DESC, hot_key ASC LIMIT 1
) h
CROSS JOIN (
  SELECT CAST(sum(c) AS BIGINT) AS top_rows FROM (
    SELECT CAST({col} AS VARCHAR) AS k, count(*) AS c
    FROM events WHERE {col} IS NOT NULL
    GROUP BY 1 ORDER BY c DESC, k ASC
    LIMIT {SKEW_TOP_N}
  )
) tp
""".strip()


@register(
    "events_key_skew_audit",
    oracle="\nUNION ALL\n".join(
        _skew_audit_col_sql(c) for c in SKEW_AUDIT_KEYS
    ),
)
def events_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile of the fact table — the audit a 100 TB
    pipeline runs BEFORE choosing a join/aggregation strategy on a key
    (broadcast the other side? salt via functions/skew.salted_join?
    rely on AQE skew splitting?): per key column, total rows, distinct
    keys, the hottest key and its row count, the top-{SKEW_TOP_N}
    concentration, and skew_ratio = hottest / mean-per-key — the
    multiple by which the hot key overloads an average shuffle
    partition (≳ n_partitions means one straggler task owns the key).

    Scale shape, per audited column: one map-side-combinable
    count-per-key aggregate (|keys| wide — the same width any shuffle
    on that key would create), then O(1)-row statistics over the COUNT
    relation: the hottest key and the top-{SKEW_TOP_N} head are
    TakeOrderedAndProject (never a full sort), the totals one tiny
    aggregate.  The audited column list is compile-time shared with
    the oracle generator, so adding a key keeps parity by
    construction."""
    e = table(spark, sf_dir, "events")
    out = None
    for col in SKEW_AUDIT_KEYS:
        # EVERY aggregate — Spark and all three oracle CTEs — groups
        # on the SAME string-cast key expression (r7 ADVICE): for the
        # current keys the cast is injective so the values are
        # unchanged, and a future non-injectively-castable column
        # (e.g. a double) collapses identically in both engines
        # instead of silently desynchronizing plan and oracle.
        ne = e.where(F.col(col).isNotNull())
        key = F.col(col).cast("string")
        counts = ne.groupBy(key.alias("k")).agg(F.count("*").alias("c"))
        tot = ne.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
        )
        hot = (
            counts.orderBy(F.desc("c"), F.asc("k"))
            .limit(1)
            .select(
                F.col("k").alias("hot_key"),
                F.col("c").alias("max_key_rows"),
            )
        )
        top = (
            counts.orderBy(F.desc("c"), F.asc("k"))
            .limit(SKEW_TOP_N)
            .agg(F.sum("c").cast("bigint").alias("top_rows"))
        )
        row = (
            tot.crossJoin(F.broadcast(hot))
            .crossJoin(F.broadcast(top))
            .select(
                F.lit(col).alias("key_col"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_keys").cast("bigint").alias("n_keys"),
                F.col("max_key_rows").cast("bigint").alias("max_key_rows"),
                "hot_key",
                F.col("top_rows").alias(f"top{SKEW_TOP_N}_rows"),
                qround(
                    F.col("max_key_rows").cast("double")
                    / (F.col("n_rows").cast("double") / F.col("n_keys")),
                    R6,
                ).alias("skew_ratio"),
                qround(
                    F.col("top_rows").cast("double") / F.col("n_rows"), R6
                ).alias(f"top{SKEW_TOP_N}_share"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- join-explosion audit ------------------------------------------------------
#: audited (join_name, left table.key, right table.key) triples —
#: compile-time shared between the Spark plan and the oracle generator
#: (the skew-audit convention).  Keys must cast injectively to BIGINT.
EXPLOSION_AUDIT_JOINS = [
    ("events_self_user", ("events", "user_id"), ("events", "user_id")),
    ("events_customer", ("events", "user_id"), ("customer", "c_custkey")),
]


def _explosion_join_sql(name: str, left: tuple, right: tuple) -> str:
    lt, lk = left
    rt, rk = right
    return f"""
SELECT '{name}' AS join_name,
       CAST(l.n_rows AS BIGINT) AS left_rows,
       CAST(r.n_rows AS BIGINT) AS right_rows,
       CAST(j.n_keys AS BIGINT) AS n_join_keys,
       CAST(j.out_rows AS BIGINT) AS output_rows,
       CAST(h.max_out AS BIGINT) AS max_key_out,
       h.hot_key,
       floor((CAST(j.out_rows AS DOUBLE)
              / greatest(l.n_rows, r.n_rows)) * 1000000.0 + 0.5)
         / 1000000.0 AS amplification
FROM (
  SELECT count(*) AS n_rows FROM {lt} WHERE {lk} IS NOT NULL
) l
CROSS JOIN (
  SELECT count(*) AS n_rows FROM {rt} WHERE {rk} IS NOT NULL
) r
CROSS JOIN (
  SELECT count(*) AS n_keys, CAST(sum(prod) AS BIGINT) AS out_rows FROM (
    SELECT a.k, a.ca * b.cb AS prod
    FROM (SELECT CAST({lk} AS BIGINT) AS k, count(*) AS ca
          FROM {lt} WHERE {lk} IS NOT NULL GROUP BY 1) a
    JOIN (SELECT CAST({rk} AS BIGINT) AS k, count(*) AS cb
          FROM {rt} WHERE {rk} IS NOT NULL GROUP BY 1) b USING (k)
  )
) j
CROSS JOIN (
  SELECT CAST(k AS VARCHAR) AS hot_key, CAST(prod AS BIGINT) AS max_out FROM (
    SELECT a.k, a.ca * b.cb AS prod
    FROM (SELECT CAST({lk} AS BIGINT) AS k, count(*) AS ca
          FROM {lt} WHERE {lk} IS NOT NULL GROUP BY 1) a
    JOIN (SELECT CAST({rk} AS BIGINT) AS k, count(*) AS cb
          FROM {rt} WHERE {rk} IS NOT NULL GROUP BY 1) b USING (k)
  ) ORDER BY prod DESC, k ASC LIMIT 1
) h
""".strip()


@register(
    "events_join_explosion_audit",
    oracle="\nUNION ALL\n".join(
        _explosion_join_sql(n, l, r) for n, l, r in EXPLOSION_AUDIT_JOINS
    ),
)
def events_join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output-cardinality audit — the number a 100 TB pipeline
    checks BEFORE running a join, complementing events_key_skew_audit
    (skew profiles each side alone; explosion is the JOINT hazard:
    Σₖ n_left(k)·n_right(k) output rows, which a many-to-many key can
    push quadratic even when both sides look mildly skewed).  Per
    audited join: side row counts, matched key count, the EXACT output
    cardinality, the hottest key's contribution, and amplification =
    output / max(side) — ≫ 1 means materializing the join explodes and
    the plan should pre-aggregate, semi-join filter (operators/
    bloom.py), or cap per-key fanout first (the MAX_RATERS_PER_ITEM /
    bucket-cap discipline the CF and dedup families already apply).

    Scale shape per join: one count-per-key aggregate per side (the
    width any shuffle on that key already has), an equi-join of the
    two COUNT relations (each ≤ |keys| rows — never the fact tables),
    O(1)-row statistics via one tiny aggregate + TakeOrderedAndProject
    for the hot key.  Products/sums run in decimal(38,0) — a hot-key
    count product can overflow BIGINT at fact scale, and ANSI mode
    escalates that to a job failure (cast back after the aggregate,
    where the audited magnitudes are long again).

    The audited join list is compile-time shared with the oracle
    generator, and every key expression (Spark AND oracle, both
    sides) goes through the same BIGINT cast (the r7 skew-audit
    ADVICE convention)."""
    out = None
    for name, (lt, lk), (rt, rk) in EXPLOSION_AUDIT_JOINS:
        lf = table(spark, sf_dir, lt).where(F.col(lk).isNotNull())
        rf = table(spark, sf_dir, rt).where(F.col(rk).isNotNull())
        lkey = F.col(lk).cast("bigint")
        rkey = F.col(rk).cast("bigint")
        ca = lf.groupBy(lkey.alias("k")).agg(F.count("*").alias("ca"))
        cb = rf.groupBy(rkey.alias("k")).agg(F.count("*").alias("cb"))
        prods = ca.join(cb, "k").select(
            "k",
            (F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias("prod"),
        )
        l_tot = lf.agg(F.count("*").alias("left_rows"))
        r_tot = rf.agg(F.count("*").alias("right_rows"))
        j = prods.agg(
            F.count("*").alias("n_join_keys"),
            F.sum("prod").cast("bigint").alias("output_rows"),
        )
        h = (
            prods.orderBy(F.desc("prod"), F.asc("k"))
            .limit(1)
            .select(
                F.col("k").cast("string").alias("hot_key"),
                F.col("prod").cast("bigint").alias("max_key_out"),
            )
        )
        row = (
            l_tot.crossJoin(F.broadcast(r_tot))
            .crossJoin(F.broadcast(j))
            .crossJoin(F.broadcast(h))
            .select(
                F.lit(name).alias("join_name"),
                F.col("left_rows").cast("bigint").alias("left_rows"),
                F.col("right_rows").cast("bigint").alias("right_rows"),
                F.col("n_join_keys").cast("bigint").alias("n_join_keys"),
                "output_rows",
                "max_key_out",
                "hot_key",
                qround(
                    F.col("output_rows").cast("double")
                    / F.greatest(
                        F.col("left_rows").cast("double"),
                        F.col("right_rows").cast("double"),
                    ),
                    R6,
                ).alias("amplification"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
