"""Market-basket association analytics over the order/lineitem star.

The reference's sequential recommender mines temporal rules over
cluster tags (SequentialTopKRecommender.scala:468-533); the classic
non-temporal counterpart — co-occurrence lift over baskets — has no
reference implementation but is the standard "customers also bought"
analytic, and its pair join is the same capped-self-join shape as the
CF pair join (plans/recsys.py), so it slots into the engine's existing
scale story.

Scale shape: baskets are orders, and an order holds at most a handful
of lines (TPC-H max 7, this testdata max 13), so the per-basket pair
expansion is bounded by |basket|² — the self-join on the order key is
LINEAR in baskets, not quadratic in items.  A degenerate mega-basket
(one key holding millions of items) is the only hazard; ``max_basket``
drops baskets above a size cap BEFORE the pair join (the same
hot-key-cap idiom as MAX_RATERS_PER_ITEM), and the cap is a provable
no-op at any TPC-H-shaped sf.  The support floor keeps the output
relation small, and the final top-N plans TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround, qround_sql
from ..lifecycle import materialize
from ..sources.readers import table
from .registry import register

#: drop baskets larger than this before the pair self-join (hot-key
#: guard; testdata max basket is 13 lines, so this is a provable no-op
#: here while bounding the 100-TB worst case)
MAX_BASKET = 1000
#: a pair must co-occur in at least this many baskets
MIN_SUPPORT = 2
#: emit the N strongest associations
TOP_N = 100

_LIFT = "CAST(nab AS DOUBLE) * nb.n / (CAST(ia.c AS DOUBLE) * ib.c)"

#: the distinct (basket, item) relation the lift pair join runs on —
#: module constant so dedup_cap_audit's basket-size histogram replays
#: the generator's own bucket relation verbatim (caps.py discipline)
LIFT_B0_SQL = "SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem"


def lift_basket_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`LIFT_B0_SQL` — the exact distinct
    (ok, pk) relation ``cooccurrence_lift``'s first stage computes
    from the lineitem projection, shared with the cap audit."""
    return (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )


@register(
    # new in r4 (registry window full at 50); rotate REGISTERED in r5
    "item_cooccurrence_lift",
    oracle=f"""
WITH b0 AS ({LIFT_B0_SQL}),
sz AS (SELECT ok FROM b0 GROUP BY ok HAVING count(*) <= {MAX_BASKET}),
b AS (SELECT b0.* FROM b0 JOIN sz USING (ok)),
nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
p AS (
  SELECT x.pk AS part_a, y.pk AS part_b, CAST(count(*) AS BIGINT) AS nab
  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
s AS (
  SELECT part_a, part_b, nab,
         {qround_sql(_LIFT, 6)} AS lift
  FROM p
  JOIN ic ia ON ia.pk = part_a
  JOIN ic ib ON ib.pk = part_b
  CROSS JOIN nb
)
SELECT part_a, part_b, nab, lift
FROM s
ORDER BY lift DESC, part_a, part_b
LIMIT {TOP_N}
""",
)
def item_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N item associations by lift over order baskets:
    lift(a,b) = P(a,b) / (P(a)·P(b)) with probabilities over distinct
    baskets; pairs below the support floor are noise and dropped.
    Lift > 1 means the parts co-occur more than independence predicts
    — the batch "customers also bought" table."""
    return cooccurrence_lift(
        table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("basket_id"),
            F.col("l_partkey").alias("item_id"),
        )
    )


def cooccurrence_lift(
    pairs: DataFrame,
    max_basket: int = MAX_BASKET,
    min_support: int = MIN_SUPPORT,
    top_n: int = TOP_N,
) -> DataFrame:
    """Library form over any (basket_id, item_id) relation.

    Returns (part_a, part_b, nab, lift) for the ``top_n`` strongest
    associations (ties: ascending ids) among pairs co-occurring in at
    least ``min_support`` baskets of size ≤ ``max_basket``."""
    b0 = pairs.select(
        F.col("basket_id").alias("ok"), F.col("item_id").alias("pk")
    ).distinct()
    sz = (
        b0.groupBy("ok")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") <= max_basket)
        .select("ok")
    )
    # b feeds three consumers (item counts + both pair-join sides)
    b = materialize(b0.join(sz, "ok"), owner="market")
    # sz IS the distinct qualifying basket set — counting it avoids
    # re-running the join + a second distinct just for the total
    n_baskets = sz.count()  # O(1) model state
    ic = b.groupBy("pk").agg(F.count("*").alias("c"))
    x, y = b.alias("x"), b.alias("y")
    p = (
        x.join(
            y,
            (F.col("x.ok") == F.col("y.ok"))
            & (F.col("x.pk") < F.col("y.pk")),
        )
        .groupBy(
            F.col("x.pk").alias("part_a"), F.col("y.pk").alias("part_b")
        )
        .agg(F.count("*").alias("nab"))
        .where(F.col("nab") >= min_support)
    )
    ia = ic.select(F.col("pk").alias("part_a"), F.col("c").alias("ca"))
    ib = ic.select(F.col("pk").alias("part_b"), F.col("c").alias("cb"))
    lift = (
        F.col("nab").cast("double")
        * F.lit(n_baskets)
        / (F.col("ca").cast("double") * F.col("cb"))
    )
    # no broadcast hint: ic is |distinct items|-sized (unbounded at
    # 100 TB) — let Catalyst/AQE broadcast only when it actually fits
    s = (
        p.join(ia, "part_a")
        .join(ib, "part_b")
        .select("part_a", "part_b", "nab", qround(lift, 6).alias("lift"))
    )
    return s.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(top_n)
