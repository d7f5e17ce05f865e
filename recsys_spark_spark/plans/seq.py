"""Oracle-backed queries for the SQL-expressible sequential-pipeline
stages (SURVEY A4/A5, W2-W4, U2/U3/U6, E4/J6).

The full sequential recommender (plans/recsys.py::sequential_topk)
has no oracle because KMeans + FPGrowth are not SQL-expressible; the
round-1 verdict flagged that the *deterministic* stages around them
ride on property tests alone.  These queries exercise each stage with
a DuckDB value-hash oracle:

- ``seq_periods``    — W2/W4 computed-duration periods with the
                       overflow clamp and the degenerate-span guard;
- ``seq_sequences``  — U3 period-tagged sequence build, with the
                       KMeans stage replaced by a deterministic
                       md5-derived pseudo-cluster (cluster ids feed
                       the SAME product code path ``_sequences``);
- ``seq_rule_support`` — J6/U6 broadcast-rules subset-test support
                       recompute over a fixed literal rule set.

Basket contents are reported as (n_items, md5 signature of the sorted
item list) rather than raw arrays so the driver's value-hash harness
compares scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import qround
from ..lifecycle import materialize
from ..operators.dedup import hash60, hash60_sql
from ..recommenders.sequential import SequentialTopK, rule_counts
from ..sources.readers import table
from .registry import register

N_PERIODS = 5
N_PSEUDO_CLUSTERS = 9  # = default 3×3 SOM grid (M12)

INTER_CTE = """
inter AS (
  SELECT o.o_custkey AS user_id, l.l_partkey AS item_id, l.l_shipdate AS ts
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
""".strip()

BASKETS_CTE = """
b AS (
  SELECT user_id, ts,
         list(CAST(item_id AS VARCHAR) ORDER BY CAST(item_id AS VARCHAR)) AS items
  FROM inter GROUP BY 1, 2
)
""".strip()

PERIODS_CTE = f"""
bounds AS (SELECT min(epoch(ts)) AS t0, max(epoch(ts)) AS t1 FROM b),
p AS (
  SELECT user_id, ts, items,
         CAST(least(floor((epoch(ts) - t0)
                          / greatest((t1 - t0) / {N_PERIODS}.0, 1e-9)),
                    {N_PERIODS - 1}) AS INT) AS period_id
  FROM b, bounds
)
""".strip()

CLUSTERS_CTE = f"""
c AS (
  SELECT DISTINCT user_id, period_id,
         CAST({hash60_sql("md5(array_to_string(items, ','))")} % {N_PSEUDO_CLUSTERS}
              AS INT) AS cluster
  FROM p
)
""".strip()


def _interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    return lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
        F.col("l_shipdate").alias("ts"),
    )


def _basket_sig() -> F.Column:
    return F.md5(F.concat_ws(",", F.sort_array("items")).cast("binary"))


@register(
    "seq_baskets_periods",
    oracle=f"""
WITH {INTER_CTE},
{BASKETS_CTE},
{PERIODS_CTE}
SELECT user_id, ts, CAST(len(items) AS INTEGER) AS n_items,
       md5(array_to_string(items, ',')) AS basket_sig,
       period_id
FROM p
""",
)
def seq_baskets_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + W2/W4 in one row set (merged from the former seq_baskets +
    seq_periods registry entries — same (user, ts) grain):

    - one basket per (user, ts) — the reference's transaction table
      build (SequentialTopKRecommender.scala:243-245), sparse string
      arrays instead of the dense binary vector (U1); contents
      value-checked via (n_items, md5 of the sorted item list);
    - n equal periods over the observed span, overflow clamped into
      the last period (SequentialTopKRecommender.scala:349-386) —
      pure column math replacing the reference's
      orderBy+monotonically_increasing_id hazard (W3) and the
      string-parsing UDF (U2)."""
    model = SequentialTopK(n_periods=N_PERIODS)
    p = model._with_periods(model._baskets(_interactions(spark, sf_dir)))
    return p.select(
        "user_id",
        "ts",
        F.size("items").alias("n_items"),
        _basket_sig().alias("basket_sig"),
        "period_id",
    )


@register(
    "seq_sequences",
    oracle=f"""
WITH {INTER_CTE},
{BASKETS_CTE},
{PERIODS_CTE},
{CLUSTERS_CTE}
SELECT user_id,
       CAST(row_number() OVER (
              PARTITION BY user_id ORDER BY period_id, cluster) - 1
            AS INTEGER) AS pos,
       cluster || '_' || (period_id - {N_PERIODS - 1}) AS tag
FROM c
""",
)
def seq_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/A5: period-tagged cluster sequences through the REAL
    ``_sequences`` product path, with KMeans ids replaced by a
    deterministic md5 pseudo-cluster (= hash of the basket signature
    mod 9) so the stage is oracle-checkable; the tag grammar
    "{{cluster}}_{{relperiod}}" is the reference's
    (SequentialTopKRecommender.scala:427)."""
    model = SequentialTopK(n_periods=N_PERIODS)
    p = model._with_periods(model._baskets(_interactions(spark, sf_dir)))
    clustered = p.withColumn(
        "transaction_cluster",
        (hash60(_basket_sig()) % N_PSEUDO_CLUSTERS).cast("int"),
    )
    seqs = model._sequences(clustered)
    return seqs.select("user_id", F.posexplode("items").alias("pos", "tag"))


#: fixed literal rule set for the support-recompute oracle — tags exist
#: in the sf0.01 pseudo-cluster stream (~900 users carry each tag)
RULES = [
    (1, ["5_-1"], ["5_0"]),
    (2, ["4_-2", "4_-3"], ["0_0"]),
    (3, ["6_-4"], ["1_0"]),
    (4, ["0_-1", "9_9"], ["0_0"]),  # impossible antecedent → zero counts
]


def _rules_values_sql() -> str:
    rows = []
    for rid, ant, cons in RULES:
        a = "[" + ", ".join(f"'{x}'" for x in ant) + "]"
        c = "[" + ", ".join(f"'{x}'" for x in cons) + "]"
        rows.append(f"({rid}, {a}, {c})")
    return ", ".join(rows)


@register(
    "seq_rule_support",
    oracle=f"""
WITH {INTER_CTE},
{BASKETS_CTE},
{PERIODS_CTE},
{CLUSTERS_CTE},
seqs AS (
  SELECT user_id, list(cluster || '_' || (period_id - {N_PERIODS - 1})
                       ORDER BY period_id, cluster) AS items
  FROM c GROUP BY 1
),
rules(rule_id, antecedent, consequent) AS (VALUES {_rules_values_sql()}),
n AS (SELECT count(*) AS n_seq FROM seqs),
counts AS (
  SELECT r.rule_id,
         CAST(sum(CASE WHEN list_has_all(s.items, list_concat(r.antecedent, r.consequent))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_xy,
         CAST(sum(CASE WHEN list_has_all(s.items, r.antecedent)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ant
  FROM seqs s, rules r
  GROUP BY 1
)
SELECT rule_id, n_xy, n_ant,
       floor((CAST(n_xy AS DOUBLE) / n.n_seq) * 1000000.0 + 0.5) / 1000000.0 AS support,
       CASE WHEN n_ant > 0
            THEN floor((CAST(n_xy AS DOUBLE) / n_ant) * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS confidence
FROM counts, n
""",
)
def seq_rule_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/U6: support/confidence recompute for a fixed rule set over
    the pseudo-clustered sequences — the broadcast-join replacement
    for the reference's collected-transactions closure
    (SequentialTopKRecommender.scala:492-504), exercised through the
    same ``rule_counts`` used by ``SequentialTopK._mine_rules``."""
    model = SequentialTopK(n_periods=N_PERIODS)
    p = model._with_periods(model._baskets(_interactions(spark, sf_dir)))
    clustered = p.withColumn(
        "transaction_cluster",
        (hash60(_basket_sig()) % N_PSEUDO_CLUSTERS).cast("int"),
    )
    # seqs feeds three actions (n_seq count, the tag-alphabet collect
    # inside rule_counts, the final counts aggregation) — persist so
    # the orders⋈lineitem + basket/period/sequence DAG runs once
    seqs = materialize(model._sequences(clustered), owner="seq")
    rules = spark.createDataFrame(RULES, ["rule_id", "antecedent", "consequent"])
    n_seq = seqs.count()
    counts = rule_counts(seqs, rules)
    return counts.select(
        "rule_id",
        F.col("n_xy").cast("bigint").alias("n_xy"),
        F.col("n_ant").cast("bigint").alias("n_ant"),
        qround(F.col("n_xy") / F.lit(float(n_seq)), 6).alias("support"),
        F.when(
            F.col("n_ant") > 0, qround(F.col("n_xy") / F.col("n_ant"), 6)
        ).otherwise(F.lit(0.0)).alias("confidence"),
    )
