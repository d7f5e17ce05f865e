"""salted_join must equal a plain join (it is a partitioning
transform, not a semantic one)."""

from __future__ import annotations

from pyspark.sql import functions as F

from recsys_spark_spark.functions.skew import salted_join
from recsys_spark_spark.sources.readers import table


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    plain = li.join(o, "l_orderkey").groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s"),
        F.sum("o_custkey").alias("c")
    ).first()
    salted = salted_join(li, o, "l_orderkey", n_salts=8).groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s"),
        F.sum("o_custkey").alias("c")
    ).first()
    assert (plain["n"], plain["c"]) == (salted["n"], salted["c"])
    assert abs(plain["s"] - salted["s"]) < 1e-6


def test_aqe_splits_a_planted_hot_join_key(spark):
    """The session's AQE skew-join split fires on a planted hot key
    (``skew=true`` in the final plan) and changes no result: every
    fact row matches its one dimension row, and the hash equals the
    split-off run's."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in [*confs, "spark.sql.adaptive.skewJoin.enabled"]}

    def run():
        # incompressible payload: skew detection reads compressed
        # map-output sizes
        fact = spark.range(0, 6000, 1, 6).select(
            F.when(F.col("id") < 5000, 0).otherwise(F.col("id") % 100 + 1).alias("k"),
            F.col("id").alias("fid"),
            F.md5(F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 7).alias("dval"))
        agg = fact.join(dim, "k").selectExpr(
            "count(*) AS n", "bit_xor(xxhash64(k, fid, dval, pay)) AS h"
        )
        row = agg.collect()[0]
        return row, agg._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        split, plan = run()
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        plain, plain_plan = run()
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "skew=true" in plan and "skew=true" not in plain_plan
    assert split["n"] == 6000 and split == plain
