"""events_dq_audit: the violation counters must actually fire —
the registered query's zeros on the clean corpus are meaningful only
if injected dirty rows are counted (oracle parity is covered by
tests/test_oracle_parity.py)."""

from __future__ import annotations

import datetime

from recsys_spark_spark.plans.relational import dq_audit


def test_dq_audit_counts_injected_violations(spark):
    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # clean rows
        (1, ts, 10, "view", 1.0, "{}"),
        (2, ts + datetime.timedelta(hours=1), 11, "click", 2.0, "{}"),
        # duplicate event_id
        (2, ts, 12, "view", 1.0, "{}"),
        # unknown type + negative value + malformed props
        (3, ts, 10, "teleport", -5.0, "not-json"),
        # nulls everywhere nullable
        (4, None, None, None, None, None),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = dq_audit(e).collect()[0].asDict()
    assert got["n_rows"] == 5
    assert got["n_event_ids"] == 4
    assert got["dup_event_ids"] == 1
    assert got["n_users"] == 3
    assert got["null_ts"] == 1
    assert got["null_user"] == 1
    assert got["null_type"] == 1
    assert got["null_value"] == 1
    assert got["null_props"] == 1
    assert got["unknown_type"] == 1
    assert got["negative_value"] == 1
    assert got["malformed_props"] == 1
    assert got["min_ts"] == ts
    assert got["max_ts"] == ts + datetime.timedelta(hours=1)


def test_quality_exprs_empty_text_is_zero_not_error(spark):
    """Regression (round 4): empty text makes length(text) a zero
    denominator in punct_ratio — ANSI Spark turned that into a
    DIVIDE_BY_ZERO job failure; must yield punct_ratio 0.0."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.text import quality_exprs

    df = spark.createDataFrame(
        [(1, ""), (2, "plain text here")], "doc_id bigint, text string"
    )
    n_tokens, stop_ratio, punct_ratio, quality = quality_exprs("text")
    rows = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", punct_ratio.alias("p")).collect()
    }
    assert rows[1] == 0.0
    assert rows[2] == 0.0


def test_hybrid_normalize_zero_max_is_null_not_error(spark):
    """Regression (round 4): a user whose child scores are all exactly
    0 makes max(score) a zero denominator in the hybrid blend; must
    yield NULL wscore (other child still counts), not an ANSI error."""
    from recsys_spark_spark.recommenders.hybrid import hybrid_topk

    a = spark.createDataFrame(
        [(1, 10, 0.0), (1, 11, 0.0)], "user_id int, item_id int, score double"
    )
    b = spark.createDataFrame(
        [(1, 10, 2.0), (1, 12, 1.0)], "user_id int, item_id int, score double"
    )
    rows = hybrid_topk(a, b, 0.6, 0.4, k_items=5).collect()
    got = {r["item_id"]: r["score"] for r in rows}
    # item 10: user-axis wscore NULL (max=0), item-axis 0.4*2/2 = 0.4
    assert got[10] == 0.4
    assert got[12] == 0.2
    # the all-zero axis contributes nothing; item 11 has only NULL -> sum NULL
    assert 11 in got and rows != []


def test_ranking_metrics_dedupe_relevant_rows(spark):
    """Regression (round 4): duplicate (user, item) rows in the
    relevant set multiplied the hits join and pushed P@k past 1.0;
    the metric must use set semantics like the reference."""
    from recsys_spark_spark.metrics.evaluation import ranking_metrics

    rec = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "user_id int, item_id int, rank int"
    )
    rel_dup = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10)], "user_id int, item_id int"
    )
    row = ranking_metrics(spark, rec, rel_dup, k=2).collect()[0]
    assert row["p_at_k"] == 0.5  # 1 hit of k=2, not 3/2
    assert row["r_at_k"] == 1.0


def test_ranking_metrics_dedupe_recommended_rows(spark):
    """Set semantics on the recommended side too: a (user, item) row
    repeated, or recommended at two ranks, is one hit at its best
    rank."""
    from recsys_spark_spark.metrics.evaluation import ranking_metrics

    rec_dup = spark.createDataFrame(
        [(1, 10, 2), (1, 10, 2), (1, 10, 1), (1, 11, 2)],
        "user_id int, item_id int, rank int",
    )
    rel = spark.createDataFrame([(1, 10), (1, 12)], "user_id int, item_id int")
    row = ranking_metrics(spark, rec_dup, rel, k=2).collect()[0]
    assert row["p_at_k"] == 0.5  # 1 hit of k=2, not 3/2
    assert row["r_at_k"] == 0.5
    assert row["rr_at_k"] == 1.0  # the best rank of item 10


def test_key_skew_audit_planted_hot_key(spark, tmp_path):
    """Planted skew must be measured, not asserted: user 7 owns 51 of
    59 rows (50 planted + one from the j%9 tail) over 9 distinct users
    → skew_ratio = 51/(59/9) ≈ 7.78, hot_key '7', top10_share = 1.0
    (9 keys fit in the head); event_type 'click' dominates 50:9."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.relational import events_key_skew_audit

    rows = [(i, "2024-01-01", 7, "click", 1.0, None) for i in range(50)] + [
        (50 + j, "2024-01-01", j % 9, "view", 1.0, None) for j in range(9)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["key_col"]: r
        for r in events_key_skew_audit(spark, str(tmp_path)).collect()
    }
    u = out["user_id"]
    assert (u["n_rows"], u["n_keys"], u["max_key_rows"]) == (59, 9, 51)
    assert u["hot_key"] == "7"
    assert abs(u["skew_ratio"] - round(51 / (59 / 9), 6)) < 2e-6
    assert u["top10_share"] == 1.0
    t = out["event_type"]
    assert t["n_keys"] == 2 and t["hot_key"] == "click"


def test_join_explosion_audit_planted_fanout(spark, tmp_path):
    """Planted many-to-many fanout must be measured exactly: user 1
    has 10 events and 3 customer rows (a deliberately denormalized
    dim), user 2 has 5 and 1, user 3 has 2 events and no customer row.
    events_customer: output = 10·3 + 5·1 = 35 over 2 matched keys,
    hot key '1' at 30, amplification = 35/17; events_self_user:
    output = 10² + 5² + 2² = 129, amplification = 129/17."""
    from pyspark.sql import functions as F

    from recsys_spark_spark.plans.relational import (
        events_join_explosion_audit,
    )

    ev = [(i, "2024-01-01", 1, "click", 1.0, None) for i in range(10)]
    ev += [(10 + i, "2024-01-01", 2, "view", 1.0, None) for i in range(5)]
    ev += [(15 + i, "2024-01-01", 3, "view", 1.0, None) for i in range(2)]
    spark.createDataFrame(
        ev,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    cust = [(1, "a"), (1, "b"), (1, "c"), (2, "d"), (9, "e")]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))

    out = {
        r["join_name"]: r
        for r in events_join_explosion_audit(spark, str(tmp_path)).collect()
    }
    ec = out["events_customer"]
    assert (ec["left_rows"], ec["right_rows"]) == (17, 5)
    assert (ec["n_join_keys"], ec["output_rows"]) == (2, 35)
    assert (ec["hot_key"], ec["max_key_out"]) == ("1", 30)
    assert abs(ec["amplification"] - round(35 / 17, 6)) < 2e-6
    es = out["events_self_user"]
    assert (es["n_join_keys"], es["output_rows"]) == (3, 129)
    assert (es["hot_key"], es["max_key_out"]) == ("1", 100)
    assert abs(es["amplification"] - round(129 / 17, 6)) < 2e-6
