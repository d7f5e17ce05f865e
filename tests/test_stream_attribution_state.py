"""State-plateau pin for the streaming attribution interval join:
the full-scale run (PERF.md, "Streaming attribution: 7-day-lookback
join state measured") saw the join state plateau at ~2.05M rows over
a doubling 3.9M-event corpus — state tracks the WATERMARK HORIZON,
never the corpus.  This test replays the same closed-form layout at
1/50 scale so the bound assertion fails loud in CI if an eviction
regression (watermark lost, wrong join condition retention,
state-store leak) ever reappears.

Layout (the full-scale run's, scaled): blocks 2 days apart, 7-day
lookback, 8-day watermark.  Per side the horizon admits at most
ceil((7d+8d)/2d)+lag blocks of views and ceil(8d/2d)+lag blocks of
purchases — a constant number of blocks, so doubling B doubles the
corpus but NOT the admissible state.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

U_A = 2_000  # attributed users per block (full scale: 100k)
U_D = 1_000  # direct users per block (full scale: 50k)
B = 26
BLOCK_S = 2 * 86400
T0 = "2024-01-20 12:00:00"


def _write_blocks(spark, path: str) -> int:
    for b in range(B):
        base_ts = F.to_timestamp(F.lit(T0)) + F.make_interval(
            secs=F.lit(float(b * BLOCK_S))
        )
        pa = spark.range(U_A).select(
            (F.lit(b) * 1_000_000 + F.col("id") * 4).alias("event_id"),
            base_ts.alias("ts"),
            F.col("id").alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        va = spark.range(U_A).select(
            (F.lit(b) * 1_000_000 + F.col("id") * 4 + 1).alias("event_id"),
            (base_ts - F.make_interval(secs=F.lit(3600.0))).alias("ts"),
            F.col("id").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        pd_ = spark.range(U_D).select(
            (F.lit(b) * 1_000_000 + F.col("id") * 4 + 2).alias("event_id"),
            base_ts.alias("ts"),
            (F.lit(1_000_000_000) + F.col("id")).alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        va.unionByName(pa).unionByName(pd_).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    return B * (2 * U_A + U_D)


def test_attribution_join_state_bounded_by_horizon(spark, tmp_path):
    from recsys_spark_spark.streaming.joins import (
        attribution_view_pairs_stream,
    )
    from recsys_spark_spark.streaming.windows import read_events_stream

    path = str(tmp_path / "events")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    n_total = _write_blocks(spark, path)

    ev = read_events_stream(
        spark, path, max_files_per_trigger=2, glob="*.parquet"
    )
    pairs = attribution_view_pairs_stream(
        ev, lookback="7 days", watermark="8 days"
    )
    q = (
        pairs.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = [p for p in q.recentProgress if p["stateOperators"]]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    shutil.rmtree(ck, ignore_errors=True)

    assert len(prog) >= 10, "multi-trigger requirement (eviction unobservable)"
    # per-side horizon bound (module docstring): views outlive the
    # purchase watermark past v_ts + lookback -> ceil((7d+8d)/2d)=8
    # (+3 trigger-lag) blocks; purchases outlive the view watermark
    # past p_ts -> ceil(8d/2d)=4 (+3) blocks
    horizon_bound = 11 * U_A + 7 * (U_A + U_D)
    assert max(state_rows) <= horizon_bound, (
        f"state {max(state_rows):,} exceeds the horizon bound "
        f"{horizon_bound:,} — eviction regressed"
    )
    # the plateau evidence: the corpus is ≥2x the admitted state (the
    # full-scale run measured 1.9x at 50x this scale), so state ∝ horizon,
    # not corpus
    assert max(state_rows) * 2 < n_total, (
        f"eviction not visible: state {max(state_rows):,} ~ corpus "
        f"{n_total:,}"
    )
    # closed form: an attributed purchase pairs with its own block's
    # view (1 h back) and the three earlier blocks' (2, 4, 6 days + 1 h
    # back, inside the 7-day lookback); direct users never pair
    pairs_out = spark.read.parquet(store)
    assert pairs_out.count() == U_A * sum(min(b + 1, 4) for b in range(B))
    gaps = (
        pairs_out.groupBy("purchase_id", "p_ts")
        .agg(F.max("v_ts").alias("v_ts"))
        .groupBy(F.timestamp_diff("SECOND", "v_ts", "p_ts").alias("gap"))
        .count()
        .collect()
    )
    assert [(r["gap"], r["count"]) for r in gaps] == [(3600, B * U_A)]
